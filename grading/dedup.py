"""Deduplication queries: exact, shingle-Jaccard, MinHash-LSH, SimHash,
prefix-filter and sorted-neighborhood pairs, embedding near-duplicates,
keep-lists, shared passages, fuzzy names and benchmark contamination.
Each is declared once, with its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_last_fm_spark.operators import dedup as dedup_ops
from etl_pipeline_last_fm_spark.operators import fuzzy as fuzzy_ops
from etl_pipeline_last_fm_spark.operators import text as text_ops
from etl_pipeline_last_fm_spark.operators.contamination import benchmark_contamination
from etl_pipeline_last_fm_spark.operators.setsim import (
    prefix_filter_pairs,
    sorted_neighborhood_pairs,
    sorted_neighborhood_pairs_multipass,
)
from etl_pipeline_last_fm_spark.operators.similarity import hyperplanes
from etl_pipeline_last_fm_spark.sources.tables import load_table

from grading.similarity import lsh_bucket_oracle_expr
from grading.spec import oracle, portable_hash60_sql


def benchmark_contamination_oracle_sql(
    n: int = 8, bench_pred: str = "doc_id % 25 = 0", min_hits: int = 1
) -> str:
    """DuckDB twin for the documents-table query (bench = ``bench_pred``
    slice, train = the rest). Same tokenization, same distinct-shingle
    semantics, same rounding."""
    cols = ", ".join(f"t[i+{j + 1}]" for j in range(n))
    return f"""
        WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             sh AS (
                 SELECT doc_id,
                        unnest(list_distinct(list_transform(
                            range(greatest(len(t) - {n}, 0) + 1),
                            i -> concat_ws(' ', {cols})))) AS sh
                 FROM toks
             ),
             train_sh AS (SELECT * FROM sh WHERE NOT ({bench_pred})),
             bench_sh AS (SELECT DISTINCT sh FROM sh WHERE {bench_pred}),
             totals AS (SELECT doc_id, count(*) AS n_shingles FROM train_sh GROUP BY doc_id),
             hits AS (
                 SELECT doc_id, count(*) AS contaminated
                 FROM train_sh WHERE sh IN (SELECT sh FROM bench_sh)
                 GROUP BY doc_id HAVING count(*) >= {min_hits}
             )
        SELECT h.doc_id, t.n_shingles, h.contaminated,
               FLOOR(CAST(h.contaminated AS DOUBLE) / t.n_shingles * 10000.0 + 0.5)
                 / 10000.0 AS contamination_ratio
        FROM hits h JOIN totals t ON h.doc_id = t.doc_id
    """


def minhash_lsh_pairs_oracle_sql(shingle_len: int = 3, verify_threshold: float = 0.5) -> str:
    """DuckDB oracle for minhash_lsh_pairs: the exact shingle-Jaccard TRUTH
    set (every pair with exact Jaccard >= threshold), computed pairwise.

    This is a legitimate value oracle — not a re-implementation of the hash
    path — because the operator's *output contract* is "verified pairs at
    >= threshold" and its only approximation is banded-LSH candidate recall.
    With r=4 rows/band x 8 bands the miss probability at Jaccard j is
    (1 - j^4)^8: ~2e-4 at j=0.9, ~2e-6 at j=0.95. Measured on the driver's
    sf0.01 corpus: NO pair has exact 3-shingle Jaccard in [0.2, 0.9) — all
    25 true pairs sit at j >= 0.9 — so LSH recall is 1.0 here and Spark
    output == truth set (tests/test_oracle_parity.py keeps this honest at
    sf0.001). The oracle is quadratic but only ever runs at correctness SF.
    """
    s = shingle_len
    cols = ", ".join(f"t[i+{j + 1}]" for j in range(s))
    return f"""
        WITH sh AS MATERIALIZED (
                 SELECT doc_id,
                        list_distinct(list_transform(range(greatest(len(t) - {s}, 0) + 1),
                                       i -> concat_ws(' ', {cols}))) AS shingles
                 FROM (SELECT doc_id, string_split(trim(text), ' ') AS t
                       FROM documents
                       -- explicit (round-9 nulls sweep): NULL text docs
                       -- shingle to nothing on both engines
                       WHERE text IS NOT NULL)),
             sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
             rows_ AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             -- sparse intersection: only doc pairs sharing >=1 shingle ever
             -- materialize (a pair with no shared shingle has j = 0, below
             -- any positive threshold) -- same truth set as all-pairs
             inter AS (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
                 FROM rows_ a JOIN rows_ b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
             pairs AS (
                 SELECT doc_a, doc_b,
                        CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
                 FROM inter
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b)
        SELECT doc_a, doc_b, FLOOR(j * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM pairs WHERE j >= {verify_threshold}
    """


def embedding_near_dups_oracle_sql(threshold: float) -> str:
    """DuckDB twin of the exact pairwise embedding_near_dups (same cosine,
    same threshold side, same floor-trick rounding as sim_bruteforce)."""
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             pairs AS (
                 SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                        list_dot_product(a.e, b.e)
                          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
                          AS s
                 FROM v a JOIN v b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, FLOOR(s * 10000.0 + 0.5) / 10000.0 AS sim
        FROM pairs WHERE s >= {threshold}
    """


def embedding_near_dups_blocked_oracle_sql(
    threshold: float, n_planes: int = 8, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB twin of embedding_near_dups_blocked: identical hyperplane
    buckets (plane literals from the shared seed — see
    lsh_bucket_oracle_expr), same-bucket pairwise cosine."""
    bucket = lsh_bucket_oracle_expr("e", hyperplanes(dim, n_planes, seed))
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             bk AS (SELECT vec_id, e, {bucket} AS bucket FROM v),
             pairs AS (
                 SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                        list_dot_product(a.e, b.e)
                          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
                          AS s
                 FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, FLOOR(s * 10000.0 + 0.5) / 10000.0 AS sim
        FROM pairs WHERE s >= {threshold}
    """


def simhash_near_dups_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB twin of simhash_near_dups_blocked(portable=True): the signature
    is recomputed bit-identically (portable_hash60 token hash, same ±1
    per-bit balance, same >0 sign rule), and the pair set is the pairwise
    Hamming truth — valid as an oracle for the blocked form because
    pigeonhole blocking has recall 1.0 by construction (any pair within
    max_hamming flips agrees exactly on ≥1 chunk)."""
    n_bits = 60
    th = portable_hash60_sql("t")
    sums = ",\n                        ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(n_bits)
    )
    sig = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)" for j in range(n_bits))
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
        ),
        th AS (SELECT doc_id, {th} AS h FROM tok),
        sums AS (SELECT doc_id, {sums}
                 FROM th GROUP BY doc_id),
        sig AS (SELECT doc_id, {sig} AS simhash FROM sums)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def dedup_keep_list_oracle_sql(shingle_len: int = 3, verify_threshold: float = 0.5) -> str:
    """DuckDB twin of dedup_keep_list: the exact-Jaccard truth pairs (valid
    for the LSH pair set — see minhash_lsh_pairs_oracle_sql for the recall
    argument) closed transitively with a RECURSIVE CTE, then min per node.
    An independent fixpoint implementation checking the iterative Spark
    label propagation."""
    pair_sql = minhash_lsh_pairs_oracle_sql(shingle_len, verify_threshold)
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({pair_sql}),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id, min(dst) AS keep_id, src <> min(dst) AS is_dup
        FROM reach GROUP BY src
    """


def embedding_keep_list_oracle_sql(threshold: float, n_planes: int = 8) -> str:
    """DuckDB twin: the blocked-pair SQL (identical plane literals) closed
    transitively by a RECURSIVE CTE — same independent-fixpoint pattern as
    dedup_keep_list_oracle_sql."""
    pair_sql = embedding_near_dups_blocked_oracle_sql(threshold, n_planes)
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({pair_sql}),
        edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS vec_id, min(dst) AS keep_id, src <> min(dst) AS is_dup
        FROM reach GROUP BY src
    """


def shared_passage_stats_oracle_sql(window_tokens: int = 8) -> str:
    """DuckDB twin of shared_passage_stats over the documents table."""
    w = window_tokens
    h = portable_hash60_sql(f"array_to_string(list_slice(toks, i * {w} + 1, i * {w} + {w}), ' ')")
    return f"""
        WITH d AS (
            SELECT doc_id, string_split(trim(text), ' ') AS toks,
                   CAST(floor(len(string_split(trim(text), ' ')) / {w}.0) AS BIGINT) AS nc
            FROM documents
        ),
        c AS (
            SELECT doc_id, CAST(unnest(range(0, nc)) AS INTEGER) AS i, toks
            FROM d WHERE nc >= 1
        ),
        hh AS (SELECT doc_id, {h} AS h FROM c),
        g AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hh GROUP BY h),
        s AS (
            SELECT hh.doc_id,
                   COUNT(*) AS n_chunks,
                   SUM(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS n_shared
            FROM hh JOIN g USING (h) GROUP BY hh.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(s.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
               CASE WHEN COALESCE(s.n_chunks, 0) > 0
                    THEN FLOOR(s.n_shared * 1000000.0 / s.n_chunks + 0.5) / 1000000.0
                    ELSE 0.0 END AS shared_frac
        FROM d LEFT JOIN s USING (doc_id)
    """


def fuzzy_name_pairs_oracle_sql(
    table: str,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    max_block_size: int | None = None,
) -> str:
    """DuckDB twin (head-token blocking form): DuckDB's levenshtein has no
    threshold parameter, so the full distance is computed and filtered —
    same result set, the banded early-exit is a Spark-side cost optimization
    only. ``max_block_size`` must MATCH the Spark call's guard: if only one
    side drops hot blocks, parity silently becomes scale-dependent (fine at
    a SF where no block exceeds the cap, a mismatch at the first SF where
    one does)."""
    cap = (
        f"""
        , sizes AS (
            SELECT blk FROM n GROUP BY blk HAVING COUNT(*) <= {max_block_size}
        ), nc AS (SELECT n.* FROM n JOIN sizes USING (blk))
        """
        if max_block_size is not None
        else ", nc AS (SELECT * FROM n)"
    )
    return f"""
        WITH n AS (
            SELECT {id_col} AS id,
                   lower(trim({name_col})) AS nm,
                   split_part(lower(trim({name_col})), ' ', 1) AS blk
            FROM {table}
        ){cap}
        SELECT a.id AS id_a, b.id AS id_b, a.nm AS name_a, b.nm AS name_b,
               CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
        FROM nc a JOIN nc b
          ON a.blk = b.blk
         AND a.id < b.id
         AND abs(length(a.nm) - length(b.nm)) <= {max_dist}
         AND levenshtein(a.nm, b.nm) <= {max_dist}
    """


def prefix_filter_pairs_oracle_sql(
    threshold_num: int = 1, threshold_den: int = 2, shingle_len: int = 3
) -> str:
    """DuckDB oracle: the all-pairs shingle-Jaccard truth set with the SAME
    integer threshold comparison. Unlike the minhash oracle (where equality
    holds only because LSH recall is 1.0 on this corpus), here equality is
    a THEOREM — prefix filtering is lossless — so this oracle checks the
    operator on any corpus, at any threshold."""
    s = shingle_len
    cols = ", ".join(f"t[i+{j + 1}]" for j in range(s))
    return f"""
        WITH sh AS MATERIALIZED (
                 SELECT doc_id,
                        list_distinct(list_transform(range(greatest(len(t) - {s}, 0) + 1),
                                       i -> concat_ws(' ', {cols}))) AS shingles
                 FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)),
             sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
             rows_ AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
             inter AS (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
                 FROM rows_ a JOIN rows_ b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
             pairs AS (
                 SELECT doc_a, doc_b, c, sa.n + sb.n - c AS u
                 FROM inter
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b)
        SELECT doc_a, doc_b,
               FLOOR(CAST(c AS DOUBLE) / u * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM pairs WHERE c * {threshold_den} >= {threshold_num} * u
    """


def sorted_neighborhood_pairs_oracle_sql(
    window: int = 10,
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_len: int = 3,
    multipass: bool = False,
) -> str:
    """DuckDB twin: identical rank (ROW_NUMBER ORDER BY trim(text),
    doc_id), identical window, identical verification; with
    ``multipass`` the reversed-key pass's candidates union in."""
    s = shingle_len
    cols = ", ".join(f"t[i+{j + 1}]" for j in range(s))
    rev_cte = f"""
        ranked2 AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY reverse(trim(text)), doc_id) AS r
            FROM documents
        ),"""
    rev_union = f"""
            UNION
            SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
            FROM ranked2 a JOIN ranked2 b
              ON b.r > a.r AND b.r <= a.r + {window - 1}"""
    return f"""
        WITH ranked AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY trim(text), doc_id) AS r
            FROM documents
        ),{rev_cte if multipass else ""}
        cands AS (
            SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                            greatest(a.doc_id, b.doc_id) AS doc_b
            FROM ranked a JOIN ranked b
              ON b.r > a.r AND b.r <= a.r + {window - 1}
            {rev_union if multipass else ""}
        ),
        sh AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct(list_transform(range(greatest(len(t) - {s}, 0) + 1),
                                  i -> concat_ws(' ', {cols}))) AS shingles
            FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
            WHERE doc_id IN (SELECT doc_a FROM cands UNION SELECT doc_b FROM cands)
        ),
        verified AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.shingles, sb.shingles)) AS c,
                   len(sa.shingles) + len(sb.shingles)
                     - len(list_intersect(sa.shingles, sb.shingles)) AS u
            FROM cands
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b
        )
        SELECT doc_a, doc_b,
               FLOOR(CAST(c AS DOUBLE) / u * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM verified WHERE c * {threshold_den} >= {threshold_num} * u
    """


def fingerprint_overlap_oracle_sql(min_shared: int = 5, k: int = 16, window: int = 8) -> str:
    """DuckDB twin of fingerprint_overlap_pairs(portable=True): identical
    gram positions (1-based substring), identical portable_hash60 gram hash,
    identical full-window filter (max(G - w + 1, 1) windows), then the same
    fingerprint equi-join."""
    gh = portable_hash60_sql(f"substring(text, pos, {k})")
    return f"""
        WITH g AS (
            SELECT doc_id, text,
                   CAST(unnest(range(1, greatest(length(text) - {k} + 1, 1) + 1)) AS INTEGER) AS pos
            FROM documents
        ),
        gh AS (
            SELECT doc_id, pos, {gh} AS gh,
                   greatest(length(text) - {k - 1}, 1) AS ng
            FROM g
        ),
        wm AS (
            SELECT doc_id, pos, ng,
                   min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp
            FROM gh
        ),
        fps AS (
            SELECT DISTINCT doc_id, fp FROM wm
            WHERE pos <= greatest(ng - {window - 1}, 1)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}
    """


@oracle("""
            SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup_groups(docs)


@oracle("""
            WITH words AS (
                SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS w
                FROM documents WHERE doc_id < 500
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM words GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
                FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   FLOOR(CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) * 10000.0 + 0.5) / 10000.0
                       AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.5
        """)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact pairwise Jaccard is the *verification* path; it runs on a bounded
    # deterministic subset (doc_id < 500). The corpus has a 31-word vocab, so
    # unigram sets overlap for nearly every pair — unbounded exact pairwise
    # is quadratic by construction; full-corpus scale goes through
    # dedup_minhash_lsh (banded candidates, near-linear).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return dedup_ops.word_jaccard_pairs(docs, threshold=0.5)


# LSH-family oracles: minhash via the exact-Jaccard truth set (LSH
# recall is 1.0 on this corpus — see minhash_lsh_pairs_oracle_sql
# docstring); hyperplane buckets via seed-deterministic plane
# literals baked into the SQL.
@oracle(minhash_lsh_pairs_oracle_sql(shingle_len=3, verify_threshold=0.5))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.minhash_lsh_pairs(docs, shingle_len=3, num_hashes=32, bands=8)


@oracle(simhash_near_dups_oracle_sql(max_hamming=3))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked (pigeonhole) form — the scale path: candidates come from
    # equi-joined 15-bit signature chunks, not a cross join. max_hamming=3
    # (4 chunks) is the regime where chunk blocking is selective;
    # output-equal to the pairwise form (tests/test_dedup_blocked.py).
    # portable=True: 60-bit md5-derived signature the DuckDB oracle
    # recomputes bit-for-bit — full value-checked correctness (blocking has
    # recall 1.0 by pigeonhole, so the pairwise-truth oracle is exact).
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.simhash_near_dups_blocked(docs, max_hamming=3, portable=True)


@oracle(fuzzy_name_pairs_oracle_sql(
    "part", "p_partkey", "p_name", max_dist=2, max_block_size=1000
))
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution on part names: head-token blocking
    (equi-join, sub-quadratic) then Levenshtein <= 2 verification with the
    threshold pushed into Spark's banded DP.

    Graded WITH the hot-block guard active (max_block_size=1000): at the
    driver's sf0.01 the largest head-token block is 269 rows, so no block is
    dropped and the output equals the uncapped oracle — but the scale guard
    the 100 TB plan depends on is exercised in the graded plan itself."""
    part = load_table(spark, sf_dir, "part")
    return fuzzy_ops.fuzzy_name_pairs(
        part, "p_partkey", "p_name", max_dist=2, max_block_size=1000
    )


@oracle(shared_passage_stats_oracle_sql(window_tokens=8))
def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level cross-doc dedup stats: per document, the fraction of
    its non-overlapping 8-word chunks that occur in any other document —
    catches shared boilerplate/quotes that full-doc dedup misses."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.shared_passage_stats(docs, window_tokens=8, portable=True)


@oracle(fingerprint_overlap_oracle_sql(
    min_shared=5, k=16, window=8
))
def q_dedup_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable=True: md5-derived gram hash -> the winnowing fingerprints are
    # reproducible in DuckDB, upgrading this from rows-only to value-checked.
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.fingerprint_overlap_pairs(docs, min_shared=5, portable=True)


@oracle(embedding_near_dups_blocked_oracle_sql(
    threshold=0.4, n_planes=6
))
def q_embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked (hyperplane-LSH) form — the scale path: only same-bucket pairs
    # are scored, so work follows bucket occupancy, not corpus². The fixture
    # embeddings are near-random (max pairwise cosine ~0.51), so a production
    # dedup threshold (0.95) would make the check vacuous; 0.4 exercises the
    # filter+round path with non-empty output. Oracle-paired: the planes are
    # seed-deterministic literals, reproduced verbatim in the DuckDB SQL.
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_near_dups_blocked(emb, threshold=0.4, n_planes=6)


@oracle(embedding_near_dups_oracle_sql(threshold=0.4))
def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact pairwise cosine — the verification/baseline path (bounded
    # corpora); the blocked form above is what runs at scale.
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_near_dups(emb, threshold=0.4)


@oracle(embedding_keep_list_oracle_sql(
    threshold=0.4, n_planes=6
))
def q_embedding_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup resolution: blocked cosine pairs -> connected
    components -> keep/drop list (the embedding twin of dedup_keep_list;
    same 0.4 fixture threshold as embedding_cosine_dedup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_keep_list(emb, threshold=0.4, n_planes=6)


@oracle(benchmark_contamination_oracle_sql(n=8))
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 1 distinct 8-gram
    with the benchmark slice (doc_id % 25 == 0 stands in for the eval set).
    Benchmark shingles broadcast -> no corpus-side join shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    return benchmark_contamination(train, bench, n=8)


@oracle(dedup_keep_list_oracle_sql())
def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup resolution: MinHash-LSH pairs -> connected components
    (iterative min-label propagation with per-round localCheckpoint) ->
    per-cluster keep/drop list. Oracle: exact-Jaccard truth pairs closed
    transitively by a DuckDB RECURSIVE CTE — an independent fixpoint
    implementation."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.dedup_keep_list(docs)


@oracle(prefix_filter_pairs_oracle_sql(threshold_num=1, threshold_den=2))
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via prefix filtering (AllPairs/SSJoin):
    every 3-shingle-Jaccard >= 1/2 pair, over the FULL corpus — no subset
    bound, unlike the pairwise verification path (q_dedup_ngram_jaccard),
    because candidates come from an equi-join on each doc's rarest-token
    prefix. LOSSLESS by lemma (operators/setsim.py docstring), so the
    all-pairs oracle checks it on any corpus at any threshold — the exact
    complement to dedup_minhash_lsh's probabilistic recall."""
    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_pairs(docs, threshold_num=1, threshold_den=2)


@oracle(sorted_neighborhood_pairs_oracle_sql(window=10, multipass=True))
def q_dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood: forward + reversed-text sort keys,
    candidates unioned before one shared verification — the classic
    recall repair for pairs differing at the sort key's start (the
    single-pass blindness is demonstrated in
    tests/test_round4_ops.py::test_snm_multipass_catches_head_variant)."""
    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs_multipass(docs, window=10)


@oracle(sorted_neighborhood_pairs_oracle_sql(window=10))
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (the 4th classic strategy beside
    banding / pigeonhole / prefix): global rank WITHOUT a global sort
    (two-phase range-partition numbering), window-10 candidate equi-join
    with bounded fan-out, exact-Jaccard verification. Recall limited to
    sort-adjacent pairs by design (operators/setsim.py docstring); the
    oracle replicates the window exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(docs, window=10)
