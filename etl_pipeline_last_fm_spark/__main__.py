"""CLI: run the daily pipeline the way the reference's Airflow DAGs do —
one date parameter end-to-end (SURVEY.md Appendix A.8).

    python -m etl_pipeline_last_fm_spark ingest-sample --warehouse W --date 2024-03-01
    python -m etl_pipeline_last_fm_spark run           --warehouse W --date 2024-03-01 [--bi-url URL]
    python -m etl_pipeline_last_fm_spark ingest-live   --warehouse W --date D --api-key K
    python -m etl_pipeline_last_fm_spark stream        --warehouse W

``ingest-sample`` lands a deterministic synthetic chart (no network);
``ingest-live`` hits the real Last.fm API (requires the ``requests``
package and an API key, like the reference's Variable.get("api_key") at
dags/raw_from_api_to_s3.py:25). ``run --bi-url`` also publishes the day's
marts to a BI database over JDBC (the reference's Metabase handoff); the
JDBC driver jar must be on Spark's classpath.
"""

from __future__ import annotations

import argparse
import sys


def _sample_fetch(date: str):
    """Deterministic Last.fm-shaped chart generator (seeded by date+country)."""
    import hashlib

    def fetch(country: str) -> dict:
        seed = int.from_bytes(hashlib.sha256(f"{date}|{country}".encode()).digest()[:4], "big")
        tracks = []
        for rank in range(1, 101):
            h = (seed * 1103515245 + rank * 12345) % (2**31)
            tracks.append(
                {
                    "name": f"Song {(h >> 4) % 500}",
                    "artist": {"name": f"Artist {(h >> 12) % 120}"},
                    "duration": str(0 if h % 19 == 0 else 60 + h % 540),
                    "listeners": str(1000 + h % 1_000_000),
                    "@attr": {"rank": str(rank)},
                }
            )
        return {"tracks": {"track": tracks, "@attr": {"country": country}}}

    return fetch


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_pipeline_last_fm_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add_common(sp):
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--date", required=True, help="run date YYYY-MM-DD")
        sp.add_argument(
            "--countries",
            nargs="*",
            default=["Russian Federation", "United States", "Kazakhstan"],
        )

    add_common(sub.add_parser("ingest-sample", help="land a deterministic synthetic chart"))
    live = sub.add_parser("ingest-live", help="land a real chart from the Last.fm API")
    add_common(live)
    live.add_argument("--api-key", required=True)
    run = sub.add_parser("run", help="run raw -> ODS -> DDS -> DM for one date")
    add_common(run)
    run.add_argument(
        "--bi-url", help="JDBC URL of a BI database to publish the day's marts to"
    )
    st = sub.add_parser("stream", help="streaming raw -> ODS merge (availableNow)")
    st.add_argument("--warehouse", required=True)
    dd = sub.add_parser(
        "dedup-corpus",
        help="MinHash-LSH -> connected components keep/drop list for a document corpus",
    )
    dd.add_argument("--input", required=True, help="parquet with (doc_id, text)")
    dd.add_argument("--output", required=True, help="keep-list parquet destination")
    dd.add_argument("--threshold", type=float, default=0.5, help="verify Jaccard")

    args = p.parse_args(argv)

    if args.cmd == "dedup-corpus":
        from etl_pipeline_last_fm_spark.operators.dedup import dedup_keep_list
        from etl_pipeline_last_fm_spark.session import get_spark

        spark = get_spark(app_name="lastfm-dedup-corpus")
        docs = spark.read.parquet(args.input)
        keep = dedup_keep_list(docs, verify_threshold=args.threshold)
        keep.write.mode("overwrite").parquet(args.output)
        n_dup = keep.filter("is_dup").count()
        print(f"keep list -> {args.output}: {n_dup} docs marked duplicate")
        return 0

    from etl_pipeline_last_fm_spark.session import get_spark

    spark = get_spark(app_name=f"lastfm-{args.cmd}")

    from etl_pipeline_last_fm_spark.pipeline import (
        Warehouse,
        publish_dm_to_bi,
        run_pipeline,
    )

    wh = Warehouse(args.warehouse)

    if args.cmd in ("ingest-sample", "ingest-live"):
        from etl_pipeline_last_fm_spark.sources.lastfm_api import fetch_charts
        from etl_pipeline_last_fm_spark.sources.raw_json import write_raw_chart

        fetch_fn = _sample_fetch(args.date) if args.cmd == "ingest-sample" else None
        raw = fetch_charts(
            spark,
            args.date,
            countries=args.countries,
            fetch_fn=fetch_fn,
            api_key=getattr(args, "api_key", None),
        )
        write_raw_chart(raw, wh.raw)
        print(f"landed raw chart for {args.date} x {len(args.countries)} countries -> {wh.raw}")
    elif args.cmd == "run":
        run_pipeline(spark, args.warehouse, args.date)
        print(f"pipeline complete for {args.date} -> {args.warehouse}")
        if args.bi_url:
            publish_dm_to_bi(spark, wh, args.bi_url, run_date=args.date)
            print(f"published the marts for {args.date} to the BI database")
    elif args.cmd == "stream":
        from etl_pipeline_last_fm_spark.pipeline import stream_raw_to_ods_pipeline

        stream_raw_to_ods_pipeline(spark, wh).awaitTermination()
        print(f"stream merge complete -> {wh.ods}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
