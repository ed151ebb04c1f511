"""Schema evolution: a long-lived lake table gains columns over time;
``mergeSchema`` reads must surface the superset with NULLs for
pre-evolution files, and declared-schema reads must keep working against
newer files (column pruning ignores the additions).
"""

from __future__ import annotations


def test_merge_schema_superset_with_nulls(spark, tmp_path):
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1.write.mode("append").parquet(path)
    v2 = spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[3] == 9.5

    # Declared old schema still reads post-evolution files (pruned).
    old = spark.read.schema("id long, name string").parquet(path)
    assert old.count() == 3 and set(old.columns) == {"id", "name"}
