"""Session factory: extra_conf propagation, the s3a recipe's shape and the
codegen cache's size."""

from __future__ import annotations

from etl_pipeline_last_fm_spark.session import get_spark, s3a_conf
from tests.conftest import SF001
from tests.test_pipeline import _count_compiled


def test_extra_conf_propagates_to_session(spark):
    s = get_spark(extra_conf={"spark.graft.smoke": "42"})
    assert s.conf.get("spark.graft.smoke") == "42"


def test_s3a_conf_shape():
    conf = s3a_conf(endpoint="http://minio:9000", access_key="ak", secret_key="sk")
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "sk"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    # every key must be builder-passable (spark.*) so the whole dict can go
    # straight into get_spark(extra_conf=...)
    assert all(k.startswith("spark.") for k in conf)


def test_s3a_conf_defaults_to_provider_chain():
    conf = s3a_conf()
    assert "spark.hadoop.fs.s3a.access.key" not in conf
    assert "spark.hadoop.fs.s3a.secret.key" not in conf
    assert "spark.hadoop.fs.s3a.endpoint" not in conf


def test_second_headliner_pass_compiles_no_new_code(spark):
    """The 9 bench headliners compile about 180 classes a pass, more than
    Spark's default codegen cache of 100 holds, so at the default every
    pass recompiled them all. With the session's cache sized to the
    working set, a second pass finds them all. Each query starts with
    ``clearCache()``, as the bench protocol does."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    queries = entrymod.queries()

    def one_pass():
        for name in HEADLINE:
            spark.catalog.clearCache()
            queries[name](spark, SF001).write.format("noop").mode("overwrite").save()

    first = _count_compiled(spark, one_pass)
    second = _count_compiled(spark, one_pass)
    assert second <= 10, (first, second)
