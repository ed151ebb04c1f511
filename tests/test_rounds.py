"""The round driver (operators/rounds.py): defined degenerate inputs."""

from __future__ import annotations

import pytest

from etl_pipeline_last_fm_spark.operators.attribution import (
    attribution_step,
    decay_attribution_fold_batch,
)
from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
from etl_pipeline_last_fm_spark.operators.segments import twap_fold_batch
from etl_pipeline_last_fm_spark.operators.skyline import skyline_step
from etl_pipeline_last_fm_spark.operators.timeseries import (
    cusum_fold_batch,
    ema_fold_batch,
    holt_fold_batch,
)
from etl_pipeline_last_fm_spark.streaming.ivm import join_step

#: The step each batch fold passes to the driver.
FOLD_STEPS = {
    "ema": ema_fold_batch,
    "cusum": lambda state, batch: cusum_fold_batch(state, batch, 10, 300),
    "twap": twap_fold_batch,
    "holt": holt_fold_batch,
    "attribution": attribution_step(),
    "attribution_decay": attribution_step(decay_attribution_fold_batch),
    "skyline": skyline_step("id", "cost", "gain"),
    "join": join_step(["k"]),
}


@pytest.mark.parametrize("fold", list(FOLD_STEPS))
def test_fold_of_no_batches_raises_value_error(fold):
    """No batches and no initial state is an error for every fold, also
    under ``python -O`` (an ``assert`` would be stripped there)."""
    with pytest.raises(ValueError, match="at least one input"):
        fold_rounds(FOLD_STEPS[fold], [])


def test_a_projection_of_a_cut_frame_is_not_cut_again(spark):
    """A state part that only projects a frame its step already cut
    (attribution's key state) is passed on as it is: a second cut would
    be one more job that shortens nothing. A part with lineage of its own
    is still cut, and so is a projection whose plan holds a subquery."""
    from pyspark.sql import functions as F

    def step(prev, n):
        cut = spark.range(n).withColumn("y", F.col("id") * 2).localCheckpoint()
        return cut.select("id"), cut.groupBy().agg(F.sum("y").alias("s"))

    keys, totals = fold_rounds(step, [4])
    assert keys._jdf.queryExecution().analyzed().nodeName() == "Project"
    assert totals._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    assert sorted(r.id for r in keys.collect()) == [0, 1, 2, 3]
    assert totals.collect()[0].s == 12

    def with_subquery(prev, n):
        cut = spark.range(n).localCheckpoint()
        return cut.select("id", spark.range(3).select(F.max("id")).scalar().alias("m"))

    state = fold_rounds(with_subquery, [4])
    assert state._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
