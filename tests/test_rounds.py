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
