"""Star-schema join (SURVEY.md §2.4, J1-J6).

All reference joins are inner equi-joins of a fact against tiny dimensions
(reference dags/from_ods_to_dds_pg.py:96-99 for the fact build;
dags/from_dds_to_dm_pg.py:49-50,63,76 for the marts). The scale-correct
physical plan is a chain of *broadcast hash joins* — the fact side streams
through once, never shuffles, and each dim ships to every executor once.
``broadcast()`` hints are applied explicitly so the plan does not depend on
statistics being fresh (SURVEY.md §4.3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def star_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, str | list[str] | Column]],
) -> DataFrame:
    """Join ``fact`` against each ``(dim, on)`` pair with inner equi-joins,
    every dim broadcast-hinted.

    ``on`` may be a column name, list of names (USING-style: single output
    key column, as in reference dags/from_dds_to_dm_pg.py:49 ``USING(song_id)``),
    or an arbitrary join Column for mismatched key names (J3:
    ``dc.country_name = dr.country``, dags/from_ods_to_dds_pg.py:99).
    """
    out = fact
    for dim, on in dims:
        out = out.join(F.broadcast(dim), on, "inner")
    return out
