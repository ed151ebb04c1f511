"""The grading surface: every query the engine is graded on, each with the
DuckDB SQL it must match. No engine module imports this package.

``SPECS`` lists the specs in domain order, then in definition order within
a domain. ``__spark_entry__.py`` builds ``queries()`` and ``oracle_sql()``
from it.
"""

from grading import dedup, evalmetrics, graph, similarity, text, timeseries, warehouse
from grading.spec import Spec, specs_of

SPECS: list[Spec] = [
    spec
    for module in (warehouse, dedup, similarity, graph, timeseries, text, evalmetrics)
    for spec in specs_of(module)
]
