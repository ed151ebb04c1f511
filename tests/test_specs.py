"""The grading specs: exactly one per query, each with its oracle SQL.

``queries()`` and ``oracle_sql()`` are dicts built from ``grading.SPECS``,
so a second spec under a taken name would silently replace the first.
Counting the specs themselves catches that.
"""

from __future__ import annotations

from collections import Counter

from grading import SPECS

N_QUERIES = 205


def test_one_spec_per_query_name():
    counts = Counter(spec.name for spec in SPECS)
    assert [n for n, c in counts.items() if c > 1] == []
    assert len(SPECS) == N_QUERIES


def test_every_spec_has_oracle_sql():
    bad = [
        spec.name
        for spec in SPECS
        if not isinstance(spec.oracle, str) or not spec.oracle.strip()
    ]
    assert bad == []
