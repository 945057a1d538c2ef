"""Query registry package: SURVEY.md §2 key -> (spark, sf_dir) ->
DataFrame, plus the DuckDB oracle SQL for each key.

Registration order is load-bearing: the external driver value-checks
only the FIRST 50 keys of ``queries()`` (tests/test_driver_window.py
pins that window's composition). The order is module order, q01
through q09 as imported below, then source order within each module.
Adding a query is one ``@register`` at the place it should sit.

Each q-module imports every name it uses: shared query helpers come
from the q-module that defines them. ``queries.q_foo`` (and ``from
frames_spark.queries import q_foo``) resolves to the registered
callable of key ``q_foo``; private helpers are imported from their
defining module.
"""

from __future__ import annotations

from frames_spark.queries import (  # noqa: F401  (import = registration)
    q01_core_ops,
    q02_analytics,
    q03_text_quality,
    q04_skew_stats,
    q05_stats_matrix,
    q06_eval_ml,
    q07_corpus_gates,
    q08_sketch_select,
    q09_privacy,
)
from frames_spark.queries.q01_core_ops import ORACLES, QUERIES, q1_bench

__all__ = ["ORACLES", "QUERIES", "q1_bench"]


def __getattr__(name: str):
    try:
        return QUERIES[name]
    except KeyError:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
