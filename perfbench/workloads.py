"""The query panel and the seeded operation sequence of the query workload.

``sql_mix`` runs one oracle-paired registry query of each SQL family
(scan, predicate, join, aggregate, window, order, function, quality
report, set, subquery, time series, events, TPC-H, T-SQL dialect, SQL
surface, and a ``stream_*`` batch twin) in a seeded order, pass after
pass. Each family's query was picked by hand among its entries that
match their DuckDB oracle on the generated tables, for a short run
(0.2-5 s each in a fresh JVM on 4 cores), so that one pass fits a
benchmark run.

Each pass is the fixed panel; the seed only orders it, so two seeds
time the same work.
"""

from __future__ import annotations

import random

SQL_PANEL = [
    "s1_scan_project",
    "p7_isin",
    "j4_left_anti",
    "a5_conditional_agg",
    "w1_latest_per_key",
    "o2_topk",
    "f13_bool_norm",
    "x10_skew_report",
    "set_except",
    "sq_exists_correlated",
    "ts2_resample_ohlc",
    "e4_conversion_latency",
    "tpch_q6_forecast_revenue",
    "tsql_dialect_rollup",
    "sql_surface_view_query",
    "stream_tumbling",
]

# the SQL layers' probe in traced runs of etl_cycle, and the query pair
# that measures the tracing overhead
PROBE_PANEL = [
    "a5_conditional_agg",
    "j4_left_anti",
    "tpch_q6_forecast_revenue",
    "stream_tumbling",
]


def passes(panel: list[str], seed: int):
    """Endless sequence of passes; each pass is the panel in an order
    drawn from ``seed``."""
    rng = random.Random(seed)
    while True:
        order = list(panel)
        rng.shuffle(order)
        yield order
