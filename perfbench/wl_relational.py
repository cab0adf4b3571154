"""The relational half of ``analytics``: registered relational ops over a
seeded TPC-H-like fixture, each call ``.count()``-ed as ``bench.py``
does.

The op set is fixed: two ops from each of the sql, agg, join, win, set,
filter and sort families. Before the timed loop every
op is checked once against its DuckDB oracle (which also warms its
plan); in the loop each pass first resolves the ten tables through
``io_util.table`` (traced, not timed), then runs the ops in a fixed
order and checks every count against the oracle's row count. The order
is fixed because an op's latency depends on the ops run before it.
"""

from __future__ import annotations

import os

import gen

SCALE = 0.001  # lineitem ≈ 6,000 rows
# Two ops per family, chosen among those whose results involve no
# rounded floating-point sum: a sum whose value lands within
# an ulp of a rounding boundary rounds differently when Spark adds in
# another order than DuckDB (seen with sql_q3_shipping_priority on
# generated data), and such a check would fail on some seeds.
OPS = (
    "sql_q4_order_priority", "sql_q13_customer_distribution",
    "agg_rollup", "agg_count_distinct",
    "join_anti", "join_left_right_full",
    "win_rank_dense_rownum", "win_lag_lead",
    "set_union_distinct", "set_except",
    "filter_conjunct", "filter_null_semantics",
    "sort_limit_topk", "sort_multikey_nulls",
)


def setup(ctx) -> str:
    """The fixture, written as parquet, and every table loaded once."""
    from assignment4_spark import io_util, registry
    from assignment4_spark.schemas import TABLES

    registry.load_all()
    fixture = os.path.join(ctx.tmp, "fixture")
    gen.write_tpch(ctx.seed, SCALE, fixture)
    for t in TABLES:
        io_util.table(ctx.spark, fixture, t).count()
    return fixture


def oracle_check(ctx, fixture: str) -> dict[str, int]:
    """Check every op once against its DuckDB oracle; returns the
    expected row count per op."""
    from assignment4_spark import registry
    from tests.oracle_harness import duckdb_connect, fetch_duckdb, fetch_spark

    con = duckdb_connect(fixture)
    rows = {}
    for name in OPS:
        want = fetch_duckdb(con, registry.ORACLES[name])
        rows[name] = len(want[1])
        ctx.bench.verify(f"oracle check {name}", lambda: fetch_spark(
            registry.QUERIES[name](ctx.spark, fixture)) == want)
        ctx.spark.catalog.clearCache()
    con.close()
    return rows


class Passes:
    """Makes the ops of pass after pass over ``OPS``."""

    def __init__(self, ctx, fixture: str, expected: dict[str, int]):
        self.ctx, self.fixture, self.expected = ctx, fixture, expected

    def op(self, j: int):
        """(kind, timed_fn, check_fn) for op ``j`` of a pass."""
        from assignment4_spark import io_util, registry
        from assignment4_spark.schemas import TABLES

        b, spark, fixture = self.ctx.bench, self.ctx.spark, self.fixture
        if j == 0:
            b.extra("tables", "io_util",
                    lambda: [io_util.table(spark, fixture, t) for t in TABLES])
        name = OPS[j]
        family = name.split("_", 1)[0]
        return (family,
                lambda: b.call(f"relational.{family}",
                               lambda: registry.QUERIES[name](spark, fixture).count()),
                lambda n: n == self.expected[name])
