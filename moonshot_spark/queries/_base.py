"""Query catalog: every operator claimed in SURVEY.md §2 as a named query.

Each entry maps a name to (spark_fn, oracle_sql):

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the Spark-native plan.
- ``oracle_sql`` — equivalent ANSI SQL for DuckDB over the same parquet
  tables (driver pre-registers views ``region nation customer supplier part
  orders lineitem events documents embeddings``), or None for ops that
  aren't SQL-expressible (driver then records a rows-only check).

Cross-engine float discipline: two-operand double arithmetic (+,-,*,/) and
min/max/lag/count are bit-deterministic across engines, so most queries
hash-match exactly.  Multi-row accumulations (sum/avg over many rows) are
association-order-dependent.  Grouped aggregates sum 2-decimal money via
DECIMAL(18,2) (exact in both engines, cast back to double) and other
doubles through ``functions/folds.fold_sum_exact`` — a sorted-array fold
equal to DuckDB's ``list_reduce(list(x ORDER BY k), +)`` — because a
Spark ``groupBy`` sum has no pinned order.  Window frames need no array
on the Spark side: Spark folds a frame aggregate left to right in the
window's ORDER BY order, so rolling, running and ``ORDER BY sid``
cross-sectional sums use ``functions/window.py`` (``frame_sum``,
``rolling_sum``, ``cum_sum``).  Only DuckDB's windowed sums re-associate,
which is why its oracles fold ``list(x) OVER frame`` with ``list_reduce``
(PERF.md float rule 5).  Avoid ``round()`` on doubles in query outputs:
Spark rounds the shortest decimal repr (HALF_UP) while DuckDB rounds the
binary value, so even bit-identical inputs can round differently at .xx5
boundaries — ``floor``/``round_even`` (= Spark ``bround`` on halves away
from repr boundaries) or no rounding at all are the portable choices.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark.functions.window import (
    days_since_prev, diff, ffill, pct_change, shift,
)
from moonshot_spark.functions.crosssec import xs_rank, xs_sum, xs_zscore
from moonshot_spark.sources.parquet import events_to_panel, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply engine-required runtime confs to an externally-created session.

    The driver (and any embedding application) builds its own SparkSession;
    these SQLConf settings are runtime-settable and required for correct
    semantics: ns-timestamp parquet reads and NULL-on-zero-divide (pandas/
    DuckDB-parity, see session.py).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped
    return deco


# --------------------------------------------------------------------- #
# shared SQL fragments                                                  #
# --------------------------------------------------------------------- #

# daily OHLCV panel from events: sid = user_id, date = day (SURVEY §2.1 S1,
# §2.4 A2 first/last-of-day semantics)
PANEL_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           arg_min(value, ts) AS open, arg_max(value, ts) AS close,
           max(value) AS high, min(value) AS low,
           CAST(count(*) AS DOUBLE) AS volume
    FROM events GROUP BY 1, 2
"""
