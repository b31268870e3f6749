"""Per-sid time-series window primitives (SURVEY.md §2.5 W1–W7, W10).

Reference semantics (pandas, quantrocket-llc/moonshot):

- ``shift(k)``      — reference base.py:434,480 (lag; NaN for first k rows)
- ``pct_change()``  — reference base.py:480,1500 (v/lag - 1, the pandas form)
- ``diff()``        — reference base.py:713 (v - lag)
- ``ffill()``       — reference base.py:935,1500,1623 (last non-null forward)
- ``rolling(N).mean()`` — reference README.md:39-40; pandas default
  ``min_periods == N`` → result is NULL until N observations exist.

All helpers return Column expressions over a per-sid window so consecutive
calls with the same (partition, order) keys collapse into ONE Window exec in
the physical plan — at scale this means one shuffle for the whole per-sid
stage, not one per operator.  Partition key is ``sid``: on a 1000-executor
cluster the panel hash-partitions by security, each partition's time series
is processed locally, and no window ever spans partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sid_window(sid_col: str = "sid", *order_cols: str) -> WindowSpec:
    """Per-security time window: partition by sid, order by date[, time]."""
    order_cols = order_cols or ("date",)
    return Window.partitionBy(sid_col).orderBy(*order_cols)


def date_window(date_col: str = "date") -> WindowSpec:
    """Cross-sectional window: one partition per timestamp (pandas axis=1)."""
    return Window.partitionBy(date_col)


def shift(col: ColumnOrName, periods: int = 1, w: WindowSpec | None = None) -> Column:
    """pandas ``shift(k)``: lag by k (lead for negative k); NULL where no row.

    Reference: base.py:434 (positions = weights.shift()), ml.py:193-194.
    """
    w = w if w is not None else sid_window()
    if periods >= 0:
        return F.lag(_c(col), periods).over(w)
    return F.lead(_c(col), -periods).over(w)


def lead(col: ColumnOrName, periods: int = 1, w: WindowSpec | None = None) -> Column:
    return shift(col, -periods, w)


def pct_change(col: ColumnOrName, periods: int = 1, w: WindowSpec | None = None) -> Column:
    """pandas ``pct_change()``: v / v[-k] - 1; NULL at series start.

    Reference: base.py:479-481 (gross returns = close.pct_change() * shifted
    positions).  NULL/NULL propagation matches pandas NaN arithmetic.
    The DIV-THEN-SUBTRACT form is deliberate: pandas implements
    pct_change as ``self / self.shift(k) - 1``, and the algebraically
    equal ``(v - prev) / prev`` differs in the last ULP (found by the
    r9 hypothesis differential test: (7.5-46)/46 != 7.5/46-1 by 1 ulp).
    Every oracle replays ``x / lag(x) - 1`` for the same reason.
    """
    w = w if w is not None else sid_window()
    prev = F.lag(_c(col), periods).over(w)
    return _c(col) / prev - F.lit(1.0)


def diff(col: ColumnOrName, periods: int = 1, w: WindowSpec | None = None) -> Column:
    """pandas ``diff()``: v - v[-k].  Reference: base.py:713 (turnover)."""
    w = w if w is not None else sid_window()
    return _c(col) - F.lag(_c(col), periods).over(w)


def ffill(col: ColumnOrName, w: WindowSpec | None = None) -> Column:
    """pandas ``ffill()``: last non-null value carried forward.

    Reference: base.py:935,1500,1623.  ``F.last(ignorenulls=True)`` over an
    unbounded-preceding frame — stays in codegen, no UDF.
    """
    return F.last(_c(col), ignorenulls=True).over(running(w))


def trailing(n: int, w: WindowSpec | None = None) -> WindowSpec:
    """Trailing frame of n rows, the current row included."""
    w = w if w is not None else sid_window()
    return w.rowsBetween(-(n - 1), 0)


def running(w: WindowSpec | None = None) -> WindowSpec:
    """Cumulative frame: every row up to and including the current one."""
    w = w if w is not None else sid_window()
    return w.rowsBetween(Window.unboundedPreceding, 0)


def frame_rows(frame: WindowSpec) -> Column:
    """Rows in ``frame``, NULL values included — the length of the array
    ``collect_list(struct(...)).over(frame)`` would build."""
    return F.count(F.lit(1)).over(frame)


def frame_sum(col: ColumnOrName, frame: WindowSpec) -> Column:
    """Σ col over ``frame``, NULL when any row of the frame holds NULL.

    This is the order-pinned array fold ``aggregate(array_sort(
    collect_list(struct(key, v)).over(frame)), 0.0, +)`` without the
    array: Spark evaluates a frame aggregate left to right in the
    frame's ORDER BY order (sliding frames re-fold their rows, running
    and whole-partition frames accumulate in order), so the doubles are
    identical bit for bit — ``tests/test_window_functions.py`` pins it.
    The NULL guard keeps the fold's ``NULL + x = NULL``; over an
    ``ORDER BY sid`` whole-partition frame this is the cross-sectional
    normalizer of a date.
    """
    c = _c(col)
    return F.when(F.count(c).over(frame) == frame_rows(frame),
                  F.sum(c).over(frame))


def frame_mean(col: ColumnOrName, frame: WindowSpec) -> Column:
    """``frame_sum / frame_rows``: the fold mean, NULL if any row is NULL."""
    return frame_sum(col, frame) / frame_rows(frame)


def _rolling(agg, col: ColumnOrName, n: int, w: WindowSpec | None,
             min_periods: int | None) -> Column:
    """Shared trailing-frame helper with pandas min_periods semantics.

    pandas ``rolling(N)`` defaults to ``min_periods=N`` → NULL until the
    window is full.  Spark's frame just aggregates whatever rows exist, so we
    guard with a non-null count over the same frame.
    """
    frame = trailing(n, w)
    mp = n if min_periods is None else min_periods
    value = agg(_c(col)).over(frame)
    if mp <= 1:
        return value
    enough = F.count(_c(col)).over(frame) >= mp
    return F.when(enough, value)


def rolling_mean(col: ColumnOrName, n: int, w: WindowSpec | None = None,
                 min_periods: int | None = None) -> Column:
    """pandas ``rolling(N).mean()``.  Reference: README.md:39-40, base.py:1040-1042."""
    return _rolling(F.avg, col, n, w, min_periods)


def rolling_sum(col: ColumnOrName, n: int, w: WindowSpec | None = None,
                min_periods: int | None = None) -> Column:
    return _rolling(F.sum, col, n, w, min_periods)


def rolling_min(col: ColumnOrName, n: int, w: WindowSpec | None = None,
                min_periods: int | None = None) -> Column:
    return _rolling(F.min, col, n, w, min_periods)


def rolling_max(col: ColumnOrName, n: int, w: WindowSpec | None = None,
                min_periods: int | None = None) -> Column:
    return _rolling(F.max, col, n, w, min_periods)


def rolling_std(col: ColumnOrName, n: int, w: WindowSpec | None = None,
                min_periods: int | None = None) -> Column:
    """Sample std (ddof=1), matching pandas ``rolling(N).std()``."""
    return _rolling(F.stddev_samp, col, n, w, min_periods)


def _cum(agg_val: Column, col: ColumnOrName) -> Column:
    # pandas cumulative ops keep NaN at null positions (skipna over history,
    # NaN in place) — Spark's running aggregate would emit the running value.
    return F.when(_c(col).isNotNull(), agg_val)


def cum_sum(col: ColumnOrName, w: WindowSpec | None = None) -> Column:
    return _cum(F.sum(_c(col)).over(running(w)), col)


def cum_prod(col: ColumnOrName, w: WindowSpec | None = None) -> Column:
    """Cumulative product via exp∘sum∘log — valid for positive factors
    (the compound-returns use case: (1+r).cumprod())."""
    return _cum(F.exp(F.sum(F.log(_c(col))).over(running(w))), col)


def cum_max(col: ColumnOrName, w: WindowSpec | None = None) -> Column:
    return _cum(F.max(_c(col)).over(running(w)), col)


def days_since_prev(date_col: ColumnOrName = "date", w: WindowSpec | None = None) -> Column:
    """Calendar days between consecutive rows per sid.

    Reference: slippage/borrowfee.py:52-54 — weekend borrow-fee multiplier
    ``(dates - dates.shift()).dt.days``.
    """
    w = w if w is not None else sid_window()
    return F.datediff(_c(date_col), F.lag(_c(date_col), 1).over(w))


def global_ffill_with_lag(df, value_col: str, order_cols: list[str],
                          out_filled: str = "__close",
                          out_prev: str = "__prev"):
    """Global (un-keyed) forward-fill + previous-row value over a single
    time series, WITHOUT a single-partition row-level window.

    A plain ``Window.orderBy(date)`` ffill funnels the whole series
    through one task — fine for a daily spine (10^3 rows) but a real
    funnel for a minute-grain intraday series at x100 scale (~10^7 rows
    through one task; VERDICT r11).  Two-phase boundary-carry instead:

    1. rows are partitioned by calendar MONTH and ffilled within the
       month (parallel, each partition bounded by one month of bars);
    2. a per-month boundary frame (one row per month: the month's last
       non-null value, picked with one ``max(struct)`` aggregate) is
       cumulatively ffilled across months — bounded by the number of
       MONTHS, not rows, so its single-partition window is scale-safe —
       and broadcast-joined back as the carry-in for each month's
       leading nulls and first-row lag.

    Output is bit-identical to the single-window form: ``out_filled`` =
    last non-null ``value_col`` up to the row, ``out_prev`` = previous
    row's filled value (NULL for the first row overall).  Requires the
    first entry of ``order_cols`` to be a DATE column (the month key).

    SINGLE-EVALUATION PLAN (r13; closes the ADVICE r12 double-eval
    note): the input is explicitly repartitioned by ``__period`` ONCE,
    and both consumers — the per-month boundary aggregate and the main
    month-partitioned window — hang off that same exchange.  Their
    required distribution (hashpartitioning on ``__period``) is already
    satisfied, so Catalyst plans no further exchange for either branch
    and the physical plan carries a single shuffle with a
    ReusedExchange on the second branch: the input lineage (often an
    expensive spine join over a panel rollup) is computed exactly once.
    The boundary branch loses its map-side partial aggregation, but the
    window branch needed every row through this same shuffle anyway, so
    total bytes moved are unchanged.
    """
    date_col = order_cols[0]
    df = (df.withColumn("__period", F.trunc(F.col(date_col), "month"))
          .repartition("__period"))
    wp = Window.partitionBy("__period").orderBy(*order_cols)
    # per-month last non-null value: max over (order key, value) structs
    # of the non-null rows — one aggregate, no second window
    sortable = F.struct(*[F.col(c) for c in order_cols],
                        F.col(value_col).alias("__v"))
    per = (df.groupBy("__period")
           .agg(F.max(F.when(F.col(value_col).isNotNull(), sortable))
                .alias("__s"))
           .select("__period", F.col("__s.__v").alias("__last")))
    # cumulative carry across months: single-partition by construction,
    # but over ONE ROW PER MONTH (the lit(1) key also silences Spark's
    # no-partition-defined warning for this bounded frame)
    wc = (Window.partitionBy(F.lit(1)).orderBy("__period")
          .rowsBetween(Window.unboundedPreceding, -1))
    per = per.select(
        "__period",
        F.last("__last", ignorenulls=True).over(wc).alias("__carry"))
    df = df.join(F.broadcast(per), "__period", "left")
    within = F.last(F.col(value_col), ignorenulls=True).over(
        wp.rowsBetween(Window.unboundedPreceding, 0))
    df = df.withColumn(out_filled, F.coalesce(within, F.col("__carry")))
    return (df.withColumn(
                out_prev,
                F.coalesce(F.lag(out_filled, 1).over(wp), F.col("__carry")))
            .drop("__period", "__carry"))
