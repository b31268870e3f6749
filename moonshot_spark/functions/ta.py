"""Technical-analysis indicator columns over a (sid, date) OHLCV panel.

Moonshot strategies compute signals with pandas rolling/ewm expressions
inside ``prices_to_signals`` (reference ``moonshot/strategies/base.py``
DataFrame-of-prices idiom; e.g. the DMA example in the reference README
uses ``prices.rolling()``).  This module provides the standard indicator
vocabulary those strategies draw on, as pure Spark ``Column``
constructors over the per-sid date-ordered window of
``functions.window`` — no Python UDFs, no per-row arrays.  The catalog
queries ``ta_bollinger_rsi`` and ``ta_macd_stoch_obv`` call these
functions, so the DuckDB oracle certifies the code users run.

Scale notes
-----------
Every indicator is a frame aggregate over ``Window.partitionBy("sid")
.orderBy("date")`` with a BOUNDED trailing rows frame, except OBV, whose
semantics are genuinely cumulative and which Spark evaluates as a running
accumulator — still one pass.  Stacking any number of indicators over the
same window adds zero extra shuffles: Catalyst collapses them into
WindowExec nodes over one sort.

Cross-engine exactness: the indicators are written in the forms the
oracle SQL fixes.  Rolling means and moments are frame sums over a frame
row count (``window.frame_sum`` / ``frame_rows``): Spark folds a frame
left to right in date order, the same order as the oracle's
``list_reduce`` over ``list(x) OVER frame``, so the doubles agree bit for
bit.  Bollinger σ comes from Σx and Σx² (0 when the cancellation-prone
variance is not positive, NULL on 1-row frames); RSI is
100·Σgain/(Σgain+Σloss), where the average denominators cancel.  The
remaining ops (+, −, *, /, sqrt, min/max, greatest) are correctly
rounded on both engines.  The EWMA-family smoothers (Wilder RSI,
standard MACD) are offered in their SMA variants (Cutler's RSI,
SMA-MACD), so no libm pow()/exp() enters the comparison; the recursive
forms are available through ``functions.window`` EWMA if bit-parity is
not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from moonshot_spark.functions.window import (
    ColumnOrName, _c, frame_mean, frame_rows, frame_sum, rolling_max,
    rolling_mean, rolling_min, rolling_sum, running, shift, trailing,
)


def sma(col: ColumnOrName, n: int) -> Column:
    """n-row simple moving average over the rows present (partial frames
    at the start of each sid); NULL if any row of the frame is NULL."""
    return frame_mean(col, trailing(n))


def bollinger(close: ColumnOrName = "close", n: int = 20,
              k: float = 2.0) -> dict[str, Column]:
    """Bollinger bands: n-row SMA ± k·sample-std, plus %B position.

    σ from the frame's Σx and Σx²: 0 when the variance term is not
    positive (catastrophic cancellation on a flat frame), NULL on 1-row
    frames.  %B = (close − lower) / (upper − lower); NULL while the
    band is degenerate.
    """
    c = _c(close)
    frame = trailing(n)
    m = frame_rows(frame).cast("double")
    s1 = frame_sum(c, frame)
    s2 = frame_sum(c * c, frame)
    mid = s1 / m
    var = (s2 - s1 * s1 / m) / (m - 1)
    sd = F.when(m > 1, F.when(var > 0, F.sqrt(var)).otherwise(F.lit(0.0)))
    upper = mid + F.lit(k) * sd
    lower = mid - F.lit(k) * sd
    pct_b = (c - lower) / (upper - lower)
    return {"bb_mid": mid, "bb_upper": upper, "bb_lower": lower,
            "bb_pct_b": pct_b}


def rsi_cutler(close: ColumnOrName = "close", n: int = 14) -> Column:
    """Cutler's RSI: 100·Σgain/(Σgain+Σloss) over the n-row frame.

    The SMA variant of Wilder's RSI (Cutler 1980s): same bounded
    oscillator, but linear — so it is frame-exact, engine-portable, and
    needs no recursive state.  The average-gain/loss denominators
    cancel, so no null-skipping mean is involved: the first row of each
    sid (no previous close) contributes a 0 gain and a 0 loss, and a
    flat frame yields NULL (0/0).
    """
    c = _c(close)
    chg = c - shift(c, 1)
    gains = rolling_sum(F.when(chg > 0, chg).otherwise(F.lit(0.0)), n,
                        min_periods=1)
    losses = rolling_sum(F.when(chg < 0, -chg).otherwise(F.lit(0.0)), n,
                         min_periods=1)
    return F.lit(100.0) * gains / (gains + losses)


def macd_sma_line(close: ColumnOrName = "close", fast: int = 12,
                  slow: int = 26) -> Column:
    """SMA-MACD line: fast-SMA − slow-SMA.

    The standard MACD uses ewm(12/26/9); the SMA variant keeps the same
    crossover structure while staying transcendental-free (see module
    docstring).  The signal line is an SMA **of the MACD line** — apply
    ``sma(line, 9)`` to the materialized line column; still the same
    sid partition, so Catalyst keeps it in one shuffle.
    """
    return sma(close, fast) - sma(close, slow)


def true_range(high: str = "high", low: str = "low",
               close: str = "close") -> Column:
    """True range: greatest of (H−L, |H−prevC|, |L−prevC|).

    First row per sid falls back to H−L (prev close undefined), the
    standard convention.
    """
    prev_c = shift(close, 1)
    hl = F.col(high) - F.col(low)
    return F.when(prev_c.isNull(), hl).otherwise(
        F.greatest(hl, F.abs(F.col(high) - prev_c),
                   F.abs(F.col(low) - prev_c)))


def stochastic_k(close: str = "close", high: str = "high",
                 low: str = "low", n: int = 14) -> Column:
    """Stochastic %K: position of close within the n-row high/low range;
    NULL on a flat range."""
    hh = rolling_max(high, n, min_periods=1)
    ll = rolling_min(low, n, min_periods=1)
    return F.lit(100.0) * (F.col(close) - ll) / (hh - ll)


def stochastic_d(stoch_k: ColumnOrName = "stoch_k", n: int = 3) -> Column:
    """Stochastic %D: mean of the non-NULL %K values of the n-row frame
    (a flat range leaves %K NULL); NULL when none is defined."""
    return rolling_mean(stoch_k, n, min_periods=1)


def obv(close: str = "close", volume: str = "volume") -> Column:
    """On-balance volume: running sum of sign(Δclose)·volume.

    DECIMAL accumulation (volume is an integer count in the panel) so the
    cumulative sum is exact at any depth, returned as a double.
    """
    chg = F.col(close) - shift(close, 1)
    signed = (F.when(chg > 0, F.col(volume))
              .when(chg < 0, -F.col(volume))
              .otherwise(F.lit(0.0))).cast("decimal(18,1)")
    return F.sum(signed).over(running()).cast("double")


def with_indicators(panel: DataFrame) -> DataFrame:
    """Attach the full indicator stack to an OHLCV panel in one plan.

    All indicators share the sid partition — `.explain()` shows a single
    Exchange followed by WindowExec nodes, no extra shuffles as the stack
    grows.
    """
    bb = bollinger()
    out = panel.select(
        "*",
        *(bb[name].alias(name) for name in
          ("bb_mid", "bb_upper", "bb_lower", "bb_pct_b")),
        rsi_cutler().alias("rsi"),
        macd_sma_line().alias("macd_line"),
        true_range().alias("true_range"),
        stochastic_k().alias("stoch_k"),
        obv().alias("obv"),
    )
    return out.select(
        "*",
        sma("macd_line", 9).alias("macd_signal"),
        sma("true_range", 14).alias("atr"),
        stochastic_d().alias("stoch_d"))
