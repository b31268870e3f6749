"""Demo strategies over the driver's synthetic tables.

The flagship is the dual-moving-average crossover (the reference's README
strategy, README.md:28-63), run on a daily OHLCV panel derived from the
``events`` table (sid = user_id, date = day of ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moonshot_spark.functions.window import rolling_mean
from moonshot_spark.strategies.base import Moonshot


class DualMovingAverage(Moonshot):
    """Long when the short moving average is above the long moving average.

    Reference pattern: README.md:35-44 (``DualMovingAverageStrategy``).
    """

    CODE = "dma"
    SHORT_WINDOW = 5
    LONG_WINDOW = 10

    def prices_to_signals(self, prices: DataFrame) -> DataFrame:
        w = self._sid_window(prices)
        short_mavg = rolling_mean("close", self.SHORT_WINDOW, w)
        long_mavg = rolling_mean("close", self.LONG_WINDOW, w)
        return prices.withColumn(
            "signal", F.when(short_mavg > long_mavg, 1).otherwise(0))


class DualMovingAverageWithCosts(DualMovingAverage):
    """Same signal, with percentage commissions and fixed slippage."""

    CODE = "dma-costs"
    SLIPPAGE_BPS = 2

    from moonshot_spark.commission.base import PercentageCommission

    class _DemoCommission(PercentageCommission):
        BROKER_COMMISSION_RATE = 0.0005
        EXCHANGE_FEE_RATE = 0.00002

    COMMISSION_CLASS = _DemoCommission


class BollingerMeanReversion(Moonshot):
    """Mean-reversion on Bollinger bands: long below the lower band,
    short above the upper band, flat inside — the classic counterpart to
    the DMA trend follower.  The bands are pandas' ``rolling(20).mean()
    ± 2·rolling(20).std()``, computed with Spark's frame avg and sample
    std, and signals require a full 20-row band (min_periods discipline
    like the DMA crossover); ``functions/ta.bollinger`` is the partial-
    frame Σx/Σx² variant the catalog checks against its oracle.
    Long/short signals flow through the same equal-weight allocation,
    which normalizes by gross Σ|signal| per date."""

    CODE = "boll-mr"
    WINDOW = 20
    K = 2.0

    def prices_to_signals(self, prices: DataFrame) -> DataFrame:
        frame = self._sid_window(prices).rowsBetween(-(self.WINDOW - 1), 0)
        mid = F.avg("close").over(frame)
        sd = F.stddev_samp("close").over(frame)
        full = F.count("close").over(frame) >= self.WINDOW
        k = F.lit(self.K)
        sig = (F.when(full & (F.col("close") < mid - k * sd), 1.0)
               .when(full & (F.col("close") > mid + k * sd), -1.0)
               .otherwise(0.0))
        return prices.withColumn("signal", sig)
