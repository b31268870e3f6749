"""Backtest/trade pipeline queries: strategies, weights, commissions, slippage, portfolio analytics.

Split from the original single-module catalog; bodies unchanged."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moonshot_spark.functions.crosssec import xs_rank, xs_sum, xs_zscore
from moonshot_spark.functions.folds import fold_sum_exact
from moonshot_spark.functions.window import (
    cum_max, cum_sum, days_since_prev, diff, ffill, frame_sum, pct_change,
    rolling_sum, shift,
)
from moonshot_spark.queries._base import (
    PANEL_SQL, ORACLES, QUERIES, register,
)
from moonshot_spark.sources.local import local_df
from moonshot_spark.sources.parquet import events_to_panel, load_table




# --------------------------------------------------------------------- #
# the flagship: full backtest pipeline (D18) vs SQL oracle              #
# --------------------------------------------------------------------- #

_BACKTEST_DMA_SQL = f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
gross AS (
    SELECT *,
           (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return,
           abs(coalesce(position, 0) - lag(coalesce(position, 0)) OVER w) AS turnover
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
fin AS (
    SELECT *, coalesce(gross_return, 0) AS ret,
           CASE WHEN coalesce(position, 0) <> 0 THEN 1.0 ELSE 0.0 END AS total_holdings
    FROM gross
)
SELECT field, sid, date, value FROM (
    SELECT 'AbsExposure' AS field, sid, date, abs(position) AS value FROM fin
    UNION ALL SELECT 'AbsWeight', sid, date, abs(weight) FROM fin
    UNION ALL SELECT 'Commission', sid, date, 0.0 FROM fin
    UNION ALL SELECT 'NetExposure', sid, date, position FROM fin
    UNION ALL SELECT 'Return', sid, date, ret FROM fin
    UNION ALL SELECT 'Signal', sid, date, signal FROM fin
    UNION ALL SELECT 'Slippage', sid, date, 0.0 FROM fin
    UNION ALL SELECT 'TotalHoldings', sid, date, total_holdings FROM fin
    UNION ALL SELECT 'Turnover', sid, date, turnover FROM fin
    UNION ALL SELECT 'Weight', sid, date, weight FROM fin
)
"""


@register("backtest_dma", _BACKTEST_DMA_SQL)
def backtest_dma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moonshot_spark.strategies.demo import DualMovingAverage

    panel = events_to_panel(spark, sf_dir)
    results = DualMovingAverage().backtest(panel)
    return results.select("field", "sid", "date", "value")


# --------------------------------------------------------------------- #
# D19–D22 — the trade pipeline (orders generation)                      #
# --------------------------------------------------------------------- #

@register("trade_orders", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN close < 100 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
sd AS (SELECT max(date) AS signal_date FROM panel),
cvf AS (
    SELECT sid, date,
           last_value(close IGNORE NULLS) OVER (
               PARTITION BY sid ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS contract_value
    FROM panel
),
today AS (
    SELECT w.sid, w.weight, c.contract_value
    FROM wts w JOIN sd ON w.date = sd.signal_date
    JOIN cvf c ON c.sid = w.sid AND c.date = w.date
),
alloc AS (SELECT * FROM (VALUES ('U100', 0.6), ('U200', 0.4)) t(account, allocation)),
bal AS (SELECT * FROM (VALUES ('U100', 1000000.0), ('U200', 500000.0)) t(account, nlv)),
qty AS (
    SELECT t.sid, a.account,
           CAST(round_even(t.weight * a.allocation * b.nlv
                / abs(nullif(t.contract_value, 0)), 0) AS BIGINT) AS q
    FROM today t CROSS JOIN alloc a JOIN bal b ON a.account = b.account
)
SELECT sid, account,
       CASE WHEN q > 0 THEN 'BUY' ELSE 'SELL' END AS action,
       'buy-below-100' AS order_ref,
       abs(q) AS total_quantity,
       'MKT' AS order_type, 'DAY' AS tif
FROM qty WHERE q <> 0 AND q IS NOT NULL
""")
def trade_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full trade pipeline (D19–D22): today's weights × account allocations
    → NLV/contract-value quantities → order stubs."""
    from moonshot_spark.strategies.base import Moonshot

    class BuyBelow100(Moonshot):
        CODE = "buy-below-100"

        def prices_to_signals(self, prices):
            return prices.withColumn(
                "signal", (F.col("close") < 100).cast("int"))

    panel = events_to_panel(spark, sf_dir)
    balances = local_df(
        spark, [("U100", "USD", 1000000.0), ("U200", "USD", 500000.0)],
        "account string, currency string, net_liquidation double")
    orders = BuyBelow100().trade(panel, {"U100": 0.6, "U200": 0.4}, balances)
    return orders.select("sid", "account", "action", "order_ref",
                         "total_quantity", "order_type", "tif")


@register("trade_orders_children", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN close < 100 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
sd AS (SELECT max(date) AS signal_date FROM panel),
cvf AS (
    SELECT sid, date,
           last_value(close IGNORE NULLS) OVER (
               PARTITION BY sid ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS contract_value
    FROM panel
),
today AS (
    SELECT w.sid, w.weight, c.contract_value
    FROM wts w JOIN sd ON w.date = sd.signal_date
    JOIN cvf c ON c.sid = w.sid AND c.date = w.date
),
qty AS (
    SELECT t.sid, 'U100' AS account,
           CAST(round_even(t.weight * 1.0 * 1000000.0
                / abs(nullif(t.contract_value, 0)), 0) AS BIGINT) AS q
    FROM today t
),
parents AS (
    SELECT sid, account,
           CASE WHEN q > 0 THEN 'BUY' ELSE 'SELL' END AS action,
           abs(q) AS total_quantity
    FROM qty WHERE q <> 0 AND q IS NOT NULL
)
SELECT sid, account, action, total_quantity,
       CAST(NULL AS VARCHAR) AS parent_id, 'parent' AS role
FROM parents
UNION ALL
SELECT sid, account,
       CASE WHEN action = 'BUY' THEN 'SELL' ELSE 'BUY' END AS action,
       total_quantity, sid AS parent_id, 'child' AS role
FROM parents
""")
def trade_orders_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bracket (parent/child) orders (D21, reference base.py:607-655):
    every live order gets an attached exit order with the action
    reversed, linked by parent_id — the full parent+child order book
    exercised through the driver oracle (ids are the deterministic sid,
    not monotonically_increasing_id, so the oracle can reproduce them)."""
    from moonshot_spark.strategies.base import Moonshot

    class BuyBelow100(Moonshot):
        CODE = "buy-below-100"

        def prices_to_signals(self, prices):
            return prices.withColumn(
                "signal", (F.col("close") < 100).cast("int"))

    panel = events_to_panel(spark, sf_dir)
    balances = local_df(
        spark, [("U100", "USD", 1000000.0)],
        "account string, currency string, net_liquidation double")
    strat = BuyBelow100()
    orders = strat.trade(panel, {"U100": 1.0}, balances)
    parents = orders.withColumn("order_id", F.col("sid"))
    children = strat.orders_to_child_orders(parents)
    out_cols = ["sid", "account", "action", "total_quantity"]
    return (parents.select(*out_cols,
                           F.lit(None).cast("string").alias("parent_id"),
                           F.lit("parent").alias("role"))
            .unionByName(children.select(
                *out_cols, F.col("parent_id"),
                F.lit("child").alias("role"))))


@register("trade_orders_no_rebalance", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN close < 100 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
sd AS (SELECT max(date) AS signal_date FROM panel),
cvf AS (
    SELECT sid, date,
           last_value(close IGNORE NULLS) OVER (
               PARTITION BY sid ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS contract_value
    FROM panel
),
today AS (
    SELECT w.sid, w.weight, c.contract_value
    FROM wts w JOIN sd ON w.date = sd.signal_date
    JOIN cvf c ON c.sid = w.sid AND c.date = w.date
),
qty AS (
    SELECT t.sid, 'U100' AS account,
           CAST(round_even(t.weight * 1.0 * 1000000.0
                / abs(nullif(t.contract_value, 0)), 0) AS BIGINT) AS tq
    FROM today t
),
netted AS (
    -- every sid already holds 10 shares; same-side rebalances suppressed
    -- (ALLOW_REBALANCE=False), so only closes/reversals order
    SELECT sid, account,
           CASE WHEN (tq > 0 AND 10 > 0) THEN 0
                ELSE tq - 10 END AS net
    FROM qty WHERE tq IS NOT NULL
)
SELECT sid, account,
       CASE WHEN net > 0 THEN 'BUY' ELSE 'SELL' END AS action,
       abs(net) AS total_quantity
FROM netted WHERE net <> 0
""")
def trade_orders_no_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance gating (D26, reference base.py:1760-1798): with existing
    positions and ALLOW_REBALANCE=False, same-side size adjustments are
    suppressed — only position closes and reversals generate orders.
    Positions input: every sid long 10 shares."""
    from moonshot_spark.strategies.base import Moonshot

    class BuyBelow100NoReb(Moonshot):
        CODE = "buy-below-100-noreb"
        ALLOW_REBALANCE = False

        def prices_to_signals(self, prices):
            return prices.withColumn(
                "signal", (F.col("close") < 100).cast("int"))

    panel = events_to_panel(spark, sf_dir)
    balances = local_df(
        spark, [("U100", "USD", 1000000.0)],
        "account string, currency string, net_liquidation double")
    positions = (panel.select("sid").distinct()
                 .select("sid", F.lit("U100").alias("account"),
                         F.lit(10).alias("quantity")))
    orders = BuyBelow100NoReb().trade(panel, {"U100": 1.0}, balances,
                                      positions=positions)
    return orders.select("sid", "account", "action", "total_quantity")


@register("trade_orders_fx", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN close < 100 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
sd AS (SELECT max(date) AS signal_date FROM panel),
cvf AS (
    SELECT sid, date,
           last_value(close IGNORE NULLS) OVER (
               PARTITION BY sid ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS contract_value
    FROM panel
),
today AS (
    SELECT w.sid, w.weight, c.contract_value
    FROM wts w JOIN sd ON w.date = sd.signal_date
    JOIN cvf c ON c.sid = w.sid AND c.date = w.date
),
qty AS (
    -- EUR account trading USD securities: NLV converts at the EUR->USD
    -- rate before sizing (reference base.py FX join; rate = 1.10)
    SELECT t.sid, 'U900' AS account,
           CAST(round_even(t.weight * 1.0 * (250000.0 * 1.10)
                / abs(nullif(t.contract_value, 0)), 0) AS BIGINT) AS q
    FROM today t
)
SELECT sid, account,
       CASE WHEN q > 0 THEN 'BUY' ELSE 'SELL' END AS action,
       'buy-below-100-fx' AS order_ref,
       abs(q) AS total_quantity,
       'MKT' AS order_type, 'DAY' AS tif
FROM qty WHERE q <> 0 AND q IS NOT NULL
""")
def trade_orders_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade pipeline with cross-currency sizing (S4/J2): a EUR-denominated
    account buys USD securities, so the account NLV converts through the
    (base_currency, quote_currency) exchange-rate dim before quantity
    sizing — the FX 2-key broadcast join exercised through the driver
    oracle."""
    from moonshot_spark.strategies.base import Moonshot

    class BuyBelow100FX(Moonshot):
        CODE = "buy-below-100-fx"

        def prices_to_signals(self, prices):
            return prices.withColumn(
                "signal", (F.col("close") < 100).cast("int"))

    panel = events_to_panel(spark, sf_dir)
    master = (panel.select("sid").distinct()
              .select("sid", F.lit("STK").alias("sec_type"),
                      F.lit("USD").alias("currency")))
    balances = local_df(
        spark, [("U900", "EUR", 250000.0)],
        "account string, currency string, net_liquidation double")
    rates = local_df(
        spark, [("EUR", "USD", 1.10)],
        "base_currency string, quote_currency string, rate double")
    orders = BuyBelow100FX().trade(panel, {"U900": 1.0}, balances,
                                   exchange_rates=rates, master=master)
    return orders.select("sid", "account", "action", "order_ref",
                         "total_quantity", "order_type", "tif")


# --------------------------------------------------------------------- #
# D1–D5 — weight allocation operators                                   #
# --------------------------------------------------------------------- #

@register("weights_neutralized", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN close > 130 THEN -1.0
                WHEN close < 70 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER wd, 0) <> 0
                             THEN sum(abs(signal)) OVER wd ELSE 1 END) AS weight
    FROM sig WINDOW wd AS (PARTITION BY date)
),
sides AS (
    SELECT *, CASE WHEN weight > 0 THEN weight ELSE 0.0 END AS lw,
              CASE WHEN weight < 0 THEN weight ELSE 0.0 END AS sw
    FROM wts
),
tot AS (
    SELECT *, sum(lw) OVER wd AS tl, sum(abs(sw)) OVER wd AS ts
    FROM sides WINDOW wd AS (PARTITION BY date)
),
scaled AS (
    SELECT *,
           CASE WHEN tl <= ts THEN lw
                ELSE lw * ts / (CASE WHEN tl = 0 THEN 1.0 ELSE tl END) END AS slw,
           CASE WHEN ts <= tl THEN sw
                ELSE sw * tl / (CASE WHEN ts = 0 THEN 1.0 ELSE ts END) END AS ssw
    FROM tot
)
SELECT sid, date, signal, weight,
       CASE WHEN slw > 0 THEN slw ELSE ssw END AS neutral_weight
FROM scaled
""")
def weights_neutralized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 equal-weight allocation + D5 market-neutral scaling as a query."""
    from moonshot_spark.operators.weights import (
        allocate_equal_weights, neutralize_weights)

    panel = events_to_panel(spark, sf_dir)
    sig = panel.withColumn(
        "signal", F.when(F.col("close") > 130, -1.0)
        .when(F.col("close") < 70, 1.0).otherwise(0.0))
    w = allocate_equal_weights(sig)
    n = neutralize_weights(w, "weight", out_col="neutral_weight")
    return n.select("sid", "date", "signal", "weight", "neutral_weight")


# --------------------------------------------------------------------- #
# D8/D12/D15 — backtest with commissions and slippage                   #
# --------------------------------------------------------------------- #

_BACKTEST_COSTS_SQL = f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
gross AS (
    SELECT *,
           (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return,
           abs(coalesce(position, 0) - lag(coalesce(position, 0)) OVER w) AS turnover
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
costed AS (
    SELECT *,
           turnover * 0.0005 + turnover * 0.00002 AS commission,
           coalesce(turnover * 0.0002, 0) AS slippage
    FROM gross
)
SELECT sid, date,
       coalesce(gross_return, 0) - commission - slippage AS net_return,
       commission, slippage
FROM costed
"""


_BACKTEST_PERSHARE_SQL = f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
gross AS (
    SELECT *,
           (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return,
           abs(coalesce(position, 0) - lag(coalesce(position, 0)) OVER w) AS turnover
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
costed AS (
    -- per-share commission as % of trade value: broker 0.005/sh +
    -- exchange 0.001/sh over |price|, + 0.01 bps value fee, + 10% of the
    -- broker commission as a commission-based fee (stk.py blend)
    SELECT *,
           ((0.005 / abs(close)) * turnover
               + (0.001 / abs(close)) * turnover
               + 0.0001 * turnover)
               + 0.1 * ((0.005 / abs(close)) * turnover) AS commission
    FROM gross
)
SELECT sid, date,
       coalesce(gross_return, 0) - commission AS net_return,
       commission
FROM costed
"""


@register("backtest_per_share_commission", _BACKTEST_PERSHARE_SQL)
def backtest_per_share_commission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest paying per-share commissions (D9, reference stk.py:18-188):
    per-share costs convert to a percentage of trade value through the
    contract value, plus value-based and commission-based fees — the
    PerShareCommission model exercised through the driver oracle."""
    from moonshot_spark.commission.stk import PerShareCommission
    from moonshot_spark.strategies.demo import DualMovingAverage

    class _PerShare(PerShareCommission):
        BROKER_COMMISSION_PER_SHARE = 0.005
        EXCHANGE_FEE_PER_SHARE = 0.001
        PERCENTAGE_FEE_RATE = 0.0001
        COMMISSION_PERCENTAGE_FEE_RATE = 0.1

    class DMAPerShare(DualMovingAverage):
        CODE = "dma-pershare"
        COMMISSION_CLASS = _PerShare

    panel = events_to_panel(spark, sf_dir)
    results = DMAPerShare().backtest(panel)
    pivoted = (results.groupBy("sid", "date")
               .pivot("field", ["Return", "Commission"])
               .agg(F.first("value")))
    return pivoted.select(
        "sid", "date",
        F.col("Return").alias("net_return"),
        F.col("Commission").alias("commission"))


_BACKTEST_POSLIMIT_SQL = f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN close < 100 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
cvf AS (
    SELECT *, last_value(close IGNORE NULLS) OVER (
        PARTITION BY sid ORDER BY date
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
    FROM wts
),
qtys AS (
    SELECT *, CAST(coalesce(round_even(weight * 100000.0
               / abs(nullif(cv, 0)), 0), 0) AS BIGINT) AS qty
    FROM cvf
),
capped AS (
    SELECT *, CASE WHEN qty > 100 THEN 100 ELSE qty END AS cqty FROM qtys
),
cw AS (
    SELECT *, cqty * cv / 100000.0 AS cweight FROM capped
),
pos AS (
    SELECT *, lag(cweight) OVER (PARTITION BY sid ORDER BY date) AS position
    FROM cw
)
SELECT sid, date, cweight AS weight,
       (close / lag(close) OVER w - 1)
           * lag(position) OVER w AS gross_return
FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
"""


@register("backtest_position_limits", _BACKTEST_POSLIMIT_SQL)
def backtest_position_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest with limit_position_sizes (D16, reference base.py:974-1048):
    target weights convert to integer share quantities through NLV and the
    forward-filled contract value, get capped at 100 shares long, and
    convert back to (smaller) weights — the weight→quantity→weight
    round-trip with half-even rounding exercised through the driver
    oracle."""
    from moonshot_spark.strategies.base import Moonshot

    class Limited(Moonshot):
        CODE = "limited-100"
        NLV = {"USD": 100000.0}

        def prices_to_signals(self, prices):
            return prices.withColumn(
                "signal", (F.col("close") < 100).cast("int"))

        def limit_position_sizes(self, prices):
            max_longs = prices.select(
                "sid", "date", F.lit(100).alias("max_quantity"))
            return max_longs, None

    panel = events_to_panel(spark, sf_dir)
    master = (panel.select("sid").distinct()
              .select("sid", F.lit("USD").alias("currency")))
    strat = Limited()
    strat.is_backtest = True
    prices = strat._join_master(panel, master, None)
    sigs = strat.prices_to_signals(prices)
    wts = strat.signals_to_target_weights(sigs)
    constrained = strat._constrain_weights(wts, prices)
    pos = strat.target_weights_to_positions(constrained)
    ret = strat.positions_to_gross_returns(pos)
    return ret.select("sid", "date", "weight", "gross_return")


_BACKTEST_DISPATCH_SQL = f"""
WITH panel0 AS ({PANEL_SQL}),
panel AS (
    SELECT *,
           CASE WHEN CAST(sid AS BIGINT) % 2 = 0 THEN 'STK' ELSE 'FUT' END
               AS sec_type,
           CASE WHEN CAST(sid AS BIGINT) % 2 = 0 THEN 1.0 ELSE 50.0 END
               AS mult
    FROM panel0
),
sig AS (
    SELECT sid, date, close, sec_type, mult,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
gross AS (
    SELECT *,
           (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return,
           abs(coalesce(position, 0) - lag(coalesce(position, 0)) OVER w) AS turnover
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
costed AS (
    -- per-sec-group dispatch: STK pays percentage commission, FUT pays
    -- per-contract fees over contract value (close x multiplier)
    SELECT *,
           CASE WHEN sec_type = 'STK'
                THEN turnover * 0.001 + turnover * 0.0002
                ELSE (2.375 / (close / 1.0 * mult)) * turnover END
               AS commission
    FROM gross
)
SELECT sid, date,
       coalesce(gross_return, 0) - commission AS net_return,
       commission
FROM costed
"""


@register("backtest_commission_dispatch", _BACKTEST_DISPATCH_SQL)
def backtest_commission_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-security-group commission dispatch (D14, reference
    base.py:869-901): a mixed STK/FUT universe where each
    (sec_type, exchange, currency) group pays its own commission model —
    percentage-of-value for stocks, per-contract fees over the
    multiplier-scaled contract value for futures — via the broadcast-
    master CASE chain, exercised through the driver oracle."""
    from moonshot_spark.commission.base import PercentageCommission
    from moonshot_spark.commission.fut import FuturesCommission
    from moonshot_spark.strategies.demo import DualMovingAverage

    class _StkPct(PercentageCommission):
        BROKER_COMMISSION_RATE = 0.001
        EXCHANGE_FEE_RATE = 0.0002

    class _FutFees(FuturesCommission):
        BROKER_COMMISSION_PER_CONTRACT = 2.0
        EXCHANGE_FEE_PER_CONTRACT = 0.25
        CARRYING_FEE_PER_CONTRACT = 0.125

    class DMADispatch(DualMovingAverage):
        CODE = "dma-dispatch"
        COMMISSION_CLASS = {
            ("STK", "NYSE", "USD"): _StkPct,
            ("FUT", "GLOBEX", "USD"): _FutFees,
        }

    panel = events_to_panel(spark, sf_dir)
    master = (panel.select("sid").distinct()
              .select(
                  "sid",
                  F.when(F.col("sid").cast("bigint") % 2 == 0, "STK")
                  .otherwise("FUT").alias("sec_type"),
                  F.when(F.col("sid").cast("bigint") % 2 == 0, "NYSE")
                  .otherwise("GLOBEX").alias("exchange"),
                  F.lit("USD").alias("currency"),
                  F.lit(1.0).alias("price_magnifier"),
                  F.when(F.col("sid").cast("bigint") % 2 == 0, 1.0)
                  .otherwise(50.0).alias("multiplier")))
    results = DMADispatch().backtest(panel, master=master)
    pivoted = (results.groupBy("sid", "date")
               .pivot("field", ["Return", "Commission"])
               .agg(F.first("value")))
    return pivoted.select(
        "sid", "date",
        F.col("Return").alias("net_return"),
        F.col("Commission").alias("commission"))


_BACKTEST_BORROW_SQL = f"""
WITH panel0 AS ({PANEL_SQL}),
panel AS (
    SELECT *, CAST(CAST(sid AS BIGINT) % 5 AS DOUBLE) + 1.0 AS borrow_fee
    FROM panel0
),
sig AS (
    SELECT sid, date, close, borrow_fee,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE -1.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
gross AS (
    SELECT *,
           (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return,
           coalesce(date_diff('day', lag(date) OVER w, date), 1) AS days_held
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
costed AS (
    SELECT *,
           abs(CASE WHEN position < 0 THEN position ELSE 0.0 END)
               * 1.02 * (borrow_fee / 100 / 360) * days_held AS slippage
    FROM gross
)
SELECT sid, date,
       coalesce(gross_return, 0) - slippage AS net_return,
       slippage AS borrow_fee_cost
FROM costed
"""


@register("backtest_borrow_fees", _BACKTEST_BORROW_SQL)
def backtest_borrow_fees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-short backtest paying IBKR-convention borrow fees on the short
    book (D13: |short| x 1.02 x annual%/360 x days held, weekends
    covered by the day count) — the borrow-fee slippage exercised through
    the driver oracle, with a deterministic per-sid fee panel joined at
    panel-build time."""
    from moonshot_spark.slippage.borrowfee import BorrowFees
    from moonshot_spark.strategies.demo import DualMovingAverage

    class LongShortBorrow(DualMovingAverage):
        CODE = "dma-borrow"
        SLIPPAGE_CLASSES = (BorrowFees(),)

        def prices_to_signals(self, prices: DataFrame) -> DataFrame:
            from moonshot_spark.functions.window import rolling_mean
            w = self._sid_window(prices)
            fast = rolling_mean("close", self.SHORT_WINDOW, w)
            slow = rolling_mean("close", self.LONG_WINDOW, w)
            return prices.withColumn(
                "signal", F.when(fast > slow, 1.0).otherwise(-1.0))

    panel = events_to_panel(spark, sf_dir).withColumn(
        "borrow_fee",
        (F.col("sid").cast("bigint") % 5).cast("double") + 1.0)
    results = LongShortBorrow().backtest(panel)
    pivoted = (results.groupBy("sid", "date")
               .pivot("field", ["Return", "Slippage"])
               .agg(F.first("value")))
    return pivoted.select(
        "sid", "date",
        F.col("Return").alias("net_return"),
        F.col("Slippage").alias("borrow_fee_cost"))


_BACKTEST_FIXEDCAP_SQL = f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *,
           CASE WHEN sum(abs(signal * 0.3)) OVER wd > 1.0
                THEN signal / (CASE WHEN coalesce(sum(abs(signal)) OVER wd, 0) <> 0
                               THEN sum(abs(signal)) OVER wd ELSE 1 END)
                ELSE signal * 0.3 END AS weight
    FROM sig WINDOW wd AS (PARTITION BY date)
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
)
SELECT sid, date, weight,
       (close / lag(close) OVER w - 1)
           * lag(position) OVER w AS gross_return
FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
"""


@register("backtest_fixed_weights_capped", _BACKTEST_FIXEDCAP_SQL)
def backtest_fixed_weights_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest with the fixed-weights-capped allocator (D3, reference
    weight.py:48-66): each active signal gets a fixed 0.3 weight unless
    the day's absolute fixed sum exceeds the 1.0 cap, in which case that
    day falls back to equal weights — driver-oracle evidence for the
    fixed/capped allocator family."""
    from moonshot_spark.operators.weights import allocate_fixed_weights_capped
    from moonshot_spark.strategies.demo import DualMovingAverage

    class FixedCapped(DualMovingAverage):
        CODE = "dma-fixedcap"

        def signals_to_target_weights(self, signals: DataFrame) -> DataFrame:
            return allocate_fixed_weights_capped(
                signals, weight=0.3, cap=1.0,
                date_cols=self._date_cols(signals))

    strat = FixedCapped()
    panel = events_to_panel(spark, sf_dir)
    strat.is_backtest = True
    sigs = strat.prices_to_signals(panel)
    wts = strat.signals_to_target_weights(sigs)
    pos = strat.target_weights_to_positions(wts)
    ret = strat.positions_to_gross_returns(pos)
    return ret.select("sid", "date", "weight",
                      F.col("gross_return"))


@register("backtest_dma_costs", _BACKTEST_COSTS_SQL)
def backtest_dma_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest with percentage commissions (D8) and fixed bps slippage
    (D12/D15) exercised through the oracle."""
    from moonshot_spark.strategies.demo import DualMovingAverageWithCosts

    panel = events_to_panel(spark, sf_dir)
    results = DualMovingAverageWithCosts().backtest(panel)
    pivoted = (results.groupBy("sid", "date")
               .pivot("field", ["Return", "Commission", "Slippage"])
               .agg(F.first("value")))
    return pivoted.select(
        "sid", "date",
        F.col("Return").alias("net_return"),
        F.col("Commission").alias("commission"),
        F.col("Slippage").alias("slippage"))


# --------------------------------------------------------------------- #
# D23 — ML scoring via broadcast-model pandas_udf                       #
# --------------------------------------------------------------------- #

@register("ml_score_linear", f"""
WITH panel AS ({PANEL_SQL})
SELECT sid, date,
       -2.0 + close * 0.1 + (volume / 10.0) * 0.5 AS prediction,
       CASE WHEN -2.0 + close * 0.1 + (volume / 10.0) * 0.5 > 10 THEN 1.0
            ELSE 0.0 END AS signal
FROM panel
""")
def ml_score_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoonshotML feature assembly + Arrow-batched pandas_udf scoring with a
    broadcast linear model.  The model's arithmetic is element-wise numpy
    (stable order), so the oracle is the same linear formula in SQL — this
    checks the whole Arrow round trip bit-for-bit."""
    from moonshot_spark.ml_models import LinearModel
    from moonshot_spark.strategies.ml import MoonshotML

    class LinearStrategy(MoonshotML):
        def prices_to_features(self, prices):
            df = prices.withColumn("f_close", F.col("close")) \
                       .withColumn("f_vol", F.col("volume") / 10.0)
            return df, ["f_close", "f_vol"]

        def predictions_to_signals(self, predictions):
            return predictions.withColumn(
                "signal", (F.col("prediction") > 10).cast("double"))

    strat = LinearStrategy()
    strat._load_model(LinearModel([0.1, 0.5], bias=-2.0))
    panel = events_to_panel(spark, sf_dir)
    scored = strat.prices_to_signals(panel)
    return scored.select("sid", "date", "prediction", "signal")


# --------------------------------------------------------------------- #
# D17 — benchmark returns                                               #
# --------------------------------------------------------------------- #

@register("benchmark_returns", f"""
WITH panel AS ({PANEL_SQL}),
dates AS (SELECT DISTINCT date FROM panel),
bench AS (SELECT date, close FROM panel WHERE sid = '7'),
spine AS (
    SELECT d.date,
           last_value(b.close IGNORE NULLS) OVER (
               ORDER BY d.date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close
    FROM dates d LEFT JOIN bench b ON d.date = b.date
)
SELECT date, (close / lag(close) OVER (ORDER BY date) - 1) AS benchmark
FROM spine
""")
def benchmark_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D17: benchmark sid extraction, spine alignment, ffill, pct_change
    (reference base.py:1402-1500)."""
    panel = events_to_panel(spark, sf_dir)
    dates = panel.select("date").distinct()
    bench = panel.where(F.col("sid") == "7").select("date", "close")
    spine = dates.join(bench, "date", "left")
    # two-phase boundary-carry ffill/lag (functions/window.py): month-
    # partitioned so an intraday-grain spine never funnels one task
    from moonshot_spark.functions.window import global_ffill_with_lag
    spine = global_ffill_with_lag(spine, "close", ["date"], "__c", "__p")
    return spine.select(
        "date", (F.col("__c") / F.col("__p") - 1).alias("benchmark"))


# --------------------------------------------------------------------- #
# intraday panel + continuous intraday backtest                         #
# --------------------------------------------------------------------- #

INTRADAY_PANEL_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           lpad(CAST(CAST(date_part('hour', ts) AS INT) - CAST(date_part('hour', ts) AS INT) % 6 AS VARCHAR), 2, '0')
               || ':00:00' AS time,
           arg_max(value, ts) AS close
    FROM events GROUP BY 1, 2, 3
"""


@register("backtest_intraday", f"""
WITH panel AS ({INTRADAY_PANEL_SQL}),
sig AS (
    SELECT sid, date, time, close,
           CASE WHEN close <= 100 THEN 1.0 ELSE -1.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date, time), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date, time)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER w AS position FROM wts
    WINDOW w AS (PARTITION BY sid ORDER BY date, time)
),
fin AS (
    SELECT *,
           (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return,
           abs(coalesce(position, 0) - lag(coalesce(position, 0)) OVER w) AS turnover
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date, time)
)
SELECT sid, date, time, signal, weight, position,
       coalesce(gross_return, 0) AS ret, turnover
FROM fin
""")
def backtest_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous intraday backtest over a 6-hour-bar panel: windows order
    by (date, time) with time as a lexicographic 'HH:MM:SS' string —
    exactly the reference's intraday Time level (base.py:794-795)."""
    from moonshot_spark.strategies.base import Moonshot

    class LongShortIntraday(Moonshot):
        def prices_to_signals(self, prices):
            return prices.withColumn(
                "signal", F.when(F.col("close") <= 100, 1.0).otherwise(-1.0))

    events = load_table(spark, sf_dir, "events")
    hour_slot = (F.hour("ts") - F.hour("ts") % 6).cast("int")
    panel = (events
             .withColumn("sid", F.col("user_id").cast("string"))
             .withColumn("date", F.to_date("ts"))
             .withColumn("time", F.concat(
                 F.lpad(hour_slot.cast("string"), 2, "0"), F.lit(":00:00")))
             .groupBy("sid", "date", "time")
             .agg(F.max_by("value", "ts_ns").alias("close")))
    results = LongShortIntraday().backtest(panel)
    pivoted = (results.groupBy("sid", "date", "time")
               .pivot("field", ["Signal", "Weight", "NetExposure", "Return",
                                "Turnover"])
               .agg(F.first("value")))
    return pivoted.select(
        "sid", "date", "time",
        F.col("Signal").alias("signal"), F.col("Weight").alias("weight"),
        F.col("NetExposure").alias("position"), F.col("Return").alias("ret"),
        F.col("Turnover").alias("turnover"))


@register("benchmark_returns_intraday", f"""
WITH panel AS ({INTRADAY_PANEL_SQL}),
spine AS (SELECT DISTINCT date, time FROM panel),
bench AS (SELECT date, time, close FROM panel WHERE sid = '7'),
j AS (
    SELECT s.date, s.time, b.close
    FROM spine s LEFT JOIN bench b ON s.date = b.date AND s.time = b.time
),
f AS (
    SELECT date, time,
           last_value(close IGNORE NULLS) OVER (
               ORDER BY date, time
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM j
),
g AS (
    SELECT date, time, c, lag(c) OVER (ORDER BY date, time) AS p FROM f
)
SELECT date, time, coalesce((c - p) / p, 0.0) AS benchmark FROM g
""")
def benchmark_returns_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D17 at INTRADAY grain: the benchmark sid's 6-hour bars are
    spine-aligned onto the panel's full (date, time) grid (bars the
    benchmark lacks ffill; first bar is a 0.0 return) — the continuous-
    intraday external-benchmark path of reference base.py:1446-1500.
    The ffill/lag runs through the two-phase boundary-carry helper
    (functions/window.py::global_ffill_with_lag, VERDICT r11 item 6):
    month-partitioned windows plus a broadcast per-month carry, so a
    minute-grain series never funnels one task — this entry pins its
    (date, time)-grain output bit-exactly against the oracle's naive
    single-window form through the driver gate."""
    from moonshot_spark.functions.window import global_ffill_with_lag

    events = load_table(spark, sf_dir, "events")
    hour_slot = (F.hour("ts") - F.hour("ts") % 6).cast("int")
    panel = (events
             .withColumn("sid", F.col("user_id").cast("string"))
             .withColumn("date", F.to_date("ts"))
             .withColumn("time", F.concat(
                 F.lpad(hour_slot.cast("string"), 2, "0"), F.lit(":00:00")))
             .groupBy("sid", "date", "time")
             .agg(F.max_by("value", "ts_ns").alias("close")))
    spine = panel.select("date", "time").distinct()
    bench = (panel.where(F.col("sid") == "7")
             .select("date", "time", "close"))
    j = spine.join(bench, ["date", "time"], "left")
    j = global_ffill_with_lag(j, "close", ["date", "time"], "__c", "__p")
    return j.select(
        "date", "time",
        F.coalesce((F.col("__c") - F.col("__p")) / F.col("__p"),
                   F.lit(0.0)).alias("benchmark"))


@register("backtest_once_a_day_intraday", f"""
WITH panel AS ({INTRADAY_PANEL_SQL}),
daily AS (
    SELECT e.sid, e.date, e.close AS entry_close, x.close AS exit_close
    FROM (SELECT * FROM panel WHERE time = '06:00:00') e
    JOIN (SELECT * FROM panel WHERE time = '18:00:00') x
      ON e.sid = x.sid AND e.date = x.date
),
sig AS (
    SELECT *, CASE WHEN entry_close <= 100 THEN 1.0 ELSE -1.0 END AS signal
    FROM daily
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
)
SELECT sid, date, signal, weight, weight AS position,
       -- the engine fillna(0)s returns like the reference; a zero entry
       -- price (div-by-zero -> NULL in both engines) must coalesce here
       -- too or the sf0.1 zero-price ticks desync the row sort
       coalesce((exit_close - entry_close) / entry_close * weight, 0)
           AS ret,
       abs(weight) * 2 AS turnover
FROM wts
""")
def backtest_once_a_day_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Once-a-day intraday backtest (the reference's ShortAbove10Intraday
    pattern, _tests/test_orders.py:219-261): signals from the morning bar,
    positions entered the same day and closed at the afternoon bar, gross
    return = entry→exit move × position.  The hooks reduce the intraday
    panel to DAILY frames (the reference's ``.xs(time, level="Time")``),
    so the engine runs its daily pipeline; POSITIONS_CLOSED_DAILY turnover
    = 2×|position| (open + close each day)."""
    from moonshot_spark.strategies.base import Moonshot

    class OnceADayIntraday(Moonshot):
        POSITIONS_CLOSED_DAILY = True

        def prices_to_signals(self, prices):
            entry = (prices.where(F.col("time") == "06:00:00")
                     .select("sid", "date",
                             F.col("close").alias("entry_close")))
            exit_ = (prices.where(F.col("time") == "18:00:00")
                     .select("sid", "date",
                             F.col("close").alias("exit_close")))
            daily = entry.join(exit_, ["sid", "date"])
            return daily.withColumn(
                "signal",
                F.when(F.col("entry_close") <= 100, 1.0).otherwise(-1.0))

        def target_weights_to_positions(self, weights):
            # enter on the same day (reference: positions = weights.copy())
            return weights.withColumn("position", F.col("weight"))

        def positions_to_gross_returns(self, positions):
            return positions.withColumn(
                "gross_return",
                (F.col("exit_close") - F.col("entry_close"))
                / F.col("entry_close") * F.col("position"))

    events = load_table(spark, sf_dir, "events")
    hour_slot = (F.hour("ts") - F.hour("ts") % 6).cast("int")
    panel = (events
             .withColumn("sid", F.col("user_id").cast("string"))
             .withColumn("date", F.to_date("ts"))
             .withColumn("time", F.concat(
                 F.lpad(hour_slot.cast("string"), 2, "0"), F.lit(":00:00")))
             .groupBy("sid", "date", "time")
             .agg(F.max_by("value", "ts_ns").alias("close")))
    results = OnceADayIntraday().backtest(panel)
    pivoted = (results.groupBy("sid", "date")
               .pivot("field", ["Signal", "Weight", "NetExposure", "Return",
                                "Turnover"])
               .agg(F.first("value")))
    return pivoted.select(
        "sid", "date",
        F.col("Signal").alias("signal"), F.col("Weight").alias("weight"),
        F.col("NetExposure").alias("position"), F.col("Return").alias("ret"),
        F.col("Turnover").alias("turnover"))


# --------------------------------------------------------------------- #
# performance metrics over backtest returns (moonchart analog)           #
# --------------------------------------------------------------------- #

@register("performance_metrics", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
rets AS (
    SELECT sid, date,
           coalesce((close / lag(close) OVER w - 1)
               * lag(position) OVER w, 0) AS r
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
series AS (
    SELECT sid, list(r ORDER BY date) AS rs FROM rets GROUP BY sid
),
-- exact prefix folds: engines disagree on windowed running-sum association
-- (segment trees vs incremental), so each prefix sums left-to-right
curves AS (
    SELECT sid, len(rs) AS n,
           list_transform(range(1, len(rs) + 1),
               i -> list_reduce(list_slice(rs, 1, i), (a, b) -> a + b)) AS cums
    FROM series
)
SELECT sid, CAST(n AS BIGINT) AS n_periods,
       cums[n] AS total_return,
       list_min(list_transform(range(1, n + 1),
           i -> cums[i] - list_max(list_slice(cums, 1, i)))) AS max_drawdown
FROM curves
""")
def performance_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary metrics over the dual-moving-average backtest's returns:
    additive total return and max drawdown via running sums/maxes (exact
    cross-engine).  The compounded variants (expm1/log1p) and Sharpe/CAGR
    live in operators/metrics.py — transcendental functions differ in the
    last ulp between JVM and libm, so they're pandas-tested, not
    oracle-hashed."""
    from moonshot_spark.strategies.demo import DualMovingAverage

    panel = events_to_panel(spark, sf_dir)
    results = DualMovingAverage().backtest(panel)
    rets = (results.where(F.col("field") == "Return")
            .select("sid", "date", F.col("value").alias("return")))
    cum = rets.select(
        "sid", "date",
        cum_sum(F.coalesce(F.col("return"), F.lit(0.0))).alias("cum"))
    curves = cum.select("sid", "date", "cum",
                        (F.col("cum") - cum_max("cum")).alias("dd"))
    return curves.groupBy("sid").agg(
        F.count("*").alias("n_periods"),
        F.max_by("cum", "date").alias("total_return"),
        F.min("dd").alias("max_drawdown"))


@register("sharpe_per_sid", """
WITH panel AS (
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           arg_max(value, ts) AS close
    FROM events GROUP BY 1, 2
), rets AS (
    SELECT sid, date,
           coalesce((close / lag(close) OVER w - 1), 0) AS r
    FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)
), series AS (
    SELECT sid, list(r ORDER BY date) AS rs FROM rets GROUP BY sid
), moments AS (
    SELECT sid, len(rs) AS n,
           list_reduce(rs, (a, b) -> a + b) AS s1,
           list_reduce(list_transform(rs, x -> x * x),
                       (a, b) -> a + b) AS s2
    FROM series
)
SELECT sid, CAST(n AS BIGINT) AS n_periods,
       CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
            THEN ((s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)))
                 * sqrt(252.0)
       END AS sharpe_ann
FROM moments
""")
def sharpe_per_sid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe per sid over daily close-to-close returns, EXACT
    cross-engine: mean and variance come from left-to-right folds of the
    date-ordered return array (a ``groupBy`` sum has no pinned order, and
    the one sorted array serves both moments), and every remaining op
    (+ * / sqrt) is IEEE-correctly-rounded and identical in Spark and
    DuckDB.  This is the portability recipe for any grouped moment-based
    metric (PERF.md float rules 2 and 5); CAGR stays pytest-only because
    pow/exp are libm-dependent."""
    panel = events_to_panel(spark, sf_dir)
    w = Window.partitionBy("sid").orderBy("date")
    prev = F.lag("close").over(w)
    rets = panel.select(
        "sid", "date",
        F.coalesce(F.col("close") / prev - 1, F.lit(0.0)).alias("r"))
    series = (rets.groupBy("sid")
              .agg(F.transform(
                  F.array_sort(F.collect_list(F.struct("date", "r"))),
                  lambda s: s["r"]).alias("rs")))
    n = F.size("rs")
    s1 = F.aggregate("rs", F.lit(0.0), lambda a, b: a + b)
    s2 = F.aggregate(F.transform("rs", lambda x: x * x), F.lit(0.0),
                     lambda a, b: a + b)
    moments = series.select("sid", n.alias("n"), s1.alias("s1"),
                            s2.alias("s2"))
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    sharpe = F.when(var > 0, (mean / F.sqrt(var)) * F.sqrt(F.lit(252.0)))
    return moments.select("sid", F.col("n").cast("bigint").alias("n_periods"),
                          sharpe.alias("sharpe_ann"))


# --------------------------------------------------------------------- #
# cross-sectional momentum strategy (rank-selected top-k)               #
# --------------------------------------------------------------------- #

@register("backtest_xs_momentum", f"""
WITH panel AS ({PANEL_SQL}),
mom AS (
    SELECT sid, date, close,
           (close / lag(close, 5) OVER w - 1) AS mom5
    FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)
),
ranked AS (
    SELECT *, CASE WHEN mom5 IS NOT NULL THEN
        row_number() OVER (PARTITION BY date, (mom5 IS NOT NULL)
                           ORDER BY mom5 DESC, sid) END AS mom_rank
    FROM mom
),
sig AS (
    SELECT sid, date, close,
           CASE WHEN mom_rank <= 3 THEN 1.0 ELSE 0.0 END AS signal
    FROM ranked
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position
    FROM wts
),
fin AS (
    SELECT *, (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
)
SELECT sid, date, signal, weight, position,
       coalesce(gross_return, 0) AS ret
FROM fin
""")
def backtest_xs_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum: rank sids by trailing 5-day return each
    day, hold the top 3 equal-weighted (the W9 rank-selection convention
    as a full strategy)."""
    from moonshot_spark.strategies.base import Moonshot

    class XsMomentum(Moonshot):
        def prices_to_signals(self, prices):
            w = self._sid_window(prices)
            mom = pct_change("close", 5, w)
            df = prices.withColumn("__mom", mom)
            rank_w = Window.partitionBy(
                "date", F.col("__mom").isNotNull()).orderBy(
                F.desc("__mom"), F.asc("sid"))
            rank = F.when(F.col("__mom").isNotNull(),
                          F.row_number().over(rank_w))
            return (df.withColumn(
                "signal", F.when(rank <= 3, 1.0).otherwise(0.0))
                .drop("__mom"))

    panel = events_to_panel(spark, sf_dir)
    results = XsMomentum().backtest(panel)
    pivoted = (results.groupBy("sid", "date")
               .pivot("field", ["Signal", "Weight", "NetExposure", "Return"])
               .agg(F.first("value")))
    return pivoted.select(
        "sid", "date", F.col("Signal").alias("signal"),
        F.col("Weight").alias("weight"),
        F.col("NetExposure").alias("position"),
        F.col("Return").alias("ret"))


# --------------------------------------------------------------------- #
# portfolio-level rollup of per-sid returns                             #
# --------------------------------------------------------------------- #

@register("portfolio_returns", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
rets AS (
    SELECT sid, date,
           coalesce((close / lag(close) OVER w - 1)
               * lag(position) OVER w, 0) AS r
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
)
SELECT date,
       list_reduce(list(r ORDER BY sid), (a, b) -> a + b) AS portfolio_return,
       CAST(count(*) AS BIGINT) AS n_sids
FROM rets GROUP BY date
""")
def portfolio_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy-level return series: per-date sum of sid returns, summed as
    a sid-ordered fold (cross-sid accumulation order must be pinned for the
    oracle hash)."""
    from moonshot_spark.strategies.demo import DualMovingAverage

    panel = events_to_panel(spark, sf_dir)
    results = DualMovingAverage().backtest(panel)
    rets = (results.where(F.col("field") == "Return")
            .select("sid", "date", F.col("value").alias("r")))
    folded = F.aggregate(
        F.transform(F.array_sort(F.collect_list(F.struct("sid", "r"))),
                    lambda s: F.coalesce(s["r"], F.lit(0.0))),
        F.lit(0.0), lambda a, b: a + b)
    return (rets.groupBy("date")
            .agg(folded.alias("portfolio_return"),
                 F.count("*").alias("n_sids")))


@register("backtest_param_sweep", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
rets AS (
    SELECT sid, date,
           coalesce((close / lag(close) OVER w - 1)
               * lag(position) OVER w, 0) AS r,
           abs(coalesce(position, 0)
               - lag(coalesce(position, 0)) OVER w) AS turnover
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
params AS (
    SELECT unnest([0, 10, 25, 50]) AS cost_bps
),
net AS (
    SELECT p.cost_bps, rets.sid, rets.date,
           rets.r - coalesce(rets.turnover, 0) * p.cost_bps / 10000 AS net_r
    FROM rets, params p
)
SELECT CAST(cost_bps AS INT) AS cost_bps, date,
       list_reduce(list(coalesce(net_r, 0) ORDER BY sid), (a, b) -> a + b)
           AS portfolio_return,
       CAST(count(*) AS BIGINT) AS n_sids
FROM net GROUP BY cost_bps, date
""")
def backtest_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-search backtest as ONE plan: the DMA pipeline runs once, a
    4-row cost-parameter dim cross-joins in (broadcast, map-side), and
    every parameter variant's net portfolio-return series aggregates in
    the same job.  The pandas reference re-runs the whole backtest per
    parameter; here the panel scan, signal windows, and weight windows
    are shared across the sweep — at 100 TB the sweep costs one backtest
    plus K cheap projections, not K backtests.  Per-date sums use the
    sid-ordered fold (pinned accumulation order, see portfolio_returns)."""
    from moonshot_spark.strategies.demo import DualMovingAverage

    panel = events_to_panel(spark, sf_dir)
    results = DualMovingAverage().backtest(panel)
    # un-melt Return/Turnover by conditional aggregation — one lineage,
    # one pass; a filter+self-join here would recompute the whole
    # backtest DAG on both sides (verified: 2 scans → 1)
    base = (results.where(F.col("field").isin("Return", "Turnover"))
            .groupBy("sid", "date")
            .agg(F.max(F.when(F.col("field") == "Return",
                              F.col("value"))).alias("r"),
                 F.max(F.when(F.col("field") == "Turnover",
                              F.col("value"))).alias("tv")))
    params = spark.createDataFrame([(0,), (10,), (25,), (50,)],
                                   "cost_bps int")
    net = (base.crossJoin(F.broadcast(params))
           .withColumn("net_r",
                       F.col("r") - F.coalesce(F.col("tv"), F.lit(0.0))
                       * F.col("cost_bps") / 10000))
    folded = F.aggregate(
        F.transform(F.array_sort(F.collect_list(F.struct("sid", "net_r"))),
                    lambda s: F.coalesce(s["net_r"], F.lit(0.0))),
        F.lit(0.0), lambda a, b: a + b)
    return (net.groupBy("cost_bps", "date")
            .agg(folded.alias("portfolio_return"),
                 F.count("*").alias("n_sids")))


# --------------------------------------------------------------------- #
# D8 min-commission floor + S2 NLV append, through the oracle            #
# --------------------------------------------------------------------- #

@register("backtest_commission_floor", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN close < 100 THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
turn AS (
    SELECT *, abs(coalesce(position, 0)
                  - lag(coalesce(position, 0)) OVER (PARTITION BY sid ORDER BY date))
              AS turnover
    FROM pos
),
costed AS (
    -- broker 1bp with a 50-currency-unit minimum against NLV 1,000,000
    SELECT sid, date, turnover,
           turnover * 0.0001 AS raw_commission,
           50.0 / 1000000.0 AS floor_pct
    FROM turn
)
SELECT sid, date, turnover,
       CASE WHEN raw_commission > 0 AND raw_commission < floor_pct
            THEN floor_pct ELSE raw_commission END AS commission
FROM costed
""")
def backtest_commission_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-commission floor (D8, commission/base.py:57-66) through the
    oracle: NLV joined from the master's currency (S2), floor = MIN/NLV
    where 0 < commission < floor."""
    from moonshot_spark.commission.base import PercentageCommission
    from moonshot_spark.strategies.base import Moonshot

    class FloorCommission(PercentageCommission):
        BROKER_COMMISSION_RATE = 0.0001
        MIN_COMMISSION = 50.0

    class Strategy(Moonshot):
        COMMISSION_CLASS = FloorCommission
        NLV = {"USD": 1000000.0}

        def prices_to_signals(self, prices):
            return prices.withColumn(
                "signal", (F.col("close") < 100).cast("int"))

    panel = events_to_panel(spark, sf_dir)
    # derive the synthetic master DataFrame-side (no driver collect — the
    # distinct-sids set would not fit a driver list at 100× scale)
    master = (panel.select("sid").distinct()
              .select("sid",
                      F.concat(F.lit("SYM"), F.col("sid")).alias("symbol"),
                      F.lit("STK").alias("sec_type"),
                      F.lit("USD").alias("currency"),
                      F.lit("X").alias("exchange"),
                      F.lit("UTC").alias("timezone"),
                      F.lit(None).cast("double").alias("price_magnifier"),
                      F.lit(None).cast("double").alias("multiplier")))
    results = Strategy().backtest(panel, master=master)
    pivoted = (results.groupBy("sid", "date")
               .pivot("field", ["Turnover", "Commission"])
               .agg(F.first("value")))
    return pivoted.select("sid", "date",
                          F.col("Turnover").alias("turnover"),
                          F.col("Commission").alias("commission"))


# --------------------------------------------------------------------- #
# round-trip holding periods: islands of nonzero position, per-trip P&L #
# --------------------------------------------------------------------- #

@register("holding_period_returns", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
rets AS (
    SELECT sid, date, coalesce(position, 0) AS p,
           coalesce((close / lag(close) OVER w - 1)
               * lag(position) OVER w, 0) AS r
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
base AS (
    SELECT sid, date, p, r,
           row_number() OVER (PARTITION BY sid ORDER BY date) AS rn
    FROM rets
),
nz AS (
    SELECT sid, date, p, r, rn,
           rn - row_number() OVER (PARTITION BY sid ORDER BY date) AS grp
    FROM base WHERE p <> 0
)
SELECT sid, min(date) AS entry_date, max(date) AS exit_date,
       CAST(count(*) AS BIGINT) AS n_days,
       list_reduce(list(r ORDER BY date), (a, b) -> a + b) AS total_return
FROM nz GROUP BY sid, grp
""")
def holding_period_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip trade analysis: consecutive nonzero-position runs
    (gaps-and-islands on NetExposure) become one row per holding period
    with entry/exit dates and the period's summed return.  The reference
    reports daily return series only (moonshot.py results concat) —
    per-trip attribution is the report a researcher builds on top.
    Position islands reuse the backtest's own NetExposure/Return fields,
    un-melted by conditional aggregation in ONE pass of the backtest DAG
    (a filter+self-join would run the whole pipeline twice); per-trip
    return sums fold in date order so float addition is pinned."""
    from moonshot_spark.strategies.demo import DualMovingAverage

    panel = events_to_panel(spark, sf_dir)
    results = DualMovingAverage().backtest(panel)
    base = (results.where(F.col("field").isin("NetExposure", "Return"))
            .groupBy("sid", "date")
            .agg(F.coalesce(
                     F.max(F.when(F.col("field") == "NetExposure",
                                  F.col("value"))),
                     F.lit(0.0)).alias("p"),
                 F.coalesce(
                     F.max(F.when(F.col("field") == "Return",
                                  F.col("value"))),
                     F.lit(0.0)).alias("r")))
    w = Window.partitionBy("sid").orderBy("date")
    nz = (base.withColumn("rn", F.row_number().over(w))
          .where(F.col("p") != 0)
          .withColumn("grp", F.col("rn") - F.row_number().over(w)))
    folded = fold_sum_exact("date", F.col("r"),
                            label="holding_period_returns")
    return (nz.groupBy("sid", "grp")
            .agg(F.min("date").alias("entry_date"),
                 F.max("date").alias("exit_date"),
                 F.count("*").alias("n_days"),
                 folded.alias("total_return"))
            .drop("grp"))


# --------------------------------------------------------------------- #
# volatility-targeted (inverse-vol) portfolio weights                   #
# --------------------------------------------------------------------- #

@register("vol_target_weights", f"""
WITH panel AS ({PANEL_SQL}),
rets AS (
    SELECT sid, date,
           (close / lag(close) OVER w - 1) AS r
    FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)
),
mom AS (
    SELECT sid, date, r,
           CASE WHEN count(r) OVER w10 >= 10 THEN
               list_reduce(list(r) OVER w10, (a, b) -> a + b)
           END AS sx,
           CASE WHEN count(r) OVER w10 >= 10 THEN
               list_reduce(list(r * r) OVER w10, (a, b) -> a + b)
           END AS sxx,
           CAST(count(r) OVER w10 AS DOUBLE) AS n
    FROM rets
    WINDOW w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
vol AS (
    SELECT sid, date,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS vol10
    FROM mom
),
iv AS (
    SELECT sid, date,
           CASE WHEN vol10 > 0 THEN 1.0 / vol10 END AS ivol
    FROM vol
),
z AS (
    SELECT sid, date, ivol,
           CASE WHEN ivol IS NOT NULL THEN
               list_reduce(list(ivol) OVER (
                   PARTITION BY date ORDER BY sid
                   ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING), (a, b) -> a + b)
           END AS znorm
    FROM iv
)
SELECT sid, date, ivol, ivol / znorm AS weight
FROM z
""")
def vol_target_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-volatility (risk-parity style) weight allocation: rolling
    10-day return vol per sid, weight ∝ 1/vol normalized cross-
    sectionally per date — the volatility-targeted variant of the
    reference's equal-weight allocation (mixins/weight.py).  Every
    accumulation — the rolling moment sums AND the per-date normalizer —
    folds in pinned order (date within sid, sid within date) so the
    doubles are exact across engines; two shuffles total (by sid, then
    by date), the same budget as any cross-sectional window op."""
    panel = events_to_panel(spark, sf_dir)
    w = Window.partitionBy("sid").orderBy("date")
    rets = panel.select("sid", "date", pct_change("close", 1, w).alias("r"))
    # the sums are defined on full 10-row frames only (rolling_sum's
    # min_periods), where the oracle's count(r) is 10
    r, n = F.col("r"), F.lit(10.0)
    sx = rolling_sum(r, 10, w)
    sxx = rolling_sum(r * r, 10, w)
    vol = F.sqrt((sxx - sx * sx / n) / (n - F.lit(1)))
    mom = rets.select("sid", "date",
                    F.when(vol > 0, F.lit(1.0) / vol).alias("ivol"))
    xs = (Window.partitionBy("date").orderBy("sid")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    znorm = F.when(F.col("ivol").isNotNull(), frame_sum("ivol", xs))
    return mom.select("sid", "date", "ivol",
                      (F.col("ivol") / znorm).alias("weight"))


# --------------------------------------------------------------------- #
# universe screening: median-dollar-volume liquidity filter             #
# --------------------------------------------------------------------- #

@register("sid_liquidity_screen", f"""
WITH panel AS ({PANEL_SQL}),
dv AS (
    SELECT sid, median(close * volume) AS med_dollar_vol,
           CAST(count(*) AS BIGINT) AS n_days
    FROM panel GROUP BY sid
),
ranked AS (
    SELECT sid, med_dollar_vol, n_days,
           CAST(rank() OVER (ORDER BY med_dollar_vol DESC, sid) AS INT)
               AS liq_rank
    FROM dv
)
SELECT sid, med_dollar_vol, n_days, liq_rank,
       liq_rank <= 75 AS in_universe
FROM ranked
""")
def sid_liquidity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universe selection by liquidity — the screening step the reference
    delegates to universe filters upstream (get_prices universes
    parameter): median daily dollar volume per sid, ranked, top-75 flag.
    The median is an order statistic over the per-sid panel (one grouped
    aggregate) and the rank runs over the tiny per-sid table.  close ×
    volume is a single product per row — no accumulation drift."""
    panel = events_to_panel(spark, sf_dir)
    dv = (panel.groupBy("sid")
          .agg(F.median(F.col("close") * F.col("volume"))
               .alias("med_dollar_vol"),
               F.count("*").alias("n_days")))
    rank = F.rank().over(
        Window.orderBy(F.col("med_dollar_vol").desc(), "sid")).cast("int")
    return dv.select(
        "sid", "med_dollar_vol", "n_days", rank.alias("liq_rank")) \
        .withColumn("in_universe", F.col("liq_rank") <= 75)


# --------------------------------------------------------------------- #
# execution research: would a resting limit order have filled?          #
# --------------------------------------------------------------------- #

@register("limit_fill_rates", f"""
WITH panel AS ({PANEL_SQL}),
sim AS (
    SELECT sid, date, close * 0.99 AS limit_px,
           lead(low)  OVER w AS next_low,
           lead(high) OVER w AS next_high
    FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)
)
SELECT sid,
       CAST(count(next_low) AS BIGINT) AS n_orders,
       CAST(count(CASE WHEN next_low <= limit_px THEN 1 END) AS BIGINT)
           AS n_buy_fills,
       CAST(count(CASE WHEN next_high >= limit_px / 0.99 * 1.01 THEN 1 END)
            AS BIGINT) AS n_sell_fills
FROM sim GROUP BY sid
""")
def limit_fill_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execution research: a buy limit resting 1% below today's close
    fills tomorrow iff tomorrow's low trades through it (sell side
    symmetric at +1%) — the fill model behind limit-order backtests the
    reference's market-order pipeline (trade.py) doesn't cover.  One
    lead() window per sid, integer fill counts — no float accumulation,
    and the fill predicate is the same two-operand comparison in both
    engines."""
    panel = events_to_panel(spark, sf_dir)
    w = Window.partitionBy("sid").orderBy("date")
    sim = panel.select(
        "sid", "date",
        (F.col("close") * 0.99).alias("limit_px"),
        F.lead("low").over(w).alias("next_low"),
        F.lead("high").over(w).alias("next_high"))
    return (sim.groupBy("sid")
            .agg(F.count("next_low").alias("n_orders"),
                 F.count(F.when(F.col("next_low") <= F.col("limit_px"), 1))
                 .alias("n_buy_fills"),
                 F.count(F.when(F.col("next_high")
                                >= F.col("limit_px") / 0.99 * 1.01, 1))
                 .alias("n_sell_fills")))


# --------------------------------------------------------------------- #
# index reconstitution: weekly top-30 liquidity universe churn          #
# --------------------------------------------------------------------- #

@register("universe_churn_weekly", f"""
WITH panel AS ({PANEL_SQL}),
wk AS (
    SELECT CAST(date_trunc('week', date) AS DATE) AS week, sid,
           median(close * volume) AS med_dv
    FROM panel GROUP BY 1, 2
),
ranked AS (
    SELECT week, sid,
           rank() OVER (PARTITION BY week ORDER BY med_dv DESC, sid) AS rk
    FROM wk
),
members AS (
    SELECT week, list(sid ORDER BY sid) AS universe
    FROM ranked WHERE rk <= 30 GROUP BY week
),
lagged AS (
    SELECT week, universe,
           lag(universe) OVER (ORDER BY week) AS prev_universe
    FROM members
)
SELECT week,
       CAST(len(universe) AS BIGINT) AS n_members,
       CAST(CASE WHEN prev_universe IS NULL THEN NULL
            ELSE len(universe) - len(list_intersect(universe, prev_universe))
            END AS BIGINT) AS n_added,
       CAST(CASE WHEN prev_universe IS NULL THEN NULL
            ELSE len(prev_universe)
                 - len(list_intersect(universe, prev_universe))
            END AS BIGINT) AS n_dropped
FROM lagged
""")
def universe_churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-reconstitution analytics: each week's top-30 sids by median
    dollar volume, and how many entered/left vs the prior week.  The
    membership sets are collected as sid-sorted arrays per week (30
    elements, bounded by construction — never the full panel) and
    compared with one lag + array intersection; the heavy input reduces
    to (weeks × sids) medians in one grouped aggregate first.  This is
    the weekly churn report behind rebalance-cost budgeting."""
    panel = events_to_panel(spark, sf_dir)
    wk = (panel.groupBy(
        F.date_trunc("week", F.col("date")).cast("date").alias("week"),
        "sid")
        .agg(F.median(F.col("close") * F.col("volume")).alias("med_dv")))
    rk = F.rank().over(
        Window.partitionBy("week").orderBy(F.col("med_dv").desc(), "sid"))
    members = (wk.withColumn("rk", rk).where(F.col("rk") <= 30)
               .groupBy("week")
               .agg(F.array_sort(F.collect_list("sid")).alias("universe")))
    lagged = members.withColumn(
        "prev_universe", F.lag("universe").over(Window.orderBy("week")))
    inter = F.size(F.array_intersect("universe", "prev_universe"))
    return lagged.select(
        "week",
        F.size("universe").cast("bigint").alias("n_members"),
        F.when(F.col("prev_universe").isNotNull(),
               (F.size("universe") - inter)).cast("bigint").alias("n_added"),
        F.when(F.col("prev_universe").isNotNull(),
               (F.size("prev_universe") - inter)).cast("bigint")
         .alias("n_dropped"))


# --------------------------------------------------------------------- #
# momentum decile portfolio sort (weekly formation)                     #
# --------------------------------------------------------------------- #

@register("momentum_decile_sort", f"""
WITH panel AS ({PANEL_SQL}),
wk AS (
    SELECT sid, CAST(date_trunc('week', date) AS DATE) AS week,
           arg_min(close, date) AS first_close,
           arg_max(close, date) AS last_close
    FROM panel GROUP BY 1, 2
),
mom AS (
    SELECT sid, week,
           (last_close - first_close) / first_close AS wk_ret,
           lead((last_close - first_close) / first_close)
               OVER (PARTITION BY sid ORDER BY week) AS fwd_ret
    FROM wk
),
-- a zero first_close makes momentum undefined: Spark (ANSI off) yields
-- NULL, DuckDB yields NaN, and the two sort to OPPOSITE ends of the
-- ntile order — exclude them in both engines before ranking
defined AS (
    SELECT * FROM mom
    WHERE wk_ret IS NOT NULL AND NOT isnan(wk_ret)
),
ranked AS (
    SELECT sid, week, wk_ret, fwd_ret,
           CAST(ntile(10) OVER (PARTITION BY week
                                ORDER BY wk_ret, sid) AS INT) AS decile
    FROM defined
),
partials AS (
    SELECT week, decile,
           CAST(count(fwd_ret) AS BIGINT) AS n,
           list_reduce(list(coalesce(fwd_ret, 0) ORDER BY sid),
                       (a, b) -> a + b) AS p
    FROM ranked GROUP BY week, decile
)
SELECT decile,
       CAST(sum(n) AS BIGINT) AS n_obs,
       list_reduce(list(p ORDER BY week), (a, b) -> a + b)
           / CAST(sum(n) AS DOUBLE) AS mean_fwd_ret
FROM partials WHERE n > 0 GROUP BY decile
""")
def momentum_decile_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portfolio sort — the workhorse of empirical asset pricing: each
    week, sids are ranked into momentum deciles by that week's return
    (first→last close), and next week's mean return is computed per
    decile.  A monotone decile→forward-return profile is the momentum
    anomaly; flat means none.  ntile ties break on sid, and the mean
    folds hierarchically (sid within week, week across) — the whole
    two-pass study is two shuffles (sid-week rollup, week ranking)."""
    panel = events_to_panel(spark, sf_dir)
    wk = (panel.groupBy(
        "sid", F.date_trunc("week", F.col("date")).cast("date").alias("week"))
        .agg(F.min_by("close", "date").alias("first_close"),
             F.max_by("close", "date").alias("last_close")))
    wk_ret = ((F.col("last_close") - F.col("first_close"))
              / F.col("first_close"))
    ws = Window.partitionBy("sid").orderBy("week")
    mom = wk.select("sid", "week", wk_ret.alias("wk_ret")) \
        .withColumn("fwd_ret", F.lead("wk_ret").over(ws))
    # zero first_close => undefined momentum: NULL here, NaN in DuckDB,
    # and they sort to opposite ends — drop before ranking (see oracle)
    defined = mom.where(F.col("wk_ret").isNotNull()
                        & ~F.isnan(F.col("wk_ret")))
    decile = F.ntile(10).over(
        Window.partitionBy("week").orderBy("wk_ret", "sid"))
    ranked = defined.withColumn("decile", decile)

    # width-guarded order-pinned folds (functions/folds.py): errors
    # inside the job if a group outgrows the in-array bound
    q = "momentum_decile_sort"
    partials = ranked.groupBy("week", "decile").agg(
        F.count("fwd_ret").alias("n"),
        fold_sum_exact("sid", F.coalesce(F.col("fwd_ret"), F.lit(0)),
                       label=q).alias("p"))
    return (partials.where(F.col("n") > 0)
            .groupBy("decile")
            .agg(F.sum("n").alias("n_obs"),
                 (fold_sum_exact("week", F.col("p"), label=q)
                  / F.sum("n").cast("double")).alias("mean_fwd_ret")))


# --------------------------------------------------------------------- #
# Donchian channel breakouts                                            #
# --------------------------------------------------------------------- #

@register("donchian_breakouts", f"""
WITH panel AS ({PANEL_SQL}),
ch AS (
    SELECT sid, date, close,
           max(high) OVER wp AS ch_high,
           min(low)  OVER wp AS ch_low,
           CAST(count(*) OVER wp AS INT) AS n_prior
    FROM panel
    WINDOW wp AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT sid,
       CAST(count(CASE WHEN n_prior >= 10 AND close > ch_high
                       THEN 1 END) AS BIGINT) AS n_breakout_up,
       CAST(count(CASE WHEN n_prior >= 10 AND close < ch_low
                       THEN 1 END) AS BIGINT) AS n_breakout_down,
       CAST(count(CASE WHEN n_prior >= 10 THEN 1 END) AS BIGINT)
           AS n_eligible
FROM ch GROUP BY sid
""")
def donchian_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel breakout counts: closes above the prior 10-day
    high / below the prior 10-day low (the turtle-trader entry rule,
    min_periods=10).  Channel bounds are order statistics over a
    trailing frame that EXCLUDES the current row (1 PRECEDING) — the
    off-by-one that silently inflates breakout counts if the frame
    includes today.  One shuffle, integer outputs."""
    panel = events_to_panel(spark, sf_dir)
    wp = (Window.partitionBy("sid").orderBy("date").rowsBetween(-10, -1))
    ch = panel.select(
        "sid", "close",
        F.max("high").over(wp).alias("ch_high"),
        F.min("low").over(wp).alias("ch_low"),
        F.count("*").over(wp).cast("int").alias("n_prior"))
    elig = F.col("n_prior") >= 10
    return (ch.groupBy("sid")
            .agg(F.count(F.when(elig & (F.col("close") > F.col("ch_high")),
                                1)).alias("n_breakout_up"),
                 F.count(F.when(elig & (F.col("close") < F.col("ch_low")),
                                1)).alias("n_breakout_down"),
                 F.count(F.when(elig, 1)).alias("n_eligible")))


# --------------------------------------------------------------------- #
# portfolio VaR / expected shortfall (historical simulation)            #
# --------------------------------------------------------------------- #

@register("portfolio_var_es", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN (CASE WHEN count(close) OVER w5 >= 5
                      THEN avg(close) OVER w5 END)
                   > (CASE WHEN count(close) OVER w10 >= 10
                      THEN avg(close) OVER w10 END)
                THEN 1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w5 AS (PARTITION BY sid ORDER BY date
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w10 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
rets AS (
    SELECT sid, date,
           coalesce((close / lag(close) OVER w - 1)
               * lag(position) OVER w, 0) AS r
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
port AS (
    SELECT date,
           list_reduce(list(r ORDER BY sid), (a, b) -> a + b) AS pr
    FROM rets GROUP BY date
),
pq AS (
    SELECT list(pr ORDER BY pr) AS arr,
           CAST(0.05 AS DOUBLE) * (count(*) - 1) AS pos5
    FROM port
),
q AS (
    -- Spark percentile() interpolation, bit-exact (r15 10x-decade pin;
    -- see the shipping_lead_time_quantiles oracle note)
    SELECT CASE WHEN CAST(floor(pos5) AS BIGINT) = CAST(ceil(pos5) AS BIGINT)
                  OR arr[CAST(floor(pos5) AS BIGINT) + 1]
                     = arr[CAST(ceil(pos5) AS BIGINT) + 1]
                THEN arr[CAST(floor(pos5) AS BIGINT) + 1]
                ELSE (CAST(ceil(pos5) AS BIGINT) - pos5)
                       * arr[CAST(floor(pos5) AS BIGINT) + 1]
                   + (pos5 - CAST(floor(pos5) AS BIGINT))
                       * arr[CAST(ceil(pos5) AS BIGINT) + 1] END AS var5
    FROM pq
)
SELECT q.var5 AS var_5pct,
       (SELECT list_reduce(list(pr ORDER BY date), (a, b) -> a + b)
               / CAST(count(*) AS DOUBLE)
        FROM port WHERE pr <= q.var5) AS es_5pct,
       (SELECT CAST(count(*) AS BIGINT) FROM port WHERE pr <= q.var5)
           AS n_tail,
       (SELECT CAST(count(*) AS BIGINT) FROM port) AS n_days
FROM q
""")
def portfolio_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation VaR and expected shortfall of the DMA
    portfolio's daily return series: the 5% exact interpolated quantile
    (order statistic — identical interpolation in both engines, same as
    rolling_median) and the mean of the tail at-or-below it (date-
    ordered fold).  The return series reduces to one row per date before
    any quantile work, so the risk report costs a ~dates-sized
    aggregate regardless of panel width."""
    from moonshot_spark.strategies.demo import DualMovingAverage

    panel = events_to_panel(spark, sf_dir)
    results = DualMovingAverage().backtest(panel)
    rets = (results.where(F.col("field") == "Return")
            .select("sid", "date", F.col("value").alias("r")))
    # width-guarded order-pinned folds (functions/folds.py): per-date
    # arrays grow with the cross-section — the guard fails fast instead
    # of OOMing if pointed at an unbounded universe
    folded_sid = fold_sum_exact(
        "sid", F.coalesce(F.col("r"), F.lit(0.0)), label="portfolio_var_es")
    # r15 (guide §2.4): var5/tail/n_days each referenced `port` as a
    # separate subtree, re-running the whole DMA backtest (40 Windows,
    # 54 Exchanges in the static plan) three times per execution;
    # persisting the one-row-per-date portfolio series computes the
    # backtest once.  Values unchanged.
    port = rets.groupBy("date").agg(folded_sid.alias("pr")).persist()
    var5 = port.agg(
        F.expr("percentile(pr, 0.05)").alias("var_5pct"))
    tail = (port.crossJoin(F.broadcast(var5))
            .where(F.col("pr") <= F.col("var_5pct")))
    folded_date = fold_sum_exact(
        "date", F.col("pr"), label="portfolio_var_es")
    stats = tail.agg(
        (folded_date / F.count("*").cast("double")).alias("es_5pct"),
        F.count("*").alias("n_tail"))
    n_days = port.agg(F.count("*").alias("n_days"))
    return (var5.crossJoin(stats).crossJoin(n_days)
            .select("var_5pct", "es_5pct", "n_tail", "n_days"))


# --------------------------------------------------------------------- #
# Bollinger mean-reversion backtest (long/short, TA-stack strategy)     #
# --------------------------------------------------------------------- #

@register("backtest_bollinger_meanrev", f"""
WITH panel AS ({PANEL_SQL}),
sig AS (
    SELECT sid, date, close,
           CASE WHEN count(close) OVER w20 >= 20
                 AND close < avg(close) OVER w20
                             - 2.0 * stddev_samp(close) OVER w20
                THEN 1.0
                WHEN count(close) OVER w20 >= 20
                 AND close > avg(close) OVER w20
                             + 2.0 * stddev_samp(close) OVER w20
                THEN -1.0 ELSE 0.0 END AS signal
    FROM panel
    WINDOW w20 AS (PARTITION BY sid ORDER BY date
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
wts AS (
    SELECT *, signal / (CASE WHEN coalesce(sum(abs(signal)) OVER (PARTITION BY date), 0) <> 0
                             THEN sum(abs(signal)) OVER (PARTITION BY date)
                             ELSE 1 END) AS weight
    FROM sig
),
pos AS (
    SELECT *, lag(weight) OVER (PARTITION BY sid ORDER BY date) AS position FROM wts
),
gross AS (
    SELECT *,
           (close / lag(close) OVER w - 1)
               * lag(position) OVER w AS gross_return,
           abs(coalesce(position, 0) - lag(coalesce(position, 0)) OVER w) AS turnover
    FROM pos WINDOW w AS (PARTITION BY sid ORDER BY date)
),
fin AS (
    SELECT *, coalesce(gross_return, 0) AS ret,
           CASE WHEN coalesce(position, 0) <> 0 THEN 1.0 ELSE 0.0 END AS total_holdings
    FROM gross
)
SELECT field, sid, date, value FROM (
    SELECT 'AbsExposure' AS field, sid, date, abs(position) AS value FROM fin
    UNION ALL SELECT 'AbsWeight', sid, date, abs(weight) FROM fin
    UNION ALL SELECT 'Commission', sid, date, 0.0 FROM fin
    UNION ALL SELECT 'NetExposure', sid, date, position FROM fin
    UNION ALL SELECT 'Return', sid, date, ret FROM fin
    UNION ALL SELECT 'Signal', sid, date, signal FROM fin
    UNION ALL SELECT 'Slippage', sid, date, 0.0 FROM fin
    UNION ALL SELECT 'TotalHoldings', sid, date, total_holdings FROM fin
    UNION ALL SELECT 'Turnover', sid, date, turnover FROM fin
    UNION ALL SELECT 'Weight', sid, date, weight FROM fin
)
""")
def backtest_bollinger_meanrev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full backtest of the Bollinger mean-reversion strategy
    (``strategies.demo.BollingerMeanReversion``) — a band signal driving
    the SAME reference pipeline as the DMA flagship: signals → equal
    gross weights (long AND short, so the Σ|signal| normalization is
    exercised with mixed-sign books) → next-day positions →
    returns/turnover → 10-field melt.  The band comparison is the only
    float-sensitive edge (a windowed std at an exact threshold); every
    downstream value is an exact ratio of integers or a product of
    pinned doubles, the DMA discipline."""
    from moonshot_spark.strategies.demo import BollingerMeanReversion

    panel = events_to_panel(spark, sf_dir)
    results = BollingerMeanReversion().backtest(panel)
    return results.select("field", "sid", "date", "value")


# --------------------------------------------------------------------- #
# rolling historical-VaR exceedance backtest (Kupiec counts)            #
# --------------------------------------------------------------------- #

@register("var_exceedance_backtest", f"""
WITH panel AS ({PANEL_SQL}),
rets AS (
    SELECT sid, date,
           (close / lag(close) OVER w - 1) AS r
    FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)
), rr AS (
    SELECT sid, date, r FROM rets WHERE r IS NOT NULL
), framed AS (
    SELECT sid, date, r,
           list(r) OVER (PARTITION BY sid ORDER BY date
                         ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING) AS hist
    FROM rr
), v AS (
    SELECT sid, date, r,
           CASE WHEN len(hist) >= 30 THEN
               list_sort(hist)[CAST(ceil(0.05 * len(hist)) AS INT)]
           END AS var5
    FROM framed
)
SELECT sid, CAST(count(var5) AS BIGINT) AS n_obs,
       CAST(sum(CASE WHEN r < var5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exceed,
       CAST(sum(CASE WHEN r < var5 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(var5) AS DOUBLE) AS exceed_rate,
       min(CASE WHEN r < var5 THEN r - var5 END) AS worst_breach
FROM v GROUP BY sid
""")
def var_exceedance_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample VaR validation (the Kupiec proportion-of-failures
    counts behind portfolio_var_es): each day's 5% historical VaR is the
    nearest-rank order statistic of the PRIOR ≤60 returns (frame
    excludes the current row — no look-ahead), and each sid tallies
    integer exceedance counts, the exact failure rate (single division)
    and the worst breach depth (order-insensitive min).  Order
    statistics instead of interpolated quantiles keep the whole report
    engine-exact: sorting a bounded frame array is deterministic, and
    no float accumulates across rows.  One sid shuffle; 61-row bounded
    state per row."""
    panel = events_to_panel(spark, sf_dir)
    ws = Window.partitionBy("sid").orderBy("date")
    prev = F.lag("close").over(ws)
    rr = (panel.select("sid", "date",
                       (F.col("close") / prev - 1).alias("r"))
          .where(F.col("r").isNotNull()))
    hist = F.array_sort(F.collect_list("r").over(ws.rowsBetween(-60, -1)))
    framed = rr.select("sid", "date", "r", hist.alias("hist"))
    n = F.size("hist")
    var5 = F.when(n >= 30,
                  F.element_at("hist",
                               F.ceil(F.lit(0.05) * n).cast("int")))
    v = framed.select("sid", "date", "r", var5.alias("var5"))
    exceed = F.when(F.col("r") < F.col("var5"), 1).otherwise(0)
    return (v.groupBy("sid")
            .agg(F.count("var5").alias("n_obs"),
                 F.sum(exceed).cast("bigint").alias("n_exceed"),
                 (F.sum(exceed).cast("double")
                  / F.count("var5").cast("double")).alias("exceed_rate"),
                 F.min(F.when(F.col("r") < F.col("var5"),
                              F.col("r") - F.col("var5")))
                 .alias("worst_breach")))


# --------------------------------------------------------------------- #
# Kelly-criterion sizing with capped fractions and gross normalization  #
# --------------------------------------------------------------------- #

@register("kelly_sizing_weights", """
WITH panel AS (
    SELECT CAST(user_id AS VARCHAR) AS sid, CAST(ts AS DATE) AS date,
           arg_max(value, ts) AS close
    FROM events GROUP BY 1, 2
), rets AS (
    SELECT sid, date,
           coalesce((close / lag(close) OVER w - 1), 0) AS r
    FROM panel WINDOW w AS (PARTITION BY sid ORDER BY date)
), series AS (
    SELECT sid, list(r ORDER BY date) AS rs FROM rets GROUP BY sid
), moments AS (
    SELECT sid, len(rs) AS n,
           list_reduce(rs, (a, b) -> a + b) AS s1,
           list_reduce(list_transform(rs, x -> x * x),
                       (a, b) -> a + b) AS s2
    FROM series
), kelly AS (
    SELECT sid, CAST(n AS BIGINT) AS n_periods,
           s1 / n AS mean_r,
           s2 / n - (s1 / n) * (s1 / n) AS var_r,
           CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
               least(greatest((s1 / n) / (s2 / n - (s1 / n) * (s1 / n)),
                              -1.0), 1.0)
           ELSE 0.0 END AS f_capped
    FROM moments
), gross AS (
    SELECT list_reduce(list_transform(list(f_capped ORDER BY sid),
                                      x -> abs(x)), (a, b) -> a + b) AS g
    FROM kelly
)
SELECT k.sid, k.n_periods, k.mean_r, k.var_r, k.f_capped,
       CASE WHEN g <> 0 THEN k.f_capped / g END AS weight
FROM kelly k CROSS JOIN gross
""")
def kelly_sizing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kelly-criterion position sizing per sid: f* = μ/σ² over the
    sid's daily return history (the log-wealth-optimal fraction for
    small returns), clipped to ±1 (no leverage), then normalized to a
    gross-1 book — the principled upgrade of equal weights the
    reference's fixed-weight allocators approximate.  Exactness: μ and
    σ² come from the sharpe_per_sid pinned folds; the gross divisor is
    a sid-ordered fold over the (universe-sized, bounded) fraction
    list, broadcast back as a 1-row cross join.  clip before normalize,
    so one explosive low-variance sid cannot crowd out the book."""
    panel = events_to_panel(spark, sf_dir)
    ws = Window.partitionBy("sid").orderBy("date")
    prev = F.lag("close").over(ws)
    rets = panel.select(
        "sid", "date",
        F.coalesce(F.col("close") / prev - 1, F.lit(0.0)).alias("r"))
    series = (rets.groupBy("sid")
              .agg(F.transform(
                  F.array_sort(F.collect_list(F.struct("date", "r"))),
                  lambda s: s["r"]).alias("rs")))
    add = lambda a, b: a + b
    n = F.size("rs")
    s1 = F.aggregate("rs", F.lit(0.0), add)
    s2 = F.aggregate(F.transform("rs", lambda x: x * x), F.lit(0.0), add)
    moments = series.select("sid", n.alias("n"), s1.alias("s1"),
                            s2.alias("s2"))
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    f_capped = F.when(var > 0,
                      F.least(F.greatest(mean / var, F.lit(-1.0)),
                              F.lit(1.0))).otherwise(F.lit(0.0))
    kelly = moments.select(
        "sid", F.col("n").cast("bigint").alias("n_periods"),
        mean.alias("mean_r"), var.alias("var_r"),
        f_capped.alias("f_capped"))
    gross = kelly.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sid", "f_capped"))),
                lambda s: F.abs(s["f_capped"])),
            F.lit(0.0), add).alias("g"))
    return (kelly.crossJoin(F.broadcast(gross))
            .select("sid", "n_periods", "mean_r", "var_r", "f_capped",
                    F.when(F.col("g") != 0,
                           F.col("f_capped") / F.col("g")).alias("weight")))
