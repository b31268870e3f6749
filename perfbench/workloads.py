"""The benchmark's workloads.  Each is a closed loop with one client: the
benchmark process issues an op, waits for its result, then issues the
next.  Ops run in blocks of fixed composition and a run always ends on a
block boundary, so every run measures the same mix.

A workload calls the program only through its public surface:
``get_spark``, ``get_prices``, ``Moonshot.backtest`` / ``.trade``,
``operators.metrics.summary_metrics`` and ``queries.QUERIES``.
Outputs are kept and checked after the timed window.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

import gen


class Workload:
    name = ""
    #: a run times at least this many blocks, however long they take
    MIN_BLOCKS = 1

    def __init__(self, seed: int, data_dir: str, tracer):
        self.seed = seed
        self.data_dir = data_dir
        self.tracer = tracer

    def generate(self) -> None:
        """Write the seeded inputs (untimed)."""

    def start(self, spark) -> None:
        """Per-session set-up before the warm-up ops."""

    def warmup_specs(self) -> list:
        """Untimed ops run in set-up (counted in setup_s)."""
        raise NotImplementedError

    def blocks(self):
        """Yield lists of op specs forever."""
        raise NotImplementedError

    def run_op(self, spark, spec):
        raise NotImplementedError

    def check(self, done: list) -> list[str]:
        """``done`` holds (spec, result) of every op that returned; return
        one message per op whose output is wrong."""
        raise NotImplementedError


# ---------------------------------------------------------------------- #
# research_backtest                                                      #
# ---------------------------------------------------------------------- #

class ResearchBacktest(Workload):
    """Backtests of seeded strategies over a daily panel, with one live
    trade cycle per block over a small five-minute panel."""

    name = "research_backtest"
    MIN_BLOCKS = 2
    N_SIDS = 500
    N_SESSIONS = 2520
    HOT_SESSIONS = 126             # half a year
    DMA_PAIRS = [(5, 20), (10, 20), (10, 50), (20, 50)]
    BOLL = [(20, 1.5), (20, 2.0)]
    N_TRADE_SIDS = 200
    N_TRADE_SESSIONS = 5
    TRADE_LOOKBACK = 3             # sessions of bars the trade reads

    def generate(self):
        self.path = os.path.join(self.data_dir, "daily.parquet")
        self.closes = gen.write_daily_panel(
            self.path, gen.rng_for(self.seed, "daily"), self.N_SIDS,
            self.N_SESSIONS)
        self.cache_dir = os.path.join(self.data_dir, "cache")
        self.intraday_path = os.path.join(self.data_dir, "intraday.parquet")
        self.bars = gen.write_intraday_panel(
            self.intraday_path, gen.rng_for(self.seed, "intraday"),
            self.N_TRADE_SIDS, self.N_TRADE_SESSIONS)
        self.accounts = gen.trade_accounts(gen.rng_for(self.seed, "accounts"),
                                           list(self.bars))
        self.plan([d.isoformat() for d in self.closes.index])

    def plan(self, dates: list[str]) -> None:
        self.dates = dates
        self.rng = gen.rng_for(self.seed, "research-ops")
        # shifts of the hot range that no other op uses: each one misses
        # the cache, and every miss reads as many sessions as a hit
        self.miss_shifts = list(self.rng.permutation(np.arange(1, 252)))
        self.hot = (dates[-self.HOT_SESSIONS], dates[-1])

    def start(self, spark):
        from moonshot_spark.sources.local import local_df
        self.master = local_df(spark, gen.master_rows(list(self.closes)),
                               gen.MASTER_SCHEMA)
        acc = self.accounts
        self.trade_inputs = {
            "balances": local_df(
                spark, [(a, c, n) for a, (c, n) in acc["balances"].items()],
                "account string, currency string, net_liquidation double"),
            "exchange_rates": local_df(
                spark, [("EUR", "USD", gen.EUR_USD)],
                "base_currency string, quote_currency string, rate double"),
            "positions": local_df(
                spark, [(s, a, q) for (s, a), q in acc["positions"].items()],
                "sid string, account string, quantity long"),
            "master": local_df(spark, gen.master_rows(list(self.bars)),
                               gen.MASTER_SCHEMA),
        }

    def _strategy(self, kind: str):
        if kind == "boll":
            w, k = self.BOLL[int(self.rng.integers(len(self.BOLL)))]
            return ("boll", w, k)
        s, l = self.DMA_PAIRS[int(self.rng.integers(len(self.DMA_PAIRS)))]
        return (kind, s, l)

    def _trade_bar(self) -> tuple[int, int]:
        """(session, bar) of the signal: one of the last two sessions, any
        bar but the last, so the next bar is the trade time."""
        day = self.N_TRADE_SESSIONS - 1 - int(self.rng.integers(2))
        return day, int(self.rng.integers(gen.BARS_PER_SESSION - 1))

    def warmup_specs(self):
        """A moving average with costs over the hot range, which fills the
        cache, a Bollinger backtest and one trade cycle, so that each code
        path has run once before the timed ops."""
        start, end = self.hot
        return [{"strategy": ("dma-costs", 5, 20), "start": start, "end": end},
                {"strategy": ("boll", 20, 2.0), "start": start, "end": end},
                {"trade": (self.N_TRADE_SESSIONS - 1, 40)}]

    def blocks(self):
        """Four ops: a moving-average backtest on the hot range shifted
        back by a fresh number of sessions (a cache miss), a moving
        average with costs and a Bollinger backtest on the hot range
        (cache hits), and one trade cycle.  The seed draws the window
        parameters, the shift and the signal bar; the kinds and their
        order are fixed, because with eight ops a run's median moved by a
        fifth from seed to seed when the seed also chose which kind
        missed."""
        while True:
            k = int(self.miss_shifts.pop())
            yield [{"strategy": self._strategy("dma"),
                    "start": self.dates[-self.HOT_SESSIONS - k],
                    "end": self.dates[-1 - k]},
                   {"strategy": self._strategy("dma-costs"),
                    "start": self.hot[0], "end": self.hot[1]},
                   {"strategy": self._strategy("boll"),
                    "start": self.hot[0], "end": self.hot[1]},
                   {"trade": self._trade_bar()}]

    @staticmethod
    def strategy_class(spec):
        from moonshot_spark.strategies.demo import (
            BollingerMeanReversion, DualMovingAverage,
            DualMovingAverageWithCosts)
        kind, a, b = spec
        if kind == "boll":
            return type("BenchBollinger", (BollingerMeanReversion,),
                        {"WINDOW": a, "K": b, "LOOKBACK_WINDOW": 252})
        base = DualMovingAverage if kind == "dma" \
            else DualMovingAverageWithCosts
        return type("BenchDMA", (base,), {"SHORT_WINDOW": a,
                                          "LONG_WINDOW": b,
                                          "LOOKBACK_WINDOW": 252})

    def run_op(self, spark, spec):
        if "trade" in spec:
            return self.run_trade(spark, spec)
        from pyspark.sql import functions as F
        from moonshot_spark.operators.metrics import summary_metrics
        from moonshot_spark.sources.prices import get_prices

        strategy = self.strategy_class(spec["strategy"])()
        tr = self.tracer
        with tr.span("sources.get_prices") as sp:
            before = _dir_stats(self.cache_dir) if sp else None
            prices = get_prices(spark, self.path, start_date=spec["start"],
                                end_date=spec["end"], strategy=strategy,
                                cache_dir=self.cache_dir)
            if sp:
                after = _dir_stats(self.cache_dir)
                sp.counts = {"cache_lookups": 1,
                             "cache_hits": int(after[0] == before[0]),
                             "cache_write_b": after[1] - before[1]}
        with tr.span("strategies.backtest"):
            results = strategy.backtest(prices, master=self.master,
                                        start_date=spec["start"],
                                        end_date=spec["end"])
        with tr.span("operators.summary_metrics"):
            returns = (results.where(F.col("field") == "Return")
                       .select("sid", "date", F.col("value").alias("return")))
            summary = summary_metrics(returns)
        with tr.span("action.collect"):
            rows = summary.collect()
        return {r["sid"]: (r["n_periods"], r["total_return"], r["sharpe"],
                           r["cagr"], r["max_drawdown"]) for r in rows}

    def run_trade(self, spark, spec):
        """``DualMovingAverage().trade`` at the bar after the drawn signal
        bar, on the bars of the last few sessions, read without the cache;
        returns the sorted (sid, account, action, quantity) orders."""
        from moonshot_spark.sources.prices import get_prices
        from moonshot_spark.strategies.demo import DualMovingAverage

        day, bar = spec["trade"]
        days = self.bars.index.levels[0]
        trade_at = f"{days[day].isoformat()} {gen.bar_times()[bar + 1]}"
        tr = self.tracer
        with tr.span("sources.get_prices"):
            prices = get_prices(
                spark, self.intraday_path,
                start_date=days[day - self.TRADE_LOOKBACK].isoformat(),
                end_date=days[day].isoformat(), no_cache=True)
        with tr.span("strategies.trade"):
            orders = DualMovingAverage().trade(
                prices, self.accounts["allocations"], review_date=trade_at,
                **self.trade_inputs)
        with tr.span("action.collect_orders"):
            rows = orders.collect() if orders is not None else []
        return sorted((r["sid"], r["account"], r["action"],
                       int(r["total_quantity"])) for r in rows) or None

    def check(self, done):
        from moonshot_spark.strategies.demo import DualMovingAverage
        windows = (DualMovingAverage.SHORT_WINDOW,
                   DualMovingAverage.LONG_WINDOW)
        errors = []
        for spec, got in done:
            if "trade" in spec:
                want = pandas_orders(self.bars, spec["trade"], windows,
                                     self.TRADE_LOOKBACK, self.accounts)
                err = None if got == want else compare_orders(got, want)
            else:
                err = compare_summaries(got,
                                        pandas_summary(self.closes, spec))
            if err:
                errors.append(f"{spec}: {err}")
        return errors


def _dir_stats(path: str) -> tuple[int, int]:
    """(entries, bytes) of a cache directory."""
    n = len(os.listdir(path)) if os.path.isdir(path) else 0
    size = sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)
    return n, size


def pandas_summary(closes: pd.DataFrame, spec: dict) -> dict:
    """The drawn strategy and ``summary_metrics`` re-expressed in pandas on
    the wide closes (date x sid): equal weights, positions = weights
    shifted one bar, gross = pct_change x shifted positions, turnover,
    percentage commission and fixed slippage, then per-sid compounded
    return, Sharpe, CAGR and maximum drawdown over [start, end]."""
    kind, a, b = spec["strategy"]
    start = pd.Timestamp(spec["start"]).date()
    end = pd.Timestamp(spec["end"]).date()
    # a return at start depends on closes back to one window before the
    # weights two rows earlier
    window = a if kind == "boll" else b
    first = max(0, closes.index.get_loc(start) - window - 2)
    px = closes.iloc[first:].loc[:end]
    if kind == "boll":
        mid = px.rolling(a).mean()
        sd = welford_std(px, a)
        full = px.rolling(a).count() >= a
        signals = pd.DataFrame(
            np.where(full & (px < mid - b * sd), 1.0,
                     np.where(full & (px > mid + b * sd), -1.0, 0.0)),
            index=px.index, columns=px.columns)
    else:
        short = px.rolling(a).mean()
        long = px.rolling(b).mean()
        signals = (short > long).astype(float)
    count = signals.abs().sum(axis=1)
    divisor = np.where(count != 0, count, 1.0)
    weights = signals.div(divisor, axis=0) * 1.0 * 1.0
    positions = weights.shift()
    gross = px.pct_change(fill_method=None) * positions.shift()
    if kind == "dma-costs":
        turnover = positions.fillna(0).diff().abs()
        commission = turnover * 0.0005 + turnover * 0.00002
        slippage = (turnover * (2 / 10000.0)).fillna(0.0)
        returns = gross.fillna(0) - commission - slippage
    else:
        returns = gross.fillna(0) - 0.0 - 0.0
    r = returns.loc[start:].fillna(0.0)
    cum = np.expm1(np.log1p(r).cumsum())
    drawdown = (1 + cum) / (1 + cum.cummax()) - 1
    n = len(r)
    total = cum.iloc[-1]
    mean, std = r.mean(), r.std(ddof=1)
    sharpe = (mean / std * math.sqrt(252.0)).where(std > 0)
    cagr = (1 + total) ** (1.0 / (n / 252.0)) - 1
    dd = drawdown.min()
    return {sid: (n, total[sid], sharpe[sid], cagr[sid], dd[sid])
            for sid in closes.columns}


def pandas_orders(bars: pd.DataFrame, signal: tuple[int, int],
                  windows: tuple[int, int], lookback: int,
                  accounts: dict) -> list | None:
    """``DualMovingAverage().trade`` re-expressed in pandas on the wide
    five-minute closes ((date, time) x sid), as in
    ``tests/test_property_differential_trade.py``: short and long rolling
    means over the bars the trade reads, equal weights at the signal bar, contract
    value = the last close at or before it, quantity = weight x allocation
    x NLV x FX rate / |contract value| rounded half-even, minus the
    position held.  Inputs sit on binary grids, so the orders must match
    exactly."""
    day, bar = signal
    days = bars.index.levels[0]
    dates = bars.index.get_level_values(0)
    px = bars[(dates >= days[day - lookback]) & (dates <= days[day])]
    at = px.index.get_loc((days[day], gen.bar_times()[bar]))
    short, long = windows
    signals = (px.rolling(short).mean()
               > px.rolling(long).mean()).astype(float)
    count = signals.abs().sum(axis=1)
    weights = signals.div(np.where(count != 0, count, 1.0), axis=0) * 1.0
    today = weights.iloc[at]
    value = px.iloc[:at + 1].ffill().iloc[-1]
    orders = []
    for acct, alloc in accounts["allocations"].items():
        ccy, nlv = accounts["balances"][acct]
        rate = gen.EUR_USD if ccy == "EUR" else 1.0
        for sid in px.columns:
            c = value[sid]
            qty = (today[sid] * alloc * nlv * rate / abs(c)
                   if c == c and c != 0 else math.nan)
            net = (0 if qty != qty else int(np.round(qty))) \
                - accounts["positions"].get((sid, acct), 0)
            if net:
                orders.append((sid, acct, "BUY" if net > 0 else "SELL",
                               abs(net)))
    return sorted(orders) or None


def compare_orders(got: list | None, want: list | None) -> str:
    if got is None or want is None:
        return f"orders {'none' if got is None else len(got)} != " \
               f"{'none' if want is None else len(want)}"
    extra, missing = sorted(set(got) - set(want)), sorted(set(want) - set(got))
    return (f"{len(extra)} extra orders (first {extra[:1]}), "
            f"{len(missing)} missing (first {missing[:1]})")


def welford_std(px: pd.DataFrame, n: int) -> pd.DataFrame:
    """Rolling sample standard deviation over ``n`` rows, accumulated in
    the same order and with the same two-operand steps as Spark's
    ``stddev_samp`` over a sliding frame (n, avg, m2 updated row by row
    from the oldest), so band comparisons see the same doubles.  Windows
    holding a missing bar read NaN; the strategy ignores them."""
    x = px.to_numpy()
    out = np.full(x.shape, np.nan)
    if len(x) >= n:
        win = np.lib.stride_tricks.sliding_window_view(x, n, axis=0)
        avg = np.zeros(win.shape[:2])
        m2 = np.zeros(win.shape[:2])
        for i in range(n):
            delta = win[..., i] - avg
            delta_n = delta / float(i + 1)
            avg = avg + delta_n
            m2 = m2 + delta * (delta - delta_n)
        out[n - 1:] = np.sqrt(m2 / (n - 1.0))
    return pd.DataFrame(out, index=px.index, columns=px.columns)


def compare_summaries(got: dict, want: dict, rtol: float = 1e-7,
                      atol: float = 1e-10) -> str | None:
    if set(got) != set(want):
        return (f"sid sets differ: {len(set(got) - set(want))} extra, "
                f"{len(set(want) - set(got))} missing")
    for sid, w in want.items():
        g = got[sid]
        if g[0] != w[0]:
            return f"{sid}: n_periods {g[0]} != {w[0]}"
        for name, x, y in zip(("total_return", "sharpe", "cagr",
                               "max_drawdown"), g[1:], w[1:]):
            y = None if y is None or (isinstance(y, float) and math.isnan(y)) \
                else float(y)
            if x is None or y is None:
                if (x is None) != (y is None):
                    return f"{sid}: {name} {x} != {y}"
                continue
            if abs(x - y) > atol + rtol * abs(y):
                return f"{sid}: {name} {x!r} != {y!r}"
    return None


# ---------------------------------------------------------------------- #
# catalog                                                                #
# ---------------------------------------------------------------------- #

def query_family(fn) -> str:
    """The catalog module a registered query was defined in."""
    for cell in fn.__closure__ or ():
        inner = cell.cell_contents
        mod = getattr(inner, "__module__", "") or ""
        if callable(inner) and mod.startswith("moonshot_spark.queries."):
            return mod.rsplit(".", 1)[1]
    return fn.__module__.rsplit(".", 1)[1]


FAMILIES = ("backtest", "panel", "analytics", "warehouse", "datapipe",
            "streaming")


class Catalog(Workload):
    """A fixed, family-stratified slice of the query catalog, built fresh
    and counted once per pass in a fixed order, over seeded tables.  The
    slice and its order are fixed so that every run measures the same
    queries: query costs span 0.1-7 s, a seeded sample of the few dozen
    queries a run has time for moved the median by a quarter from seed to
    seed, and a query's cost depends on what ran before it in the JVM."""

    name = "catalog"
    SF = 0.01
    STEP = 9

    def generate(self):
        from moonshot_spark.queries import QUERIES
        self.sf_dir = os.path.join(self.data_dir, "catalog")
        gen.write_catalog(self.sf_dir, self.seed, self.SF)
        self.queries = QUERIES
        self.family = {n: query_family(f) for n, f in QUERIES.items()}
        self.choose(self.family)

    def choose(self, family: dict[str, str]) -> None:
        self.slice = catalog_slice(family, self.STEP)
        self.warm = sorted(set(family) - set(self.slice))[:2]

    def warmup_specs(self):
        return list(self.warm)

    def blocks(self):
        """One pass over the slice per block, families interleaved."""
        while True:
            yield list(self.slice)

    def run_op(self, spark, name):
        fam = self.family[name]
        tr = self.tracer
        with tr.span(f"queries.{fam}.build") as sp:
            df = self.queries[name](spark, self.sf_dir)
            if sp:
                sp.counts = {"analysis_ms": _analysis_ms(df)}
        with tr.span(f"queries.{fam}.exec"):
            return df.count()

    def check(self, done):
        oracle = oracle_counts(self.sf_dir, sorted({n for n, _ in done}))
        return [f"{name}: count {got} != oracle {oracle[name]}"
                for name, got in done if got != oracle[name]]


def catalog_slice(family: dict[str, str], step: int) -> list[str]:
    """Every ``step``-th query of each family, counted from the last in
    name order, the families interleaved round-robin."""
    per_family = [sorted((n for n, f in family.items() if f == fam),
                         reverse=True)[::step]
                  for fam in FAMILIES]
    out = []
    for i in range(max(map(len, per_family))):
        out += [names[i] for names in per_family if i < len(names)]
    return out


def _analysis_ms(df) -> float:
    """Catalyst analysis time of a built DataFrame, from its query
    execution's phase tracker."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        return float(phases.get("analysis").get().durationMs()) \
            if phases.contains("analysis") else 0.0
    except Exception:
        return 0.0


def oracle_counts(sf_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the same tables."""
    import duckdb
    from moonshot_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in gen.CATALOG_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        return {n: con.execute(f"SELECT count(*) FROM ({ORACLES[n]}) AS q")
                .fetchone()[0] for n in names}
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (ResearchBacktest, Catalog)}
