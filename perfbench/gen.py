"""Seeded input generators for the benchmark workloads.

Every generator draws from a ``numpy.random.Generator`` built from the
run's seed, so the same seed always yields the same inputs.  Prices sit on
a 0.25 grid, so rolling sums are exact and the pandas re-expressions in
``workloads.py`` compute the same moving averages as the engine; balances,
allocations and the FX rate are binary fractions, so the order check can
be exact.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TICK = 0.25
EUR_USD = 1.25
BAR_MINUTES = 5
BARS_PER_SESSION = 78          # 09:30 .. 15:55 in five-minute bars


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream): adding a stream never
    shifts the draws of another one."""
    salt = int.from_bytes(stream.encode(), "little") % (2 ** 32)
    return np.random.default_rng([seed, salt])


def sessions(start: str, n: int) -> list[datetime.date]:
    """``n`` weekday sessions starting at ``start``."""
    return [d.date() for d in pd.bdate_range(start, periods=n)]


def bar_times(n: int = BARS_PER_SESSION) -> list[str]:
    first = 9 * 60 + 30
    return [f"{(first + i * BAR_MINUTES) // 60:02d}:"
            f"{(first + i * BAR_MINUTES) % 60:02d}:00" for i in range(n)]


def grid_walk(rng: np.random.Generator, n_sids: int, n_bars: int,
              missing: float) -> np.ndarray:
    """(n_bars, n_sids) closes: a reflected random walk in ticks on
    [4, 1020] ticks, with about ``missing`` of the cells NaN."""
    start = rng.integers(80, 800, size=n_sids)
    steps = rng.integers(-3, 4, size=(n_bars, n_sids))
    walk = start + np.cumsum(steps, axis=0)
    lo, hi = 4, 1020
    span = hi - lo
    walk = np.abs((walk - lo) % (2 * span) - span)   # reflect into [0, span]
    closes = (span - walk + lo) * TICK
    closes[rng.random((n_bars, n_sids)) < missing] = np.nan
    return closes


def _nullable(values: np.ndarray) -> pa.Array:
    """A missing bar is a NULL cell (NaN would be a value to Spark)."""
    return pa.array(values, mask=np.isnan(values))


def sid_names(n: int) -> list[str]:
    return [f"FIBBG{i:07d}" for i in range(n)]


def write_daily_panel(path: str, rng: np.random.Generator, n_sids: int,
                      n_sessions: int, missing: float = 0.01) -> pd.DataFrame:
    """Daily panel (sid, date, close, volume) as parquet; returns the wide
    closes (date × sid) the checks re-express the strategies on."""
    dates = sessions("2010-01-04", n_sessions)
    sids = sid_names(n_sids)
    closes = grid_walk(rng, n_sids, n_sessions, missing)
    volume = rng.integers(1_000, 100_000, size=closes.shape).astype("float64")
    volume[np.isnan(closes)] = np.nan
    table = pa.table({
        "sid": np.repeat(np.array(sids, dtype=object), n_sessions),
        "date": pa.array(np.tile(np.array(dates, dtype="datetime64[D]"),
                                 n_sids), pa.date32()),
        "close": _nullable(closes.T.reshape(-1)),
        "volume": _nullable(volume.T.reshape(-1)),
    })
    pq.write_table(table, path, row_group_size=len(dates) * 64)
    return pd.DataFrame(closes, index=pd.Index(dates, name="date"),
                        columns=sids)


def write_intraday_panel(path: str, rng: np.random.Generator, n_sids: int,
                         n_sessions: int, missing: float = 0.01
                         ) -> pd.DataFrame:
    """Five-minute panel (sid, date, time, close, volume) as parquet;
    returns the wide closes indexed by (date, time)."""
    dates = sessions("2024-03-04", n_sessions)
    times = bar_times()
    n_bars = n_sessions * len(times)
    sids = sid_names(n_sids)
    closes = grid_walk(rng, n_sids, n_bars, missing)
    volume = rng.integers(100, 10_000, size=closes.shape).astype("float64")
    volume[np.isnan(closes)] = np.nan
    bar_dates = np.repeat(np.array(dates, dtype="datetime64[D]"), len(times))
    bar_times_ = np.tile(np.array(times, dtype=object), n_sessions)
    table = pa.table({
        "sid": np.repeat(np.array(sids, dtype=object), n_bars),
        "date": pa.array(np.tile(bar_dates, n_sids), pa.date32()),
        "time": np.tile(bar_times_, n_sids),
        "close": _nullable(closes.T.reshape(-1)),
        "volume": _nullable(volume.T.reshape(-1)),
    })
    pq.write_table(table, path, row_group_size=n_bars * 64)
    index = pd.MultiIndex.from_arrays(
        [[d for d in dates for _ in times], list(bar_times_)],
        names=["date", "time"])
    return pd.DataFrame(closes, index=index, columns=sids)


def master_rows(sids: list[str]) -> list[tuple]:
    """Securities master: one US stock per sid."""
    return [(s, f"SYM{i}", "STK", "USD", "NYSE", "America/New_York")
            for i, s in enumerate(sids)]


MASTER_SCHEMA = ("sid string, symbol string, sec_type string, "
                 "currency string, exchange string, timezone string")


def trade_accounts(rng: np.random.Generator, sids: list[str]) -> dict:
    """Three accounts (one in EUR, traded through the EUR->USD rate),
    their allocations and balances, and positions for a third of the
    sids, each held in one drawn account."""
    accounts = ["U101", "U102", "DE103"]
    allocations = {a: float(rng.choice([1.0, 0.5, 0.25])) for a in accounts}
    balances = {a: ("EUR" if a.startswith("DE") else "USD",
                    float(rng.choice([250_000.0, 500_000.0, 1_000_000.0])))
                for a in accounts}
    held = rng.choice(len(sids), size=len(sids) // 3, replace=False)
    positions = {(sids[i], accounts[int(rng.integers(len(accounts)))]):
                 int(rng.choice([-400, -40, -5, 5, 40, 400])) for i in held}
    return {"allocations": allocations, "balances": balances,
            "positions": positions}


# ---------------------------------------------------------------------- #
# catalog tables                                                         #
# ---------------------------------------------------------------------- #

CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]") \
        .astype("datetime64[us]")


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-style star schema plus the events, documents and embeddings
    tables the query catalog reads, at scale factor ``sf`` (sf 0.01 is
    60 k lineitems).  Column names, types and value domains follow the
    catalog's conventions; values are independent uniform draws."""
    rng = rng_for(seed, "catalog")
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 100), max(int(20_000 * sf), 500)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    keys = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(150_000 * sf / 10), 10),
                                n_ev).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(8, 90))))
             for _ in range(n_doc)]
    # 5 % near-duplicates: another document's text with a marker word
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})
    return t


def write_catalog(out_dir: str, seed: int, sf: float) -> None:
    """Write every catalog table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
