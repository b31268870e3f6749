"""get_prices source surface: filters push into the scan (reference
_tests/test_prices.py patterns: query params, pushdown, tz inference)."""

import pytest
from pyspark.sql import functions as F

from moonshot_spark.sources.prices import get_prices, validate_timezones
from moonshot_spark.strategies.base import MoonshotParameterError


@pytest.fixture(scope="module")
def panel_path(spark, tmp_path_factory):
    from moonshot_spark.sources.parquet import events_to_panel

    path = str(tmp_path_factory.mktemp("panel") / "prices")
    events_to_panel(spark, "/root/testdata/sf0.001").write.parquet(path)
    return path


def test_sid_and_date_filters(spark, panel_path):
    df = get_prices(spark, panel_path, sids=["1", "2"], no_cache=True,
                    start_date="2024-01-10", end_date="2024-01-20")
    rows = df.collect()
    assert {r["sid"] for r in rows} <= {"1", "2"}
    assert all("2024-01-10" <= str(r["date"]) <= "2024-01-20" for r in rows)


def test_exclude_sids(spark, panel_path):
    df = get_prices(spark, panel_path, exclude_sids=["1"], no_cache=True)
    assert "1" not in {r["sid"] for r in df.select("sid").distinct().collect()}


def test_field_projection_prunes_scan(spark, panel_path):
    df = get_prices(spark, panel_path, fields=["close"], no_cache=True)
    assert set(df.columns) == {"sid", "date", "close"}
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[-1].split("\n")[0]
    assert "volume" not in read_schema and "close" in read_schema, plan


def test_filters_push_into_scan(spark, panel_path):
    df = get_prices(spark, panel_path, sids=["1"], start_date="2024-01-10",
                    no_cache=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[-1].split("]")[0]
    assert "sid" in pushed and "date" in pushed, plan


def test_unknown_field_raises(spark, panel_path):
    with pytest.raises(MoonshotParameterError, match="not in panel"):
        get_prices(spark, panel_path, fields=["nope"], no_cache=True)


def test_timezone_validation(spark):
    one = spark.createDataFrame(
        [("A", "America/New_York"), ("B", "America/New_York")],
        "sid string, timezone string")
    assert validate_timezones(one) == "America/New_York"
    mixed = spark.createDataFrame(
        [("A", "America/New_York"), ("B", "Asia/Tokyo")],
        "sid string, timezone string")
    with pytest.raises(MoonshotParameterError, match="multiple timezones"):
        validate_timezones(mixed)


def test_lookback_pruned_range_is_pushed_down(spark, panel_path):
    """D24 wiring: strategy *_WINDOW attrs expand the scan range and the
    pruned start lands in PushedFilters (partition pruning at scale)."""
    from moonshot_spark.plans.lookback import lookback_start_date

    class Windowed:
        MAVG_WINDOW = 50

    df = get_prices(spark, panel_path, start_date="2024-03-01",
                    strategy=Windowed(), no_cache=True)
    prune_start = lookback_start_date("2024-03-01", 50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:")[-1].split("]")[0]
    assert "GreaterThanOrEqual(date" in pushed, plan
    assert str(prune_start) in pushed, plan
    # and the panel really does include the lookback history
    min_date = df.agg(F.min("date")).collect()[0][0]
    assert str(min_date) < "2024-03-01"


def test_second_get_prices_reads_checkpoint(spark, panel_path, tmp_path):
    """S11 wiring: the second identical get_prices call reads the Parquet
    checkpoint instead of re-deriving (reference base.py:1258-1278)."""
    kwargs = dict(sids=["1", "2"], start_date="2024-01-10",
                  cache_dir=str(tmp_path))
    df1 = get_prices(spark, panel_path, **kwargs)
    df2 = get_prices(spark, panel_path, **kwargs)
    files = df2.inputFiles()
    assert files and all(str(tmp_path) in f for f in files)
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))


def test_no_cache_bypasses_checkpoint(spark, panel_path, tmp_path):
    df = get_prices(spark, panel_path, sids=["1"], cache_dir=str(tmp_path),
                    no_cache=True)
    assert all(panel_path in f for f in df.inputFiles())
    assert not list(tmp_path.iterdir())


def test_strategy_sid_and_universe_selection(spark, panel_path):
    """SIDS/UNIVERSES/EXCLUDE_* strategy attrs drive the source filters
    (reference base.py:1224-1245); universes resolve through a mapping
    table as broadcast semi/anti joins."""
    universes = spark.createDataFrame(
        [("tech", "1"), ("tech", "2"), ("fin", "3"), ("fin", "4")],
        "universe string, sid string")

    class InUniverse:
        UNIVERSES = "tech"

    df = get_prices(spark, panel_path, strategy=InUniverse(),
                    universes=universes, no_cache=True)
    assert {r["sid"] for r in df.select("sid").distinct().collect()} <= {"1", "2"}

    class Excluded:
        UNIVERSES = ["tech", "fin"]
        EXCLUDE_SIDS = ["2"]
        EXCLUDE_UNIVERSES = "fin"

    df = get_prices(spark, panel_path, strategy=Excluded(),
                    universes=universes, no_cache=True)
    assert {r["sid"] for r in df.select("sid").distinct().collect()} <= {"1"}

    class NoTable:
        UNIVERSES = "tech"

    with pytest.raises(MoonshotParameterError, match="universes mapping"):
        get_prices(spark, panel_path, strategy=NoTable(), no_cache=True)


def test_strategy_sids_attr(spark, panel_path):
    class Pinned:
        SIDS = ["1"]

    df = get_prices(spark, panel_path, strategy=Pinned(), no_cache=True)
    assert {r["sid"] for r in df.select("sid").distinct().collect()} == {"1"}


def test_csv_and_json_formats(spark, tmp_path):
    """S1 format coverage: csv/json service exports load through the same
    filter surface; a cached csv panel re-reads as parquet."""
    rows = [("1", "2024-01-10", 5.0), ("2", "2024-01-11", 6.0)]
    df = spark.createDataFrame(rows, "sid string, date string, close double") \
        .withColumn("date", F.col("date").cast("date"))
    csv_path = str(tmp_path / "prices_csv")
    json_path = str(tmp_path / "prices_json")
    df.write.option("header", "true").csv(csv_path)
    df.write.json(json_path)

    got = get_prices(spark, csv_path, fmt="csv",
                     schema="sid string, date date, close double",
                     sids=["1"], no_cache=True).collect()
    assert len(got) == 1 and got[0]["close"] == 5.0

    got = get_prices(spark, json_path, fmt="json",
                     schema="sid string, date date, close double",
                     start_date="2024-01-11", no_cache=True).collect()
    assert len(got) == 1 and got[0]["sid"] == "2"

    with pytest.raises(MoonshotParameterError, match="unsupported format"):
        get_prices(spark, csv_path, fmt="avro", no_cache=True)

    # cached csv read lands in the parquet checkpoint on the second call
    cache_dir = str(tmp_path / "cache")
    get_prices(spark, csv_path, fmt="csv",
               schema="sid string, date date, close double",
               cache_dir=cache_dir)
    df2 = get_prices(spark, csv_path, fmt="csv",
                     schema="sid string, date date, close double",
                     cache_dir=cache_dir)
    assert all(cache_dir in f for f in df2.inputFiles())


def test_cache_survives_source_update_with_end_date(spark, tmp_path):
    """reference base.py:1260-1269: an explicit end_date bounds an
    immutable range, so new data collection does NOT invalidate the
    cache; without end_date (latest history) it does."""
    import os
    import time

    src = str(tmp_path / "src")
    cache_dir = str(tmp_path / "cache")
    spark.createDataFrame(
        [("1", "2024-01-10", 5.0)],
        "sid string, date string, close double") \
        .withColumn("date", F.col("date").cast("date")).write.parquet(src)

    bounded = dict(end_date="2024-01-31", cache_dir=cache_dir)
    get_prices(spark, src, **bounded)
    latest = dict(cache_dir=cache_dir)
    get_prices(spark, src, **latest)

    # touch the source forward in time (new data collected)
    time.sleep(0.05)
    future = time.time() + 60
    for root, _, files in os.walk(src):
        for f in files:
            os.utime(os.path.join(root, f), (future, future))

    assert all(cache_dir in f for f in
               get_prices(spark, src, **bounded).inputFiles())   # still cached
    assert all(src in f for f in
               get_prices(spark, src, **latest).inputFiles())    # re-derived


def test_db_times_attr_filters_bars(spark, tmp_path):
    """DB_TIMES (reference base.py:1246) filters intraday bars at the
    source."""
    path = str(tmp_path / "intraday")
    spark.createDataFrame(
        [("1", "2024-01-10", t, float(i))
         for i, t in enumerate(("09:30:00", "12:00:00", "15:45:00"))],
        "sid string, date string, time string, close double") \
        .withColumn("date", F.col("date").cast("date")).write.parquet(path)

    class Timed:
        DB_TIMES = ["09:30:00", "15:45:00"]

    rows = get_prices(spark, path, strategy=Timed(), no_cache=True).collect()
    assert sorted(r["time"] for r in rows) == ["09:30:00", "15:45:00"]


def test_sids_and_universes_are_additive(spark, panel_path):
    """Union semantics (reference base.py:1228-1245): a pinned SID outside
    the universe still loads, and the BENCHMARK sid rides along."""
    universes = spark.createDataFrame(
        [("tech", "1")], "universe string, sid string")

    class Pinned:
        SIDS = ["3"]                    # NOT in the tech universe
        UNIVERSES = "tech"
        BENCHMARK = "4"

    got = {r["sid"] for r in
           get_prices(spark, panel_path, strategy=Pinned(),
                      universes=universes, no_cache=True)
           .select("sid").distinct().collect()}
    assert {"1", "3", "4"} <= got
    assert "2" not in got


def test_universe_membership_change_invalidates_cache(spark, panel_path,
                                                      tmp_path):
    """The cache keys universes by CONTENT: a membership edit must miss."""
    class InUniverse:
        UNIVERSES = "tech"

    u1 = spark.createDataFrame([("tech", "1")], "universe string, sid string")
    u2 = spark.createDataFrame([("tech", "1"), ("tech", "2")],
                               "universe string, sid string")
    kwargs = dict(strategy=InUniverse(), cache_dir=str(tmp_path),
                  end_date="2099-01-01")      # bounded: mtime never invalidates
    first = {r["sid"] for r in get_prices(spark, panel_path, universes=u1,
                                          **kwargs).select("sid").distinct().collect()}
    second = {r["sid"] for r in get_prices(spark, panel_path, universes=u2,
                                           **kwargs).select("sid").distinct().collect()}
    assert first == {"1"} and second == {"1", "2"}


def test_get_prices_orc_roundtrip(spark, tmp_path):
    """ORC source parity: the multi-format sink's ORC output reads back
    through get_prices with identical rows (columnar scale path kept)."""
    from moonshot_spark.sources.parquet import load_table
    from moonshot_spark.sources.prices import get_prices

    panel = (load_table(spark, "/root/testdata/sf0.001", "events")
             .groupBy(F.col("user_id").cast("string").alias("sid"),
                      F.to_date("ts").alias("date"))
             .agg(F.avg("value").alias("close")))
    path = str(tmp_path / "panel_orc")
    panel.write.orc(path)
    back = get_prices(spark, path, fmt="orc", no_cache=True)
    assert back.count() == panel.count()
    a = {(r["sid"], r["date"]): r["close"] for r in panel.collect()}
    b = {(r["sid"], r["date"]): r["close"] for r in back.collect()}
    assert a == b


@pytest.fixture()
def intraday_path(spark, tmp_path):
    """Two sids x two days x three bars with OHLCV + Wap columns."""
    path = str(tmp_path / "intraday_full")
    rows = []
    for sid in ("1", "2"):
        for d, day in enumerate(("2024-01-10", "2024-01-11")):
            for i, t in enumerate(("09:30:00", "12:00:00", "15:45:00")):
                base = float((int(sid) * 10) + d)
                rows.append((sid, day, t,
                             base + i,          # open-ish drift
                             base + i + 0.5,    # high
                             base + i - 0.5,    # low
                             base + i + 0.25,   # close
                             100.0 * (i + 1),   # volume
                             base + i + 0.1))   # wap
    spark.createDataFrame(
        rows, "sid string, date string, time string, open double, "
              "high double, low double, close double, volume double, "
              "wap double") \
        .withColumn("date", F.col("date").cast("date")).write.parquet(path)
    return path


def test_data_frequency_daily_rolls_up_intraday(spark, intraday_path):
    """DB_DATA_FREQUENCY='daily' (reference base.py:1246-1251 forwards to
    the history service, which rolls intraday bars to daily): open=first
    bar, high/low=extrema, close/wap=last bar, volume=sum."""
    class Daily:
        DB_DATA_FREQUENCY = "daily"

    df = get_prices(spark, intraday_path, strategy=Daily(), no_cache=True)
    assert "time" not in df.columns
    r = {(x["sid"], str(x["date"])): x for x in df.collect()}
    assert len(r) == 4                     # 2 sids x 2 days
    day = r[("1", "2024-01-10")]
    assert day["open"] == 10.0             # first bar's open
    assert day["high"] == 12.5             # max over bars
    assert day["low"] == 9.5               # min over bars
    assert day["close"] == 12.25           # last bar's close
    assert day["wap"] == pytest.approx(12.1)   # last bar's wap
    assert day["volume"] == 600.0          # summed


def test_data_frequency_daily_skips_null_edge_bars(spark, tmp_path):
    """Spine-filled panels carry NULL bars at the day's edge (late open /
    early halt).  Daily rollup must use the first/last NON-NULL bar for
    open/close — pandas groupby().first()/.last() semantics — not a NULL
    that happens to sit at the extremal time."""
    path = str(tmp_path / "gappy")
    rows = [
        # sid 1, one day: NULL open at 09:30, NULL close at 15:45
        ("1", "2024-01-10", "09:30:00", None, 10.5, 9.5, 10.2, 100.0),
        ("1", "2024-01-10", "12:00:00", 11.0, 11.5, 10.5, 11.2, 100.0),
        ("1", "2024-01-10", "15:45:00", 12.0, 12.5, 11.5, None, None),
    ]
    spark.createDataFrame(
        rows, "sid string, date string, time string, open double, "
              "high double, low double, close double, volume double") \
        .withColumn("date", F.col("date").cast("date")).write.parquet(path)

    df = get_prices(spark, path, data_frequency="daily", no_cache=True)
    day = df.collect()[0]
    assert day["open"] == 11.0      # first NON-null open (12:00 bar)
    assert day["close"] == 11.2     # last NON-null close (12:00 bar)
    assert day["high"] == 12.5 and day["low"] == 9.5
    assert day["volume"] == 200.0   # sum skips the NULL


def test_data_frequency_kwarg_and_noop_on_daily_panel(spark, panel_path):
    """data_frequency kwarg twin; a panel with no time column passes
    through unchanged, and 'minute' never aggregates."""
    plain = get_prices(spark, panel_path, no_cache=True)
    daily = get_prices(spark, panel_path, data_frequency="daily",
                       no_cache=True)
    assert daily.count() == plain.count()

    with pytest.raises(MoonshotParameterError, match="data_frequency"):
        get_prices(spark, panel_path, data_frequency="hourly",
                   no_cache=True)


def test_db_fields_attr_projects_panel(spark, intraday_path):
    """An overridden DB_FIELDS projects the panel to those fields
    (reference base.py:1238-1244 forwards DB_FIELDS to the service's
    field selection); the base-class default is NOT forced on panels
    that lack the conventional columns."""
    from moonshot_spark.strategies.base import Moonshot

    class Fields(Moonshot):
        DB_FIELDS = ["close", "volume"]

    df = get_prices(spark, intraday_path, strategy=Fields(), no_cache=True)
    assert set(df.columns) == {"sid", "date", "time", "close", "volume"}

    class Untouched(Moonshot):           # inherits the default DB_FIELDS
        pass

    df2 = get_prices(spark, intraday_path, strategy=Untouched(),
                     no_cache=True)
    assert "wap" in df2.columns          # default not forced


def test_data_frequency_daily_unpadded_times(spark, tmp_path):
    """Unpadded times ('9:30:00') must still pick the true first/last
    bar: the rollup orders by the (length, value) struct key
    (Moonshot._time_key defense-in-depth), not raw lexicographic time —
    raw order would sort '9:30:00' AFTER '15:30:00' (ADVICE r7)."""
    path = str(tmp_path / "unpadded")
    rows = [
        ("1", "2024-01-10", "9:30:00", 10.0, 10.5, 9.5, 10.2, 100.0),
        ("1", "2024-01-10", "15:30:00", 11.0, 11.5, 10.5, 11.2, 100.0),
    ]
    spark.createDataFrame(
        rows, "sid string, date string, time string, open double, "
              "high double, low double, close double, volume double") \
        .withColumn("date", F.col("date").cast("date")).write.parquet(path)

    df = get_prices(spark, path, data_frequency="daily", no_cache=True)
    day = df.collect()[0]
    assert day["open"] == 10.0      # the 9:30 bar, not 15:30
    assert day["close"] == 11.2     # the 15:30 bar
