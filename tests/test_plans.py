"""Lookback pruning tests (D24, reference base.py:1050-1086,1146-1181)."""

import datetime

from moonshot_spark import Moonshot
from moonshot_spark.plans.lookback import get_lookback_window, lookback_start_date


def test_default_lookback():
    class S(Moonshot):
        pass

    assert get_lookback_window(S()) == 252


def test_max_of_window_attrs():
    class S(Moonshot):
        SHORT_WINDOW = 50
        LONG_WINDOW = 300

    assert get_lookback_window(S()) == 300


def test_interval_padding():
    class S(Moonshot):
        MAVG_WINDOW = 100
        REBALANCE_INTERVAL = "Q"

    # Q ≈ 66 business days per quarter (reference base.py:1068-1086
    # counts bdays in one period)
    assert get_lookback_window(S()) == 100 + 66


def test_explicit_lookback_window_wins():
    """Reference base.py:1060-1061: LOOKBACK_WINDOW set → returned as-is,
    no *_WINDOW derivation and no interval padding."""
    class S(Moonshot):
        LOOKBACK_WINDOW = 10
        MAVG_WINDOW = 300
        REBALANCE_INTERVAL = "Q"

    assert get_lookback_window(S()) == 10

    class Z(Moonshot):
        LOOKBACK_WINDOW = 0
        MAVG_WINDOW = 300

    assert get_lookback_window(Z()) == 0


def test_lookback_start_date():
    # 235 trading days / 365 calendar days + 10-day buffer
    start = lookback_start_date("2024-06-01", 252)
    expected = datetime.date(2024, 6, 1) - datetime.timedelta(
        days=392 + 10)  # ceil(252*365/235)=392
    assert start == expected


def test_lookback_start_dates_match_reference_pins():
    """The exact start dates the reference's _tests/test_prices.py pins
    (test_set_lookback_window, test_derive_lookback_window_from_window_params,
    test_zero_lookback_window, test_under_one_week_lookback_window,
    test_derive_lookback_window_from_window_and_interval_params)."""
    # default 252 (reference test_prices.py:148)
    class Default(Moonshot):
        pass

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Default()))) == "2017-03-25"

    # explicit LOOKBACK_WINDOW = 350 (reference test_prices.py:260)
    class Explicit(Moonshot):
        LOOKBACK_WINDOW = 350

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Explicit()))) == "2016-10-24"

    # derived max(*_WINDOW) = 100, non-int ignored (reference :364)
    class Derived(Moonshot):
        SOME_WINDOW = 100
        SOME_OTHER_WINDOW = 5
        SOME_NONINT_WINDOW = "foo"

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Derived()))) == "2017-11-16"

    # zero window: no buffer at all (reference :565)
    class Zero(Moonshot):
        LOOKBACK_WINDOW = 0

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Zero()))) == "2018-05-01"

    # under one week: 2-day buffer (reference :663)
    class Short(Moonshot):
        LOOKBACK_WINDOW = 2

    assert str(lookback_start_date(
        "2018-05-01", get_lookback_window(Short()))) == "2018-04-25"

    # window + interval (reference :467 accepts 2017-08-04..07)
    class WindowInterval(Moonshot):
        SOME_WINDOW = 100
        REBALANCE_INTERVAL = "Q"

    got = str(lookback_start_date(
        "2018-05-01", get_lookback_window(WindowInterval())))
    assert got in ("2017-08-04", "2017-08-05", "2017-08-06", "2017-08-07")


def test_session_pins_initial_heap(spark, monkeypatch):
    """r13: G1 heap commit/uncommit churn (tiny default -Xms vs burst
    usage) produced multi-second kernel-time stalls inside timed windows
    — the r12 bench-drift root cause (PERF.md r13).  The session factory
    must pin -Xms to the configured driver memory so the heap never
    shrinks/regrows.  Asserts on BEHAVIOR (the computed option string
    and the live session's conf), not on source text (ADVICE r13: the
    old getsource assert could pass on a comment alone)."""
    from moonshot_spark.session import driver_java_options, driver_memory

    # the live session was built through get_spark -> the conf must
    # carry the pin (extraJavaOptions is set at JVM launch; reading it
    # back from the running session proves the .config() call exists)
    opts = spark.conf.get("spark.driver.extraJavaOptions")
    mem = driver_memory()
    assert f"-Xms{mem}" in opts

    # user-supplied driver options are preserved, not clobbered
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseG1GC")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "8g")
    combined = driver_java_options()
    assert "-XX:+UseG1GC" in combined and "-Xms8g" in combined
    # pre-touch rides the env knob
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "1")
    assert "-XX:+AlwaysPreTouch" in driver_java_options()

    # ADVICE r14: a user-specified -Xms must WIN (HotSpot takes the last
    # occurrence, so the pin must not be appended after it) — same for
    # an explicit AlwaysPreTouch toggle
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                       "-Xms2g -XX:-AlwaysPreTouch")
    combined = driver_java_options()
    assert "-Xms2g" in combined
    assert "-Xms8g" not in combined
    assert "-XX:+AlwaysPreTouch" not in combined


def test_default_driver_heap_fits_machine(monkeypatch):
    """Without SPARK_DRIVER_MEMORY the session sizes its heap (and the
    -Xms pin, which commits it at launch) to the machine: at most 40 %
    of physical memory, at most half the commit limit under strict
    overcommit, between 1 and 16 GiB — a fixed 16g could not start on a
    box with less RAM + swap than that."""
    from moonshot_spark.session import driver_java_options, driver_memory

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    mem = driver_memory()
    assert mem.endswith("g")
    heap_kb = int(mem[:-1]) * 1024 * 1024
    assert 1 <= int(mem[:-1]) <= 16
    with open("/proc/meminfo") as f:
        info = {k: int(v.split()[0])
                for k, v in (line.split(":", 1) for line in f)}
    if heap_kb > 1024 * 1024:   # the 1 GiB floor wins on tiny machines
        assert heap_kb <= info["MemTotal"] * 0.4
        with open("/proc/sys/vm/overcommit_memory") as f:
            if f.read().strip() == "2":
                assert heap_kb <= info["CommitLimit"] * 0.5
    assert f"-Xms{mem}" in driver_java_options()


def test_driver_error_file_leaves_working_dir_clean(monkeypatch, tmp_path):
    """A JVM that cannot start writes its crash log under
    SPARK_LOCAL_DIRS (first entry), else the temp dir — never the
    working directory; a user-supplied ErrorFile wins."""
    import tempfile

    from moonshot_spark.session import driver_java_options

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{tmp_path},/elsewhere")
    assert f"-XX:ErrorFile={tmp_path}/hs_err_pid%p.log" in \
        driver_java_options()
    monkeypatch.delenv("SPARK_LOCAL_DIRS")
    assert (f"-XX:ErrorFile={tempfile.gettempdir()}/hs_err_pid%p.log"
            in driver_java_options())
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                       "-XX:ErrorFile=/var/log/hs_err_%p.log")
    opts = driver_java_options()
    assert opts.count("ErrorFile") == 1
    assert "-XX:ErrorFile=/var/log/hs_err_%p.log" in opts
