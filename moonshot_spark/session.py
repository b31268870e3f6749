"""SparkSession factory tuned for this engine.

Local-mode defaults target the test/bench harness: the driver heap is
sized to the machine (``default_driver_memory``) unless SPARK_DRIVER_MEMORY
says otherwise; on a real cluster most of these are overridden by
spark-submit conf.  The scale-relevant settings (AQE, adaptive coalescing,
Arrow) are good defaults at any scale.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap for this machine: 40 % of physical memory, and under
    strict overcommit (``vm.overcommit_memory=2``) at most half the
    commit limit; between 1 and 16 GiB.  The JVM commits the whole heap
    at launch (the ``-Xms`` pin below), and the kernel refuses a single
    mapping larger than RAM + swap, so a fixed 16g default cannot start
    on a 15 GB box without swap."""
    try:
        with open("/proc/meminfo") as f:
            mem = {key: int(rest.split()[0])
                   for key, rest in (line.split(":", 1) for line in f)}
        limit = mem["MemTotal"] * 0.4
    except (OSError, KeyError, ValueError):
        return "16g"   # no /proc/meminfo (not Linux): the fixed default
    try:
        with open("/proc/sys/vm/overcommit_memory") as f:
            strict = f.read().strip() == "2"
    except OSError:
        strict = False
    if strict:
        limit = min(limit, mem.get("CommitLimit", limit) * 0.5)
    return f"{max(1, min(16, int(limit // (1024 * 1024))))}g"


def driver_memory() -> str:
    """SPARK_DRIVER_MEMORY when set, else the machine-sized default."""
    return os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()


def driver_java_options() -> str:
    """Driver JVM options: any user-supplied SPARK_GRAFT_DRIVER_JAVA_OPTS
    are PRESERVED (ADVICE r13: hard-setting extraJavaOptions clobbered
    env-supplied options), with the heap pin appended:

    - ``-Xms`` pinned to the driver memory — with the default tiny
      initial heap, G1 repeatedly uncommits after concurrent cycles and
      recommits on the next allocation burst, and the kernel page
      zeroing on each recommit shows up as multi-second SYS-time stalls
      inside timed windows (the r12 in-run bench-drift root cause;
      PERF.md r13).  Committing the full heap up front removes the
      churn; the heap is sized to fit the machine (see
      ``default_driver_memory``).
    - ``-XX:ErrorFile`` under the first SPARK_LOCAL_DIRS entry (else the
      temp dir), so a JVM that fails to start leaves its crash log
      there instead of in the working directory.
    - ``-XX:+AlwaysPreTouch`` when SPARK_GRAFT_PRETOUCH=1, so
      measurement harnesses zero the pages at startup instead of inside
      the first timed windows.
    """
    user = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "").strip()
    # A user-supplied -Xms, ErrorFile (or explicit AlwaysPreTouch toggle)
    # wins: the pin is appended AFTER the user options, and HotSpot takes
    # the LAST occurrence, so appending ours would silently override
    # theirs (ADVICE r14).  Skip the pin when the user already set one.
    pinned = []
    if "-Xms" not in user:
        pinned.append("-Xms" + driver_memory())
    if "ErrorFile" not in user:
        local = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0].strip()
        err_dir = local or tempfile.gettempdir()
        pinned.append(f"-XX:ErrorFile={err_dir}/hs_err_pid%p.log")
    if (os.environ.get("SPARK_GRAFT_PRETOUCH") == "1"
            and "AlwaysPreTouch" not in user):
        pinned.append("-XX:+AlwaysPreTouch")
    joined = " ".join(pinned)
    return f"{user} {joined}".strip() if user else joined


def get_spark(app_name: str = "moonshot_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is on: at 100 TB the static shuffle-partition count is always wrong
    for some stage, and AQE's runtime coalescing + skew-join splitting fix
    that without per-query tuning.  Arrow is on for the pandas_udf hot paths
    (ML scoring, minhash) and for createDataFrame from pandas in tests.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at the default TRUE: size-based
        # coalescing (false) saved ~7% on trivially tiny shuffles but
        # serialized CPU-heavy small-BYTE stages (item_cooccurrence's
        # pair expansion 1.2 s -> 3.9 s, z-order rank 0.2 s -> 0.8 s)
        # because post-shuffle bytes say nothing about downstream compute
        # per row.  Measured both ways in PERF.md §overhead.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan partitioning on top of cached relations: without
        # this (default false) a .cache() freezes the materialization's
        # shuffle-partition count, so a tiny cached dim (the bench's
        # shared panel rollup) is re-scanned as 32 near-empty tasks by
        # every consumer stage.  At scale the same conf lets AQE coalesce
        # or skew-split cached-plan consumers by actual bytes.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        # default = Spark's own 1g; the 10x-replicated correctness sweep
        # raises it (pair-output queries legitimately return ~100x the
        # rows, and the dual-engine compare pulls the FULL result)
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "1g"))
        # Heap pin + optional pre-touch; user-supplied options preserved
        # (see driver_java_options for the full rationale)
        .config("spark.driver.extraJavaOptions", driver_java_options())
        # UI off by default (driver/test overhead); SPARK_GRAFT_UI=1
        # turns it on for harnesses that read the REST task metrics
        # (scale_bench --skew measures per-stage max-task share)
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1"
                else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # pandas/NaN-style semantics: divide-by-zero yields NULL (matches
        # DuckDB and the reference's NaN-guard idiom, base.py:955) instead of
        # ANSI errors
        .config("spark.sql.ansi.enabled", "false")
        # driver testdata stores TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long (ns since epoch) and convert explicitly (sources/parquet.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_partitions(spark: SparkSession, default: int = 200) -> int:
    """Numeric ``spark.sql.shuffle.partitions`` with a robust fallback.

    Some AQE deployments set the conf to ``"auto"`` (non-numeric), which
    made the bare ``int(spark.conf.get(...))`` at explicit-repartition
    call sites raise ValueError (ADVICE r12).  Falls back to the
    cluster's ``defaultParallelism`` — the same order of magnitude AQE
    would land on — and only then to ``default``.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions",
                                  str(default)))
    except (ValueError, TypeError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default
