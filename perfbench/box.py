"""Size the Spark session to the machine the benchmark runs on, keep every
file a run writes under one directory of the checkout, and read CPU time
and peak memory of the processes a run starts from ``/proc``."""

from __future__ import annotations

import os
import shutil
import subprocess


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb(mem: dict[str, int]) -> int:
    """Driver heap: 40 % of physical memory, and under strict overcommit
    at most half the commit limit; between 1 and 16 GiB."""
    gib = 1024 * 1024
    limit = mem["MemTotal"] * 0.4
    try:
        with open("/proc/sys/vm/overcommit_memory") as f:
            strict = f.read().strip() == "2"
    except OSError:
        strict = False
    if strict:
        limit = min(limit, mem.get("CommitLimit", limit) * 0.5)
    return max(1, min(16, int(limit // gib)))


def prepare_env(root: str, run_dir: str) -> dict:
    """Set the environment the program reads before pyspark is imported.

    Every path a run writes lives under ``run_dir``.  The heap pin stays
    the program's own (``-Xms`` = driver memory); pre-touch stays off, so
    peak RSS measures pages the run really used."""
    mem = meminfo_kb()
    n = cpus()
    heap = heap_gb(mem)
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    paths = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEMORY": f"{heap}g",
        "PYTHONPATH": root + (os.pathsep + paths if paths else ""),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "MOONSHOT_CACHE_DIR": os.path.join(run_dir, "moonshot-cache"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-XX:ErrorFile={run_dir}/hs_err_pid%p.log "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    })
    os.environ.pop("SPARK_GRAFT_PRETOUCH", None)
    os.environ.pop("SPARK_GRAFT_UI", None)
    os.chdir(os.path.join(run_dir, "cwd"))
    return {"cpus": n, "heap_gb": heap,
            "mem_total_mb": round(mem["MemTotal"] / 1024),
            "commit_limit_mb": round(mem.get("CommitLimit", 0) / 1024)}


def java_version() -> str:
    java = shutil.which("java")
    home = os.environ.get("JAVA_HOME")
    if home:
        java = os.path.join(home, "bin", "java")
    if not java:
        return "unknown"
    out = subprocess.run([java, "-version"], capture_output=True, text=True,
                         timeout=60)
    first = (out.stderr or out.stdout).splitlines()
    return first[0] if first else "unknown"


# ---------------------------------------------------------------------- #
# /proc readers                                                          #
# ---------------------------------------------------------------------- #

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return kids


def descendants(pid: int) -> list[int]:
    out, frontier = [], [pid]
    while frontier:
        nxt = []
        for p in frontier:
            nxt += children(p)
        out += nxt
        frontier = nxt
    return out


def cpu_seconds(self_pid: int, jvm_pid: int | None) -> float:
    """user+sys CPU of this process, the JVM and every process below the
    JVM (Python workers), including children they have reaped."""
    total = 0.0
    st = _stat(self_pid)
    if st:
        total += (int(st[11]) + int(st[12])) / _TICK
    if jvm_pid:
        for p in [jvm_pid, *descendants(jvm_pid)]:
            st = _stat(p)
            if st:
                total += sum(int(x) for x in st[11:15]) / _TICK
    return total


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(gateway_pid: int) -> int | None:
    """The java process under the gateway launcher (spark-submit is a shell
    script that may or may not exec java)."""
    for p in [gateway_pid, *descendants(gateway_pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
        except OSError:
            continue
    return None
