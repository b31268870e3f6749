"""One benchmark run: set up, closed-loop timed ops, output checks and
metrics.  ``run.py`` prepares the environment before this module imports
pyspark."""

from __future__ import annotations

import os
import platform
import subprocess
import time

import box
import stats
import tracing
import workloads
from layers import PER_LAYER, per_layer_metrics

END_TO_END = {
    "ops_per_min": "1/min",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_s_per_op": "s",
    "setup_s": "s",
}


class Runner:
    def __init__(self, args, env: dict, run_dir: str):
        self.args = args
        self.env = env
        self.run_dir = run_dir
        self.tracer = tracing.Tracer(bool(args.trace))
        self.spark = None
        self.gateway_proc = None

    # ------------------------------------------------------------------ #

    def run(self) -> tuple[dict, dict]:
        args, tracer = self.args, self.tracer
        data_dir = os.path.join(self.run_dir, "data")
        os.makedirs(data_dir, exist_ok=True)
        wl = workloads.WORKLOADS[args.workload](args.seed, data_dir, tracer)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        # set-up: JVM launch and session, the workload's inputs, its
        # warm-up ops (which fill the get_prices cache); timed as setup_s
        from moonshot_spark.session import get_spark
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{args.workload}")
        from pyspark import SparkContext
        self.gateway_proc = SparkContext._gateway.proc
        if tracer.enabled:
            tracer.bind(self.spark.sparkContext)
        session_s = time.perf_counter() - t0
        wl.start(self.spark)
        warmup_s = []
        for spec in wl.warmup_specs():
            t1 = time.perf_counter()
            wl.run_op(self.spark, spec)
            warmup_s.append(time.perf_counter() - t1)
        setup_s = time.perf_counter() - t0

        jvm = box.jvm_pid(self.gateway_proc.pid)
        latencies, done, errors = [], [], []
        op_stats, storage = [], []
        attempted = 0
        cpu0 = box.cpu_seconds(os.getpid(), jvm)
        wall = 0.0
        start = time.perf_counter()
        for n_blocks, block in enumerate(wl.blocks(), 1):
            for spec in block:
                op = attempted
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span("op", op=op):
                        result = wl.run_op(self.spark, spec)
                except Exception as exc:   # a raising op is a failed op
                    errors.append(f"{spec}: {type(exc).__name__}: "
                                  f"{str(exc).splitlines()[0][:300]}")
                    result = None
                dt = time.perf_counter() - t0
                wall += dt
                if result is not None:
                    latencies.append(dt)
                    done.append((spec, result))
                if tracer.enabled:
                    spans = [s for s in tracer.spans if s.op == op]
                    op_stats.append((dt, tracer.collect_jobs(spans)))
                    storage.append(self._storage())
            if (time.perf_counter() - start >= args.seconds
                    and n_blocks >= wl.MIN_BLOCKS):
                break
        cpu = box.cpu_seconds(os.getpid(), jvm) - cpu0
        rss = box.peak_rss_mb(os.getpid()) + (box.peak_rss_mb(jvm)
                                              if jvm else 0.0)

        t0 = time.perf_counter()
        try:
            errors += wl.check(done)
        except Exception as exc:        # a broken check fails every op
            errors += [f"check raised {type(exc).__name__}: {exc}"] * len(done)
        check_s = time.perf_counter() - t0
        failed = min(len(errors), attempted)

        if not latencies:
            raise RuntimeError(f"no op completed: {errors[:3]}")
        tail, pct = stats.tail(latencies)
        if tracer.enabled:
            metrics = per_layer_metrics(tracer, op_stats, storage,
                                        self.env["cpus"], latencies)
            metrics["memory.peak_rss_mb"] = rss
            names = PER_LAYER
        else:
            metrics = {
                "ops_per_min": len(latencies) / wall * 60.0,
                "op_p50_s": stats.hd_quantile(latencies, 0.5),
                "op_tail_s": tail,
                "cpu_s_per_op": cpu / len(latencies),
                "setup_s": setup_s,
            }
            names = END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": names[k]}
                        for k in names},
        }
        report = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace,
            "box": {**self.env, "spark": self._spark_version(),
                    "java": box.java_version(),
                    "python": platform.python_version()},
            "ops": len(latencies),
            "op_latencies_s": [round(x, 3) for x in latencies],
            "op_tail_percentile": pct,
            "failed_op_ratio": failed / attempted,
            "peak_rss_mb": round(rss, 1),
            "errors": errors[:5],
            "setup_s": round(setup_s, 3),
            "session_s": round(session_s, 3),
            "warmup_s": [round(x, 3) for x in warmup_s],
            "generate_s": round(gen_s, 3),
            "check_s": round(check_s, 3),
        }
        return result, report

    # ------------------------------------------------------------------ #

    def _storage(self) -> tuple[int, float]:
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return jsc.getPersistentRDDs().size(), size / 2 ** 20

    def _spark_version(self) -> str:
        return self.spark.version if self.spark is not None else "unknown"

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        run started to end."""
        procs = []
        if self.gateway_proc is not None:
            procs = [self.gateway_proc.pid,
                     *box.descendants(self.gateway_proc.pid)]
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            from pyspark import SparkContext
            gateway = SparkContext._gateway
            if gateway is not None:
                try:
                    gateway.shutdown()
                except Exception:
                    pass
                SparkContext._gateway = None
                SparkContext._jvm = None
            proc = self.gateway_proc
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            _wait_gone(procs)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1][0] != "Z"
    except (OSError, IndexError):
        return False
