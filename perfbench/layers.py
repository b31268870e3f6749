"""Per-layer metrics of a traced run, named ``<module>.<call>.<quantity>``.

``jobs`` counts the Spark jobs fired inside a call, ``job_s`` is the wall
time during which at least one of them ran and ``driver_s`` is the rest of
the call.  Timings are medians over the run's timed ops; counts are means
per call.  ``session.get_spark.s`` is the set-up's one call, which
launches the JVM.  A metric whose call a workload never makes reads 0.
"""

from __future__ import annotations

import stats
from tracing import job_seconds, self_time, subtree
from workloads import FAMILIES

MB = 2 ** 20

PER_LAYER: dict[str, str] = {
    "session.get_spark.s": "s",
    "sources.get_prices.s": "s",
    "sources.get_prices.jobs": "count",
    "sources.cache.hit_ratio": "ratio",
    "sources.cache.lookups": "count",
    "sources.cache.write_mb": "MB",
    "strategies.backtest.s": "s",
    "strategies.backtest.jobs": "count",
    "strategies.trade.s": "s",
    "strategies.trade.jobs": "count",
    "strategies.trade.job_s": "s",
    "strategies.trade.driver_s": "s",
    "operators.summary_metrics.s": "s",
    "operators.summary_metrics.jobs": "count",
    "action.collect.s": "s",
    "action.collect.jobs": "count",
    "action.collect.job_s": "s",
    **{f"queries.{f}.{q}": u for f in FAMILIES
       for q, u in (("build_s", "s"), ("build_jobs", "count"),
                    ("build_job_s", "s"), ("exec_s", "s"))},
    "queries.analysis_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.slot_use": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.persisted_rdds": "count",
    "spark.storage_mb": "MB",
    "memory.peak_rss_mb": "MB",
    "op.self_s": "s",
    "trace.op_p50_s": "s",
    "trace.bookkeeping_ms_per_op": "ms",
}


def _med(values):
    return stats.median(values) if values else 0.0


def _mean(values):
    return sum(values) / len(values) if values else 0.0


def per_layer_metrics(tracer, op_stats, storage, cpus, latencies):
    spans = tracer.spans
    timed = [s for s in spans if s.op is not None]

    def calls(name):
        return [s for s in timed if s.name == name]

    def jobs(s):
        return sum(len(c.jobs) for c in subtree(s, spans))

    m = {}
    m["session.get_spark.s"] = _med(
        [s.duration for s in spans if s.name == "session.get_spark"])
    for call in ("sources.get_prices", "strategies.backtest",
                 "strategies.trade", "operators.summary_metrics",
                 "action.collect"):
        cs = calls(call)
        m[f"{call}.s"] = _med([s.duration for s in cs])
        m[f"{call}.jobs"] = _mean([jobs(s) for s in cs])
    m["action.collect.job_s"] = _med([job_seconds(s)
                                      for s in calls("action.collect")])
    trades = calls("strategies.trade")
    m["strategies.trade.job_s"] = _med([job_seconds(s) for s in trades])
    m["strategies.trade.driver_s"] = _med([s.duration - job_seconds(s)
                                           for s in trades])
    gp = [s for s in calls("sources.get_prices") if s.counts]
    lookups = sum(s.counts.get("cache_lookups", 0) for s in gp)
    hits = sum(s.counts.get("cache_hits", 0) for s in gp)
    m["sources.cache.lookups"] = lookups
    m["sources.cache.hit_ratio"] = hits / lookups if lookups else 0.0
    m["sources.cache.write_mb"] = _mean(
        [s.counts.get("cache_write_b", 0) / MB for s in gp])
    analysis = []
    for fam in FAMILIES:
        build = calls(f"queries.{fam}.build")
        m[f"queries.{fam}.build_s"] = _med([s.duration for s in build])
        m[f"queries.{fam}.build_jobs"] = _mean([jobs(s) for s in build])
        m[f"queries.{fam}.build_job_s"] = _med([job_seconds(s)
                                                for s in build])
        m[f"queries.{fam}.exec_s"] = _med(
            [s.duration for s in calls(f"queries.{fam}.exec")])
        analysis += [s.counts["analysis_ms"] for s in build
                     if "analysis_ms" in s.counts]
    m["queries.analysis_ms"] = _med(analysis)

    n = len(op_stats) or 1
    tot = {k: sum(getattr(st, k) for _, st in op_stats)
           for k in ("jobs", "stages", "tasks", "task_run_s", "gc_s",
                     "shuffle_read_b", "shuffle_write_b", "spill_b")}
    wall = sum(dt for dt, _ in op_stats)
    m["spark.jobs"] = tot["jobs"] / n
    m["spark.stages"] = tot["stages"] / n
    m["spark.tasks"] = tot["tasks"] / n
    m["spark.task_run_s"] = tot["task_run_s"] / n
    m["spark.slot_use"] = tot["task_run_s"] / (wall * cpus) if wall else 0.0
    m["spark.gc_s"] = tot["gc_s"] / n
    m["spark.shuffle_read_mb"] = tot["shuffle_read_b"] / MB / n
    m["spark.shuffle_write_mb"] = tot["shuffle_write_b"] / MB / n
    m["spark.spill_mb"] = tot["spill_b"] / MB / n
    m["spark.persisted_rdds"] = max((c for c, _ in storage), default=0)
    m["spark.storage_mb"] = max((s for _, s in storage), default=0.0)
    m["op.self_s"] = _med([self_time(s, spans) for s in calls("op")])
    m["trace.op_p50_s"] = stats.hd_quantile(latencies, 0.5)
    m["trace.bookkeeping_ms_per_op"] = tracer.bookkeeping_s * 1e3 / n
    return m
