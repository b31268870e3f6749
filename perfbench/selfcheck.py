"""Checks of the benchmark's own arithmetic, run at the start of every run
(and on their own with ``python3 perfbench/selfcheck.py``): the tail
percentile rule, the Harrell-Davis estimate, span self time, job-to-span
attribution and generator determinism.  None of them needs Spark."""

from __future__ import annotations

import math
import sys

import gen
import stats
import tracing
import workloads


def nearest_rank(values: list[float], p: float) -> float:
    s = sorted(values)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def check_percentiles():
    rule = {1: None, 19: None, 20: 50, 21: 52, 30: 66, 34: 70, 99: 89,
            100: 90, 200: 95, 1000: 99}
    for n, want in rule.items():
        got = stats.tail_percentile(n)
        assert got == want, f"tail_percentile({n}) = {got}, want {want}"
    for n in range(20, 400):
        p = stats.tail_percentile(n)
        values = [float(i) for i in range(n)]
        beyond = sum(v > nearest_rank(values, p) for v in values)
        assert beyond >= 10, f"only {beyond} of {n} beyond p{p}"
        higher = sum(v > nearest_rank(values, p + 1) for v in values)
        assert higher < 10 or p == 99, f"p{p + 1} also has 10 beyond at {n}"
    values = [float(i) for i in range(1, 101)]       # 1..100
    got, p = stats.tail(values)                       # 10 values beyond
    assert p == 90 and 90.0 < got < 91.0, (got, p)
    got, p = stats.tail(values[:19])                  # too few: near max
    assert p == 95.0 and 17.0 < got < 19.0, (got, p)
    assert nearest_rank(values[:40], 75.0) == 30.0
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5


def check_harrell_davis():
    assert abs(stats.betainc(2.0, 3.0, 0.4) - 0.5248) < 1e-12
    assert abs(stats.betainc(3.0, 2.0, 0.6) - (1 - 0.5248)) < 1e-12
    for n in (1, 2, 8, 22, 35, 100):
        assert abs(stats.hd_quantile([4.5] * n, 0.7) - 4.5) < 1e-9, n
    symmetric = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]
    assert abs(stats.hd_quantile(symmetric, 0.5) - 4.0) < 1e-9
    assert stats.hd_quantile(symmetric, 0.3) < stats.hd_quantile(
        symmetric, 0.5) < stats.hd_quantile(symmetric, 0.9) < 7.0
    # one op crossing a gap moves the estimate by a fraction of the gap
    gap = [1.0] * 11 + [2.0] * 11
    moved = [1.0] * 10 + [2.0] * 12
    shift = stats.hd_quantile(moved, 0.54) - stats.hd_quantile(gap, 0.54)
    assert 0.0 < shift < 0.5, shift


def _span(i, parent, start, end, op=0):
    return tracing.Span(i, f"s{i}", op, parent, start, end)


def check_self_time():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0),
             _span(2, 0, 2.0, 5.0), _span(3, 0, 8.0, 9.0),
             _span(4, 1, 1.5, 2.5)]
    # children of 0 cover [1, 5] and [8, 9]; the grandchild is inside [1, 3]
    assert tracing.self_time(spans[0], spans) == 5.0
    assert tracing.self_time(spans[1], spans) == 1.0
    assert tracing.self_time(spans[3], spans) == 1.0
    assert [s.id for s in tracing.subtree(spans[1], spans)] == [1, 4]
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4


class _FakeSpark:
    """Just enough of a SparkContext and its status store for the tracer:
    a job "runs" by recording the thread's current job group."""

    def __init__(self):
        self.group = None
        self.jobs = []                    # (group, start, end)
        fake = self

        class _Opt:
            def __init__(self, v):
                self.v = v

            def isEmpty(self):
                return self.v is None

            def get(self):
                return type("D", (), {"getTime": lambda _: self.v * 1e3})()

        class _Seq:
            def size(self):
                return 0

        class _Job:
            def __init__(self, j):
                self.j = j

            def submissionTime(self):
                return _Opt(fake.jobs[self.j][1])

            def completionTime(self):
                return _Opt(fake.jobs[self.j][2])

            def stageIds(self):
                return _Seq()

        class _Store:
            def job(self, j):
                return _Job(j)

        class _Tracker:
            def getJobIdsForGroup(self, g):
                return [i for i, j in enumerate(fake.jobs) if j[0] == g]

        class _Sc:
            def statusStore(self):
                return _Store()

            def statusTracker(self):
                return _Tracker()

        class _Jsc:
            def sc(self):
                return _Sc()

            def clearJobGroup(self):
                fake.group = None

        self._jsc = _Jsc()

    def setJobGroup(self, group, description):
        self.group = group

    def run_job(self, start, end):
        self.jobs.append((self.group, start, end))


def check_attribution():
    sc = _FakeSpark()
    tr = tracing.Tracer(True)
    tr.bind(sc)
    with tr.span("op", op=0) as op:
        with tr.span("build") as build:
            sc.run_job(op.start, op.start + 0.001)
        sc.run_job(op.start, op.start + 0.002)     # after build closed
        with tr.span("exec") as ex:
            with tr.span("inner") as inner:
                sc.run_job(inner.start, inner.start + 0.001)
            sc.run_job(ex.start, ex.start + 0.001)
    sc.run_job(0.0, 1.0)                           # outside any span
    assert sc.group is None, "job group not cleared after the outer span"
    spans = [s for s in tr.spans if s.op == 0]
    total = tr.collect_jobs(spans)
    assert total.jobs == 4, total
    owner = {j: s.name for s in spans for j, _, _ in s.jobs}
    assert owner == {0: "build", 1: "op", 2: "inner", 3: "exec"}, owner
    assert sum(len(c.jobs) for c in tracing.subtree(ex, spans)) == 2
    tr2 = tracing.Tracer(False)
    with tr2.span("op", op=0) as s:
        assert s is None and not tr2.spans


def check_generators():
    a = gen.grid_walk(gen.rng_for(7, "daily"), 5, 40, 0.05)
    b = gen.grid_walk(gen.rng_for(7, "daily"), 5, 40, 0.05)
    c = gen.grid_walk(gen.rng_for(8, "daily"), 5, 40, 0.05)
    same = ((a == b) | (a != a) & (b != b)).all()
    assert same, "same seed gave a different panel"
    assert not ((a == c) | (a != a) & (c != c)).all(), \
        "different seeds gave the same panel"
    assert (a[a == a] % gen.TICK == 0).all(), "closes off the tick grid"
    sids = gen.sid_names(30)
    acc = [gen.trade_accounts(gen.rng_for(seed, "accounts"), sids)
           for seed in (7, 7, 8)]
    assert acc[0] == acc[1], "same seed gave other accounts"
    assert acc[0] != acc[2], "different seeds gave the same accounts"
    t1 = gen.catalog_tables(7, 0.0005)
    t2 = gen.catalog_tables(7, 0.0005)
    t3 = gen.catalog_tables(8, 0.0005)
    assert all(t1[k].equals(t2[k]) for k in t1), "catalog not deterministic"
    assert not t1["lineitem"].equals(t3["lineitem"]), \
        "different seeds gave the same catalog"
    dates = [f"d{i:04d}" for i in range(2520)]

    def ops(seed):
        wl = workloads.ResearchBacktest(seed, "", None)
        wl.plan(dates)
        blocks = wl.blocks()
        return [next(blocks) for _ in range(4)]

    a, b, c = ops(7), ops(7), ops(8)
    assert a == b, "same seed gave other research ops"
    assert a != c, "different seeds gave the same research ops"
    for block in a:
        kinds = sorted(op["strategy"][0] if "strategy" in op else "trade"
                       for op in block)
        assert kinds == ["boll", "dma", "dma-costs", "trade"], \
            "a block is not one op per kind"
        assert sum(op.get("end", dates[-1]) != dates[-1]
                   for op in block) == 1, \
            "a block has not exactly one cache miss"
    family = {f"{fam}_{i:03d}": fam for fam in workloads.FAMILIES
              for i in range(3 + 7 * len(fam))}
    cat = workloads.Catalog(7, "", None)
    cat.choose(family)
    assert {family[q] for q in cat.slice} == set(workloads.FAMILIES)
    assert len(set(cat.slice)) == len(cat.slice)
    assert not set(cat.warm) & set(cat.slice)


def run_all() -> None:
    check_percentiles()
    check_harrell_davis()
    check_self_time()
    check_attribution()
    check_generators()


if __name__ == "__main__":
    run_all()
    print("perfbench self-checks passed")
    sys.exit(0)
