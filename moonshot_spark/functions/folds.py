"""Order-pinned exact folds with a group-width guard.

The oracle-parity pattern ``aggregate(transform(array_sort(collect_list(
struct(key, val))), s -> s.val), 0.0, (a, b) -> a + b)`` reproduces
DuckDB's ``list_reduce(list(val ORDER BY key), +)`` — the same
left-to-right IEEE addition order, so both engines produce bit-identical
doubles.  Its one scale hazard: the array materializes ONE GROUP'S rows
in a single task, so per-task memory grows linearly with the group size
(e.g. the cross-section width when folding all sids of a date).  Fine at
any realistic universe width, catastrophic if pointed at an unbounded
group.

``fold_sum_exact`` is that pattern plus an inline width guard (the same
design as the LSH hot-bucket cap in datapipe/dedup.py and the bucket cap
in operators/interval_join.py): a group wider than ``max_width`` fails
fast inside the job with guidance, instead of OOMing an executor.  The
guard is a lazy column expression — no extra action, no lineage
recompute.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["fold_sum_exact", "DEFAULT_MAX_FOLD_WIDTH"]

# 1M doubles = ~8 MB of array per group in one task: comfortably inside
# an executor, far above any realistic cross-section width
DEFAULT_MAX_FOLD_WIDTH = 1_000_000


def fold_sum_exact(key_col, val: Column,
                   max_width: int = DEFAULT_MAX_FOLD_WIDTH,
                   label: str = "fold_sum_exact") -> Column:
    """Aggregate expression: sum of ``val`` over the group's rows in
    ``key_col`` order, folded left-to-right (bit-exact vs DuckDB's
    ``list_reduce(list(val ORDER BY key), +)``).  Errors inside the job
    if the group holds more than ``max_width`` rows — raise the bound
    (or switch to a plain windowed sum, which needs no array) for wider
    groups."""
    rows = F.collect_list(F.struct(key_col, val.alias("v")))
    # the guard reads the unsorted list's size, so each group is sorted
    # once: Spark does not share an array_sort repeated between the CASE
    # condition and its branch
    guarded = F.when(
        F.size(rows) > max_width,
        F.raise_error(F.concat(
            F.lit(f"{label}: fold group holds "), F.size(rows).cast("string"),
            F.lit(f" rows (> max_width={max_width}); the order-pinned "
                  "array fold materializes the whole group in one task — "
                  "raise max_width or use a plain windowed sum")))
    ).otherwise(F.transform(F.array_sort(rows), lambda s: s["v"]))
    return F.aggregate(guarded, F.lit(0.0), lambda a, b: a + b)
