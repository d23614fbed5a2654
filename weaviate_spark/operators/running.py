"""One bucketed window: running aggregates and row numbers over a
(per-group) total order, with bucket-level parallelism.

``Window.orderBy(...)`` with no ``partitionBy`` ships every row to ONE
task, and ``Window.partitionBy(group).orderBy(...)`` runs each group in
one task, so a few giant groups cap the stage's parallelism at the group
count at any scale. ``bucketed_running`` computes the same frames in four
steps:

1. ONE ``percentile_approx`` aggregate sketches ~``buckets`` boundaries
   of the numeric leading order key ``lead`` (a bounded driver collect,
   embedded as literals);
2. every row gets a bucket id = number of boundaries strictly below its
   key. The mapping is monotone, so buckets are contiguous ranges of the
   order;
3. the row-level window runs per (group, bucket) behind ONE
   hashpartitioning exchange;
4. per-(group, bucket) totals feed an offsets window partitioned by the
   group columns and bounded by the bucket count, joined back onto the
   rows by broadcast.

Contract: the result equals ``Window.partitionBy(*group_cols)
.orderBy(*order).rowsBetween(unboundedPreceding, end)`` row for row.

* NULL leads sort first, as under ASC: they fail every ``v > b`` test
  and land in bucket 0.
* A NULL group is its own group, as under ``Window.partitionBy``: the
  offsets join is null-safe on the group columns.
* Ties never straddle a bucket: equal leads share a bucket, so any
  monotone bucketing is exact and the approximate boundary VALUES only
  control balance. A bucket-count change never changes results.
* Empty input and empty groups yield no rows. A single hot lead value
  bounds the parallelism at that value's row count, the same limit AQE
  skew handling has for one unsplittable key.

The input is read three times (sketch, rows, bucket totals), so callers
pass a cheap frame (a column-pruned scan) or a cached or checkpointed
one.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["RunningAgg", "bucketed_running", "ntile_from_rank"]

_FN = {"sum": F.sum, "max": F.max}


def ntile_from_rank(rank: Column, n: Column, b: int) -> Column:
    """Spark ``ntile(b)`` derived from (global 1-based row_number, total
    row count): the first ``n % b`` tiles hold ``(n div b) + 1`` rows,
    the remaining tiles ``n div b`` — pure integer arithmetic, so the
    tile assignment never needs the single-partition window ntile()
    plans. ``greatest(..., 1)`` guards the unreachable else-branch
    division when n < b (every row then satisfies the first branch)."""
    q = F.floor(n / F.lit(b)).cast("long")
    r = (n % F.lit(b)).cast("long")
    thr = r * (q + F.lit(1))
    return F.when(
        rank <= thr, F.floor((rank - 1) / (q + F.lit(1))).cast("long") + 1
    ).otherwise(
        r + F.floor((rank - thr - 1) / F.greatest(q, F.lit(1))).cast("long") + 1
    )


class RunningAgg:
    """One running aggregate: ``fn`` in {"sum", "max"}, ``col`` the
    input column, ``end`` the frame end (0 = inclusive of the current
    row, -1 = strictly preceding rows only). The exclusive form yields
    NULL for each group's first row (same as the plain window)."""

    __slots__ = ("out", "col", "fn", "end")

    def __init__(self, out: str, col: Column, fn: str = "sum", end: int = 0):
        if fn not in _FN:
            raise ValueError(f"unsupported running fn {fn!r}")
        if end not in (0, -1):
            raise ValueError("end must be 0 (inclusive) or -1 (exclusive)")
        self.out, self.col, self.fn, self.end = out, col, fn, end


def _bucket_expr(lead: Column, boundaries: list[float]) -> Column:
    """Deterministic bucket id: count of boundaries strictly below the
    key, evaluated as a generated binary-search WHEN tree — O(log B)
    comparisons per row, O(B) expression nodes. NULL keys (Spark sorts
    them first under ASC) fail every ``v > b`` comparison and land in
    bucket 0, matching their sort position."""
    if not boundaries:
        return F.lit(0)
    v = lead.cast("double")

    def search(lo: int, hi: int) -> Column:
        # bucket for keys known to have exactly `lo`..`hi` boundaries
        # below them, deciding on boundaries[lo:hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(v > F.lit(float(boundaries[mid])), search(mid + 1, hi)).otherwise(
            search(lo, mid)
        )

    return search(0, len(boundaries))


def bucketed_running(
    df: DataFrame,
    lead: Column,
    order: Sequence[Column],
    aggs: Sequence[RunningAgg],
    rank_col: str | None = None,
    total_col: str | None = None,
    group_cols: Sequence[str] = (),
    buckets: int | None = None,
) -> DataFrame:
    """Return ``df`` with running aggregates over the order ``order``
    (whose numeric-castable leading component is ``lead``) within each
    ``group_cols`` group (the whole frame when there are none), computed
    with bucket-level parallelism.

    ``rank_col``: 1-based row_number within the group (requires ``order``
    to be a total order, unique per row — otherwise tie order, and
    therefore the rank assignment, is nondeterministic exactly as it
    would be with the plain window). Under a total order the descending
    rank is ``total - rank + 1``. ``total_col``: the group's row count
    attached to every row. Frames are ROWS-based, matching
    ``Window.rowsBetween(unboundedPreceding, end)``.
    """
    if buckets is None:
        # one bucket per shuffle partition, capped: past ~1k buckets the
        # per-row search depth and the literal array stop paying for
        # extra parallelism (buckets bound the stage's max parallelism;
        # at 1024 buckets even a 10^10-row frame is ~10M rows/bucket)
        conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        buckets = min(max(int(conf), 1), 1024)
    gcols = list(group_cols)
    part = [*gcols, "_rb"]

    # 1. boundary sketch: bounded (buckets-1 values) driver collect
    boundaries: list[float] = []
    if buckets > 1:
        fracs = [i / buckets for i in range(1, buckets)]
        row = df.select(
            F.percentile_approx(
                lead.cast("double"), F.array(*[F.lit(f) for f in fracs]), F.lit(10000)
            ).alias("_b")
        ).first()
        if row is not None and row["_b"] is not None:
            # drop duplicate boundaries (heavy ties); strictness of the
            # bucket comparison keeps equal keys together either way
            boundaries = sorted({b for b in row["_b"] if b is not None})

    d = df.withColumn("_rb", _bucket_expr(lead, boundaries))

    # 2. per-(group, bucket) window (the only corpus-sized exchange)
    out = d
    wloc = Window.partitionBy(*part).orderBy(*order)
    for a in aggs:
        w = wloc.rowsBetween(Window.unboundedPreceding, a.end)
        out = out.withColumn(f"_loc_{a.out}", _FN[a.fn](a.col).over(w))
    if rank_col is not None:
        out = out.withColumn("_loc_rn", F.row_number().over(wloc))

    # 3. (group, bucket) totals -> exclusive offsets per group (a
    # groups x buckets frame)
    tot = d.groupBy(*part).agg(
        F.count(F.lit(1)).alias("_tn"),
        *[_FN[a.fn](a.col).alias(f"_t_{a.out}") for a in aggs],
    )
    wgrp = Window.partitionBy(*gcols).orderBy("_rb")
    woff = wgrp.rowsBetween(Window.unboundedPreceding, -1)
    # group columns are renamed on the offsets side so the join below
    # can compare them null-safe
    ogs = [f"_og_{i}" for i in range(len(gcols))]
    off_cols = [F.col(g).alias(o) for g, o in zip(gcols, ogs)] + [
        F.col("_rb").alias("_orb"),
        F.sum("_tn").over(woff).alias("_off_rn"),
    ]
    if total_col is not None:
        wall = wgrp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        off_cols.append(F.sum("_tn").over(wall).alias("_grand_n"))
    for a in aggs:
        off_cols.append(_FN[a.fn](f"_t_{a.out}").over(woff).alias(f"_off_{a.out}"))
    off = tot.select(*off_cols)

    # 4. one broadcast join, null-safe on the group columns: a NULL group
    # is its own group, as under Window.partitionBy
    cond = F.col("_rb") == F.col("_orb")
    for g, o in zip(gcols, ogs):
        cond = cond & F.col(g).eqNullSafe(F.col(o))
    out = out.join(F.broadcast(off), cond)
    for a in aggs:
        loc, offc = F.col(f"_loc_{a.out}"), F.col(f"_off_{a.out}")
        if a.fn == "sum":
            # exclusive local is NULL on each bucket's first row; the
            # exclusive value there is exactly the offset (NULL for the
            # group's first row, as the plain window yields)
            comb = F.when(loc.isNull(), offc).otherwise(loc + F.coalesce(offc, F.lit(0)))
        else:
            comb = F.greatest(loc, offc)  # skips NULLs; NULL only if both are
        out = out.withColumn(a.out, comb)
    if rank_col is not None:
        out = out.withColumn(
            rank_col, F.col("_loc_rn") + F.coalesce(F.col("_off_rn"), F.lit(0))
        )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_grand_n"))

    drop = ["_rb", "_orb", "_off_rn", "_loc_rn", "_grand_n", *ogs]
    for a in aggs:
        drop += [f"_loc_{a.out}", f"_off_{a.out}"]
    return out.drop(*drop)
