"""Time-series analytics primitives: cohort retention and as-of join.

Beyond the reference's operator surface (its aggregation layer stops at
grouped scalar aggregates, adapters/repos/db/aggregator/grouped.go) but
core to the analytics/training-pipeline workloads this engine targets —
both are expressed as single-shuffle window plans, no range-join blowup.

* ``retention_cohorts`` — classic cohort analysis: bucket each user by
  the period of their first event, then count distinct active users per
  (cohort, periods-since) cell. Two shuffles: one on user (window min),
  one on the cell key (distinct-agg); cohort sizes join back broadcast
  (the cohort dimension is tiny — one row per period — at any scale).

* ``asof_join`` — for every left row, the newest right row with
  ``right_ts <= left_ts`` on the same key. Implemented as the
  union + ordered-window "last carried forward" plan: ONE shuffle on
  the key, no interval/range join (a range join on (key, ts<=ts) is
  O(|L|·|R|) per key and is exactly what dies at 100 TB). Right rows
  are pre-deduplicated to one per (key, ts) so results stay
  deterministic under timestamp ties.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from weaviate_spark.cache import register_cache, register_checkpoint


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    unit: str = "week",
) -> DataFrame:
    """(cohort_start, periods_since, n_active, retention) per cohort cell.

    ``retention`` is n_active / cohort size (the period-0 cell), so the
    period-0 row is always 1.0. ``unit`` is any Spark ``date_trunc``
    unit; periods are whole calendar buckets (week = Monday-anchored in
    both Spark and DuckDB, which keeps the oracle exact).
    """
    per = {"week": 7, "day": 1}
    if unit not in per:
        raise ValueError(f"unsupported cohort unit {unit!r}")
    days = per[unit]

    ts = F.date_trunc(unit, F.col(ts_col)).alias("_period")
    w = Window.partitionBy("_u")
    rows = (
        events.select(F.col(user_col).alias("_u"), ts)
        .withColumn("_cohort", F.min("_period").over(w))
        .withColumn(
            "_since",
            (F.datediff(F.col("_period"), F.col("_cohort")) / days).cast("bigint"),
        )
    )
    cells = (
        rows.groupBy(F.col("_cohort").alias("cohort_start"),
                     F.col("_since").alias("periods_since"))
        .agg(F.countDistinct("_u").alias("n_active"))
    )
    sizes = (
        cells.where(F.col("periods_since") == 0)
        .select(F.col("cohort_start"), F.col("n_active").alias("_cohort_size"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_start")
        .select(
            "cohort_start",
            "periods_since",
            "n_active",
            (F.col("n_active") / F.col("_cohort_size")).alias("retention"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] = (),
    tolerance_seconds: Optional[float] = None,
    right_tiebreak: Optional[str] = None,
    direction: str = "backward",
) -> DataFrame:
    """Left rows + the newest right row with ``right_ts <= left_ts``
    (``direction="backward"``, default) or the EARLIEST right row with
    ``right_ts >= left_ts`` (``direction="forward"`` — the
    next-event / time-to-response join, pandas merge_asof parity).

    Output = all left columns, plus each requested right column as
    ``asof_<name>``, plus ``asof_ts`` (the matched right timestamp; NULL
    when no prior right row exists or the match is older than
    ``tolerance_seconds``).

    ``right_tiebreak`` names a right column used to pick ONE row when
    several share (key, ts) — the row with the greatest tiebreak value
    wins; without it, ties raise at analysis time via the dedup count
    check being skipped (caller asserts uniqueness).

    Plan shape: union the two inputs tagged by side, shuffle ONCE on the
    key, sort within partition by (ts, side), and carry the last
    non-null right payload forward. Scales as a single exchange +
    in-partition sort regardless of how many right rows precede each
    left row.
    """
    rcols = [c for c in right_cols if c != right_ts]
    carry = list(rcols)
    if (
        right_tiebreak is not None
        and right_tiebreak not in carry
        and right_tiebreak != right_ts
    ):
        carry.append(right_tiebreak)

    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_t"),
        *[F.col(c) for c in carry],
    )
    if right_tiebreak is not None:
        pick = Window.partitionBy("_k", "_t").orderBy(F.col(right_tiebreak).desc())
        r = (
            r.withColumn("_rn", F.row_number().over(pick))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    r = r.select(
        "_k", "_t", F.lit(0).alias("_side"),
        F.struct(F.col("_t").alias("_rts"),
                 *[F.col(c) for c in rcols]).alias("_payload"),
    )

    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_row"),
    )
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof direction must be backward/forward, got {direction!r}")
    u = r.select("_k", "_t", "_side", "_payload",
                 F.lit(None).cast(l.schema["_row"].dataType).alias("_row")
                 ).unionByName(l)
    if direction == "backward":
        # right rows sort BEFORE the left row at an equal ts: <= match
        w = (
            Window.partitionBy("_k")
            .orderBy(F.col("_t").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pick_m = F.last("_payload", ignorenulls=True).over(w)
    else:
        # right rows sort AFTER the left row at an equal ts: >= match
        w = (
            Window.partitionBy("_k")
            .orderBy(F.col("_t").asc(), F.col("_side").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        pick_m = F.first("_payload", ignorenulls=True).over(w)
    matched = (
        u.withColumn("_m", pick_m)
        .where(F.col("_side") == 1)
    )
    if tolerance_seconds is not None:
        def _secs(c):
            # NTZ-safe epoch seconds (a bare .cast("double") rejects
            # TIMESTAMP_NTZ); both sides share a type so the delta is
            # timezone-invariant
            return F.unix_micros(c.cast("timestamp")).cast("double") / F.lit(1e6)

        gap = (
            _secs(F.col("_t")) - _secs(F.col("_m._rts"))
            if direction == "backward"
            else _secs(F.col("_m._rts")) - _secs(F.col("_t"))
        )
        matched = matched.withColumn(
            "_m",
            F.when(
                F.col("_m").isNotNull()
                & (gap <= F.lit(float(tolerance_seconds))),
                F.col("_m"),
            ),
        )
    return matched.select(
        *[F.col(f"_row.{c}").alias(c) for c in left.columns],
        F.col("_m._rts").alias("asof_ts"),
        *[F.col(f"_m.{c}").alias(f"asof_{c}") for c in rcols],
    )


def funnel_conversion(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: how many users completed each stage IN
    ORDER (each stage's event strictly after the user's previous-stage
    completion time). Returns one row per stage plus a stage-0 "all"
    row: (stage_idx, stage, n_users, conversion), conversion = this
    stage's users / previous stage's (1.0 for the "all" row).

    Implementation: per-stage cascaded min-timestamp groupBys — stage
    k keeps min(ts) over the user's stage-k events that are > the
    user's stage-(k-1) completion. Every groupBy and join is keyed on
    the user column, so after the first shuffle all later stages
    co-partition (AQE reuses the exchange); no window over the full
    event stream, no per-user collect. The stage tables shrink
    monotonically, so the later joins broadcast under AQE at any
    scale where the funnel actually narrows."""
    cur = None  # (user, completion ts) of the previous stage
    counts = [
        events.agg(
            F.count_distinct(F.col(user_col)).cast("long").alias("n_users")
        ).select(
            F.lit(0).cast("long").alias("stage_idx"),
            F.lit("all").alias("stage"),
            "n_users",
        )
    ]
    for i, stage in enumerate(stages):
        leg = events.where(F.col(type_col) == stage).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if cur is not None:
            leg = leg.join(cur, "_u").where(F.col("_ts") > F.col("_prev"))
        # checkpoint each stage's (user, completion) table: it feeds BOTH
        # the next stage's join and this stage's count — without the
        # leaf, stage k's count re-executed the whole cascade from the
        # raw events (k+1 extra scans; quadratic passes in stage count)
        cur = register_checkpoint(
            leg.groupBy("_u").agg(F.min("_ts").alias("_prev")))
        counts.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(i + 1).cast("long").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                "n_users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    w = Window.orderBy("stage_idx")
    return out.select(
        "stage_idx",
        "stage",
        "n_users",
        (
            F.round(
                F.col("n_users")
                / F.coalesce(F.lag("n_users").over(w), F.col("n_users")),
                6,
            )
            + F.lit(0.0)
        ).alias("conversion"),
    )


def daily_count_zscores(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    trailing: int = 7,
    min_history: int = 3,
) -> DataFrame:
    """Volume-anomaly detection: per (event_type, day) counts scored
    against the trailing ``trailing``-day window (rows between
    -trailing and -1): z = (n - mean) / stddev_samp. Days with fewer
    than ``min_history`` preceding days in frame, or zero variance,
    emit NULL z. The streaming-adjacent ops signal (error-rate spikes,
    traffic cliffs) as one batch plan: a single (type, day) groupBy
    then a per-type ordered window — the window key is the low-
    cardinality type column, but each partition holds only one row
    per DAY (the heavy reduction happened in the groupBy), so the
    window stage is trivially small at any corpus scale."""
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    daily = events.groupBy(F.col(type_col).alias("event_type"), day).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-trailing, -1)
    )
    mean = F.avg("n").over(w)
    sd = F.stddev_samp(F.col("n").cast("double")).over(w)
    hist = F.count(F.lit(1)).over(w)
    z = F.when(
        (hist >= min_history) & (sd > 0), (F.col("n") - mean) / sd
    )
    return daily.select(
        "event_type",
        F.col("day").cast("date").alias("day"),
        "n",
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Data-profiling pass over numeric columns: one output row per
    column with count / null count+fraction / exact distinct / min /
    max / mean / sample stddev — the pre-ingest triage a pipeline runs
    before trusting a new 100 TB drop (nulls where there shouldn't be,
    constant columns, range drift).

    One full-table aggregate computes every per-column statistic in a
    single pass (map-side partial agg, no per-column rescan); the
    exact-distinct counts are the only shuffle-expander (Spark rewrites
    multi-distinct aggregates via expand) — swap in approx_count_
    distinct at scale if 2% error is acceptable. Rows materialize via
    a stack() unpivot of the single aggregate row.

    Mean and stddev come from DECIMAL(18,2)-exact sums of x and x*x
    (TPC-H-style money/quantity columns are 2dp-exact, so the casts
    lose nothing) — a double sum's low bits vary with partition order
    and would drift the 6dp contract hash at scale; decimal sums are
    order-independent, and the final sqrt/divide runs on identical
    exact inputs in every engine."""
    aggs = []
    for c in cols:
        col = F.col(c).cast("double")
        dec = F.col(c).cast("decimal(18,2)")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count(col).alias(f"{c}__nn"),
            F.count_distinct(col).alias(f"{c}__distinct"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
            F.sum(dec).cast("double").alias(f"{c}__s1"),
            F.sum(dec * dec).cast("double").alias(f"{c}__s2"),
        ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__nn, {c}__distinct, "
        f"{c}__min, {c}__max, {c}__s1, {c}__s2"
        for c in cols
    )
    rows = one.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS "
            "(column_name, n, n_null, nn, n_distinct, min, max, s1, s2)"
        )
    )
    mean = F.col("s1") / F.col("nn")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nn")) / (
        F.col("nn") - 1
    )
    return rows.select(
        "column_name",
        F.col("n").cast("long").alias("n"),
        F.col("n_null").cast("long").alias("n_null"),
        (F.round(F.col("n_null") / F.col("n"), 6) + F.lit(0.0)).alias("null_frac"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        (F.round("min", 6) + F.lit(0.0)).alias("min"),
        (F.round("max", 6) + F.lit(0.0)).alias("max"),
        (F.round(mean, 6) + F.lit(0.0)).alias("mean"),
        (F.round(F.sqrt(var), 6) + F.lit(0.0)).alias("std"),
    )


def gap_fill_daily(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-series regularization: per (event_type, day) counts with
    MISSING DAYS materialized (count 0) across each type's observed
    span, plus last-observation-carried-forward of the most recent
    non-zero day — the resample step before any rolling statistic or
    anomaly model (gaps otherwise silently shrink trailing windows,
    cf. daily_count_zscores).

    Plan: one (type, day) groupBy reduction; per type the day span
    explodes from a sequence() — the calendar frame is
    span-days x types rows regardless of corpus size; one left join
    back on (type, day) and one ordered window for the carry-forward.
    All keyed on the same (type, day) pair, so AQE reuses the
    exchange."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    daily = events.groupBy(F.col(type_col).alias("event_type"), day).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    spans = daily.groupBy("event_type").agg(
        F.min("day").alias("_lo"), F.max("day").alias("_hi")
    )
    calendar = spans.select(
        "event_type",
        F.explode(F.sequence("_lo", "_hi")).alias("day"),
    )
    filled = calendar.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last(
        F.when(F.col("n") > 0, F.col("n")), ignorenulls=True
    ).over(w)
    return filled.select(
        "event_type",
        "day",
        "n",
        (F.col("n") == 0).alias("was_gap"),
        carried.cast("long").alias("locf"),
    )


def pareto_frontier(
    df: DataFrame, minimize: str, maximize: str
) -> DataFrame:
    """Rows on the 2-D Pareto frontier (the skyline operator,
    Börzsönyi et al. ICDE'01): keep a row iff no other row is <= on
    ``minimize`` AND >= on ``maximize`` with at least one strict.

    Scale shape: dominance only ever depends on the VALUE pair, so the
    sweep runs on the collapsed frame — max(maximize) per distinct
    ``minimize`` value (one map-side-combined shuffle on the base
    table), then a running-max window ordered by ``minimize``. The
    single-partition window touches at most one row per distinct
    ``minimize`` value, never the base table; survivors broadcast back
    as a semi-join. No all-pairs dominance join at any size.
    """
    cand = df.groupBy(minimize).agg(F.max(maximize).alias(maximize))
    # the running max over the collapsed (one row per distinct minimize
    # value) frame runs bucketed instead of in a single-partition window
    # (guide §2.5; the distinct-value count is unbounded for continuous
    # attributes). minimize is the groupBy key, so the order is unique.
    from weaviate_spark.operators.running import RunningAgg, bucketed_running

    cand = register_cache(cand.cache())
    sky = (
        bucketed_running(
            cand, F.col(minimize), [F.col(minimize).asc()],
            [RunningAgg("_rm", F.col(maximize), "max", -1)],
        )
        .where(F.col("_rm").isNull() | (F.col("_rm") < F.col(maximize)))
        .drop("_rm")
    )
    return df.join(F.broadcast(sky), [minimize, maximize], "left_semi")


def scd2_intervals(
    df: DataFrame,
    key: str,
    ts: str,
    attr: str,
    tiebreak: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from an event stream:
    per ``key``, collapse consecutive rows with an unchanged ``attr``
    and emit one validity interval per change point —
    (key, attr, valid_from, valid_to, is_current) with half-open
    [valid_from, valid_to) intervals and valid_to NULL on the open row.

    One shuffle: both windows share partitionBy(key) + the same sort
    key, so Catalyst plans a single exchange + sort. The lag is taken
    over a struct so a NULL ``attr`` value is distinguishable from
    "first row of the key" (null-safe change detection).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    prev = F.lag(F.struct(F.col(attr).alias("v"))).over(w)
    changed = (
        df.select(key, ts, attr, tiebreak)
        .withColumn("_p", prev)
        .where(
            F.col("_p").isNull()
            | ~F.col("_p.v").eqNullSafe(F.col(attr))
        )
    )
    w2 = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    return (
        changed.withColumn("valid_to", F.lead(F.col(ts)).over(w2))
        .select(
            F.col(key),
            F.col(attr),
            F.col(ts).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def radius_pairs(
    df: DataFrame,
    key: str,
    lat: str,
    lon: str,
    radius_m: float,
) -> DataFrame:
    """All unordered pairs of rows within ``radius_m`` meters
    (haversine): (key_1, key_2, distance_m), key_1 < key_2.

    Grid-cell blocking: each point lands in one square cell sized so
    that any within-radius partner is in the 3×3 neighborhood; the left
    side explodes its 9 candidate cells and the pair join runs on the
    cell key — candidates are O(n · density), never the O(n²) cross
    join a naive distance self-join plans. The cell edge uses the
    worst-case longitude shrink at the corpus's max |lat| so the 3×3
    guarantee holds without per-row trig. Exact haversine verifies
    every candidate; each surviving pair is emitted exactly once
    (explode on the left only + key_1 < key_2).
    """
    from weaviate_spark.filters import haversine_meters

    pts = df.select(
        F.col(key).alias("_k"),
        F.col(lat).cast("double").alias("_lat"),
        F.col(lon).cast("double").alias("_lon"),
    )
    lat_deg = radius_m / 111_195.0  # meters per degree latitude
    max_lat = (
        pts.agg(F.max(F.abs(F.col("_lat"))).alias("m")).collect()[0]["m"]
    )
    import math

    shrink = max(math.cos(math.radians(min(abs(max_lat or 0.0) + lat_deg, 89.0))), 1e-3)
    lon_deg = lat_deg / shrink
    cells = register_cache(
        pts.withColumn("_ci", F.floor(F.col("_lat") / F.lit(lat_deg)))
        .withColumn("_cj", F.floor(F.col("_lon") / F.lit(lon_deg)))
        .cache()
    )
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        ]
    )
    left = cells.select(
        F.col("_k").alias("_k1"),
        F.col("_lat").alias("_lat1"),
        F.col("_lon").alias("_lon1"),
        F.explode(offsets).alias("_o"),
        "_ci",
        "_cj",
    ).select(
        "_k1",
        "_lat1",
        "_lon1",
        (F.col("_ci") + F.col("_o.di")).alias("_ci"),
        (F.col("_cj") + F.col("_o.dj")).alias("_cj"),
    )
    right = cells.select(
        F.col("_k").alias("_k2"),
        F.col("_lat").alias("_lat2"),
        F.col("_lon").alias("_lon2"),
        "_ci",
        "_cj",
    )
    d = haversine_meters(
        F.col("_lat1"), F.col("_lon1"), F.col("_lat2"), F.col("_lon2")
    )
    return (
        left.join(right, ["_ci", "_cj"])
        .where(F.col("_k1") < F.col("_k2"))
        .withColumn("_d", d)
        .where(F.col("_d") <= F.lit(float(radius_m)))
        .select(
            F.col("_k1").alias("key_1"),
            F.col("_k2").alias("key_2"),
            F.col("_d").alias("distance_m"),
        )
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """Batch gap-based sessionization: a new session starts whenever a
    user is idle longer than ``gap_minutes``. One row per session with
    start/end, duration, event count, and DECIMAL-exact value total.

    This is the batch mirror of the streaming session window
    (streaming/ingest.py sessionized_event_counts) — identical session
    boundaries, derived the classic way: lag the previous timestamp
    within (user ORDER BY ts, id), flag gaps, and running-sum the flags
    into a per-user session index. ONE shuffle on the user key serves
    both window passes and the final per-session aggregate (same
    partitioning, Catalyst reuses the exchange); nothing is quadratic
    in events-per-user, and sessions never span partitions because the
    user key is the partition key — the same property the reference's
    per-shard execution relies on for its grouped scans
    (adapters/repos/db/aggregator/grouped.go).

    All time arithmetic runs on integer epoch-microseconds (the
    corpus's timestamps are microsecond-grained); a float epoch would
    round differently across engines and drift session boundaries.
    """
    gap_us = int(gap_minutes) * 60 * 1_000_000
    w = Window.partitionBy("_u").orderBy("_t", "_i")
    rows = (
        events.select(
            F.col(user_col).alias("_u"),
            # NTZ->TZ cast is identity under the UTC session (session.py)
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
            F.col(id_col).alias("_i"),
            F.col(value_col).cast("decimal(18,2)").alias("_v"),
            F.col(ts_col).alias("_ts"),
        )
        .withColumn("_prev", F.lag("_t").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | ((F.col("_t") - F.col("_prev")) > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_sess",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        rows.groupBy(F.col("_u").alias("user_id"), F.col("_sess").alias("session_idx"))
        .agg(
            F.min("_ts").alias("session_start"),
            F.max("_ts").alias("session_end"),
            (
                F.round((F.max("_t") - F.min("_t")) / F.lit(1_000_000.0), 6)
                + F.lit(0.0)
            ).alias("duration_s"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("_v").cast("double").alias("total_value"),
        )
    )


def numeric_correlations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric columns — the
    profiling step after profile_columns: which fields move together
    (price vs quantity, discount vs tax) before a model ever sees them.

    One single-pass aggregate computes every pairwise co-moment
    (map-side partial agg; no per-pair rescan of a 100 TB table), then
    a stack() unpivot emits one row per unordered pair. All five sums
    per pair run in DECIMAL (the inputs are 2dp-exact money/quantity
    columns), so they are partition-order-independent and the closed
    form r = (n·Σxy − ΣxΣy) / √((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)) evaluates
    on bit-identical inputs in any engine — the same determinism
    argument as profile_columns, extended to cross-moments.
    """
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = [F.count(F.lit(1)).alias("_n")]
    sums: dict[str, object] = {}
    for c in cols:
        dec = F.col(c).cast("decimal(18,2)")
        aggs.append(F.sum(dec).cast("double").alias(f"_s_{c}"))
        aggs.append(F.sum(dec * dec).cast("double").alias(f"_q_{c}"))
    for a, b in pairs:
        da = F.col(a).cast("decimal(18,2)")
        db = F.col(b).cast("decimal(18,2)")
        aggs.append(F.sum(da * db).cast("double").alias(f"_p_{a}__{b}"))
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{a}', '{b}', _s_{a}, _q_{a}, _s_{b}, _q_{b}, _p_{a}__{b}"
        for a, b in pairs
    )
    rows = one.select(
        "_n",
        F.expr(
            f"stack({len(pairs)}, {stack}) AS (col_a, col_b, sx, qx, sy, qy, pxy)"
        ),
    )
    n = F.col("_n").cast("double")
    num = n * F.col("pxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("qx") - F.col("sx") * F.col("sx"))
        * (n * F.col("qy") - F.col("sy") * F.col("sy"))
    )
    return rows.select(
        "col_a",
        "col_b",
        F.col("_n").cast("long").alias("n"),
        (F.round(num / den, 6) + F.lit(0.0)).alias("pearson_r"),
    )


def ols_trend_forecast(
    df: DataFrame,
    group_col: str,
    date_col: str,
    value_col: str,
    horizon_days: int = 7,
) -> DataFrame:
    """Per-group ordinary-least-squares trend over a daily series, plus
    a point forecast ``horizon_days`` past each group's last day — the
    capacity-planning primitive (is this nation's order volume growing,
    and where will it be next week?).

    Two shuffles total at any scale: one groupBy on (group, day) builds
    the DECIMAL-exact daily series, one on group folds the five OLS
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) — x is the integer day
    offset from the group's own first day (via a min-window on the same
    partitioning, exchange reused), so the sums stay exact integers ×
    exact decimals and the closed-form slope/intercept divides
    bit-identical inputs in every engine. No per-group iteration, no
    driver-side fitting — OLS has a closed form, so a 100 TB series
    fits in the same two aggregates as a count.
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("_g"),
            F.to_date(F.col(date_col)).alias("_d"),
        )
        .agg(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_y"))
    )
    w = Window.partitionBy("_g")
    series = (
        daily.withColumn("_d0", F.min("_d").over(w))
        .withColumn("_x", F.datediff(F.col("_d"), F.col("_d0")).cast("long"))
    )
    fit = series.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("double").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("_sxx"),
        F.max("_x").alias("_xmax"),
        F.max("_d").alias("_dmax"),
    )
    n = F.col("n_days").cast("double")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    fit = fit.withColumn("_slope", slope)
    intercept = (F.col("_sy") - F.col("_slope") * F.col("_sx")) / n
    fit = fit.withColumn("_icept", intercept)
    xf = (F.col("_xmax") + F.lit(int(horizon_days))).cast("double")
    return fit.select(
        F.col("_g").alias(group_col),
        "n_days",
        (F.round("_slope", 6) + F.lit(0.0)).alias("slope"),
        (F.round("_icept", 6) + F.lit(0.0)).alias("intercept"),
        F.date_add(F.col("_dmax"), int(horizon_days)).alias("forecast_date"),
        (F.round(F.col("_icept") + F.col("_slope") * xf, 6) + F.lit(0.0)).alias(
            "forecast_value"
        ),
    )


def validate_expectations(
    df: DataFrame,
    rules: Sequence[tuple[str, str]],
) -> DataFrame:
    """Data-contract validation: each rule is (name, SQL predicate that
    every row is EXPECTED to satisfy); returns one row per rule with
    the violation count and fraction — the pre-ingest gate a pipeline
    runs before promoting a new drop (the Delta Live Tables
    "expectations" shape, model-free).

    Every rule folds into ONE full-table aggregate (sum of per-row
    0/1 indicators, map-side combined) — adding a rule adds a column,
    not a scan, so a 50-rule contract over 100 TB still costs exactly
    one pass. NULL predicate results count as violations (a rule that
    cannot be evaluated did not pass), matching SQL three-valued logic
    folded to the strict interpretation.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, pred in rules:
        ind = F.when(F.expr(pred), 0).otherwise(1)
        aggs.append(F.sum(ind).alias(f"_v_{name}"))
    one = df.agg(*aggs)
    stack = ", ".join(f"'{name}', _v_{name}" for name, _ in rules)
    rows = one.select(
        "_n", F.expr(f"stack({len(rules)}, {stack}) AS (rule, n_violations)")
    )
    return rows.select(
        "rule",
        F.col("_n").cast("long").alias("n_rows"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.round(F.col("n_violations") / F.col("_n"), 6) + F.lit(0.0)).alias(
            "violation_frac"
        ),
        (F.col("n_violations") == 0).alias("passed"),
    )


def categorical_mutual_information(
    df: DataFrame,
    pairs: Sequence[tuple[str, str]],
) -> DataFrame:
    """Mutual information (nats) between categorical column pairs, with
    marginal entropies and the normalized coefficient
    MI/√(H(x)·H(y)) — the dependence screen a feature-selection pass
    runs before training (which fields carry redundant signal?).

    Per pair: ONE groupBy on the joint key builds the contingency
    cells; marginals and the grand total come from window sums over
    that cells frame (a few dozen rows at any corpus size — the heavy
    lifting is the single counting shuffle, everything after is
    driver-trivial but stays distributed). 0·ln(0) terms vanish
    because absent cells simply aren't rows. Counts are exact
    integers, so both engines feed identical doubles into the log.
    """
    outs = []
    for x, y in pairs:
        # the cells frame feeds four legs (joint, two marginals, total)
        # — cache it or each leg re-runs the counting shuffle
        cells = register_cache(
            df.groupBy(F.col(x).alias("_x"), F.col(y).alias("_y"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .cache()
        )
        wx = Window.partitionBy("_x")
        wy = Window.partitionBy("_y")
        wall = Window.partitionBy()
        c = F.col("_c").cast("double")
        cx = F.sum("_c").over(wx).cast("double")
        cy = F.sum("_c").over(wy).cast("double")
        n = F.sum("_c").over(wall).cast("double")
        agg = cells.select(
            ((c / n) * F.log((c * n) / (cx * cy))).alias("_mi")
        ).agg(F.sum("_mi").alias("_misum"))
        total = cells.agg(F.sum("_c").alias("_n"))

        def _entropy(key: str, out: str):
            marg = cells.groupBy(key).agg(F.sum("_c").alias("_m"))
            p = F.col("_m").cast("double") / F.col("_n")
            return (
                marg.crossJoin(F.broadcast(total))
                .select((-p * F.log(p)).alias("_h"))
                .agg(F.sum("_h").alias(out))
            )

        row = (
            agg.crossJoin(_entropy("_x", "_hx"))
            .crossJoin(_entropy("_y", "_hy"))
            .select(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                (F.round("_misum", 6) + F.lit(0.0)).alias("mi_nats"),
                (F.round("_hx", 6) + F.lit(0.0)).alias("h_x"),
                (F.round("_hy", 6) + F.lit(0.0)).alias("h_y"),
                (
                    F.round(
                        F.col("_misum") / F.sqrt(F.col("_hx") * F.col("_hy")), 6
                    )
                    + F.lit(0.0)
                ).alias("nmi"),
            )
        )
        outs.append(row)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def ohlc_daily(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Daily OHLC bars per group: open/high/low/close, event count and
    DECIMAL-exact value total — the downsampling step that turns a raw
    event stream into an analytics-ready bar series.

    Open/close are the first/last value by (ts, id) within the
    (group, day) partition — the id tie-break makes the bar
    deterministic under equal timestamps in any engine. ONE shuffle on
    the (group, day) key serves both ordering windows and the final
    aggregate (same partitioning, exchange reused); high/low/totals
    are plain min/max/sum on the same pass.
    """
    w = Window.partitionBy("_g", "_d").orderBy("_t", "_i")
    wd = Window.partitionBy("_g", "_d").orderBy(
        F.col("_t").desc(), F.col("_i").desc()
    )
    rows = (
        events.select(
            F.col(group_col).alias("_g"),
            F.to_date(F.col(ts_col)).alias("_d"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
            F.col(id_col).alias("_i"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .withColumn("_ra", F.row_number().over(w))
        .withColumn("_rd", F.row_number().over(wd))
    )
    return (
        rows.groupBy(F.col("_g").alias(group_col), F.col("_d").alias("day"))
        .agg(
            F.max(F.when(F.col("_ra") == 1, F.col("_v"))).alias("open"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.max(F.when(F.col("_rd") == 1, F.col("_v"))).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("_v").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
    )


def mad_outlier_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_cut: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier profile via the MAD rule: a row is an
    outlier when 0.6745 * |x - median| / MAD > ``z_cut`` (Iglewicz &
    Hoaglin's modified z-score; 0.6745 rescales MAD to sigma under
    normality). Returns one row per group with the median, the MAD,
    outlier count, and outlier share.

    Scale shape: two shuffles on the group key (one per exact
    interpolated percentile pass) plus broadcast joins of the tiny
    per-group stat frames back onto the fact rows — no window over the
    full data, no sort of the whole table. Robust to the exact heavy
    tails that make mean/stddev fences useless on price-like columns.
    """
    rows = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).where(F.col("_v").isNotNull())

    # checkpoint the tiny per-group stat frames: each broadcast
    # reference replayed its full percentile pass over the fact rows
    # (4 corpus scans; now the two inherent percentile passes plus the
    # final flag/count pass — the deviation stream itself stays
    # streaming, corpus-sized frames are never pinned)
    med = register_checkpoint(rows.groupBy("_g").agg(
        F.percentile(F.col("_v"), F.lit(0.5)).alias("_med")
    ))
    dev = rows.join(F.broadcast(med), "_g").withColumn(
        "_dev", F.abs(F.col("_v") - F.col("_med"))
    )
    mad = register_checkpoint(dev.groupBy("_g").agg(
        F.percentile(F.col("_dev"), F.lit(0.5)).alias("_mad")
    ))
    flagged = dev.join(F.broadcast(mad), "_g").withColumn(
        "_out",
        F.when(
            (F.col("_mad") > 0)
            & (F.lit(0.6745) * F.col("_dev") / F.col("_mad") > F.lit(z_cut)),
            1,
        ).otherwise(0),
    )
    return (
        flagged.groupBy(F.col("_g").alias(group_col))
        .agg(
            F.round(F.max("_med") + F.lit(0.0), 6).alias("median_value"),
            F.round(F.max("_mad") + F.lit(0.0), 6).alias("mad"),
            F.sum("_out").cast("long").alias("n_outliers"),
            F.round(
                F.sum("_out") / F.count(F.lit(1)) + F.lit(0.0), 6
            ).alias("outlier_share"),
        )
    )


# Poisson(1) inverse-CDF thresholds (cumulative probabilities for
# k = 0..6); weights above the table cap at 7. Shared verbatim with the
# DuckDB oracle so the bootstrap replicates match bit-for-bit.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    replicates: int = 40,
    alpha: float = 0.05,
    salt: str = "boot",
) -> DataFrame:
    """Per-group bootstrap confidence interval for the mean via the
    Poisson bootstrap: each row enters replicate r with weight
    w = PoissonInv(1, unit_hash(id ':' r)) — the streaming-friendly
    resampling scheme (no global N needed, rows independent), exactly
    the construction large-scale A/B systems use. Replicate means are
    sum(w*v)/sum(w); the CI is the interpolated (alpha/2, 1-alpha/2)
    quantile pair of the R means.

    Deterministic (md5-derived uniforms, same table -> same CI) and
    one-pass distributed: rows explode xR, one shuffle to (group,
    replicate) partial means, then a tiny R-row-per-group percentile.
    At 100 TB the xR blowup stays map-side (projected columns only) and
    the first combine collapses it to |groups| x R rows.
    """
    from weaviate_spark.operators.sampling import _unit_hash

    u = _unit_hash(
        F.concat(F.col("_i").cast("string"), F.lit(":"), F.col("_r").cast("string")),
        salt,
    )
    w = F.lit(7)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    rows = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(id_col).alias("_i"),
            # DECIMAL-exact weighted sums: the replicate mean must be
            # independent of partial-aggregation order (and match the
            # DECIMAL oracle bit-for-bit), so the float value is fixed
            # to 6dp decimal BEFORE the sum, not after
            F.col(value_col).cast("decimal(18,6)").alias("_v"),
        )
        .where(F.col("_v").isNotNull())
        .withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))))
        .withColumn("_w", w.cast("long"))
    )
    reps = rows.groupBy("_g", "_r").agg(
        (
            F.sum(F.col("_v") * F.col("_w")).cast("double")
            / F.sum("_w").cast("double")
        ).alias("_m")
    )
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    return (
        reps.groupBy(F.col("_g").alias(group_col))
        .agg(
            F.round(F.percentile(F.col("_m"), F.lit(0.5)) + F.lit(0.0), 6).alias("boot_median"),
            F.round(F.percentile(F.col("_m"), F.lit(lo)) + F.lit(0.0), 6).alias("ci_lo"),
            F.round(F.percentile(F.col("_m"), F.lit(hi)) + F.lit(0.0), 6).alias("ci_hi"),
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
        )
    )


def cusum_changepoints(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group CUSUM changepoint scan over the daily-mean series:
    S+_t = max(0, S+_{t-1} + (x_t - mu)), S-_t symmetric, computed
    closed-form as (cumsum - running-min) / (running-max - cumsum) —
    two ordered windows, no recursion, no driver loop. The reported
    changepoint day is the argmax of S+ (the standard CUSUM location
    estimate); max_s_pos / max_s_neg are the drift magnitudes.

    Determinism: daily means and the per-group mu come from
    DECIMAL-exact sums (no float accumulation-order drift); the window
    prefix sums run in day order, which is a total order per group.
    One shuffle to (group, day), one to group for the windows.
    """
    day = F.col(ts_col).cast("timestamp").cast("date")
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            day.alias("_day"),
            F.col(value_col).cast("decimal(18,6)").alias("_v"),
        )
        .where(F.col("_v").isNotNull())
        .groupBy("_g", "_day")
        .agg(
            (F.sum("_v").cast("double") / F.count(F.lit(1))).alias("_dm")
        )
        # fix the daily mean to 6dp decimal so the per-group mu below is
        # an exact sum too (and matches the oracle bit-for-bit)
        .withColumn("_dm6", F.col("_dm").cast("decimal(18,6)"))
    )
    mu = daily.groupBy("_g").agg(
        (F.sum("_dm6").cast("double") / F.count(F.lit(1))).alias("_mu")
    )
    w = (
        Window.partitionBy("_g")
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        daily.join(F.broadcast(mu), "_g")
        .withColumn("_d", F.col("_dm6").cast("double") - F.col("_mu"))
        .withColumn("_cum", F.sum("_d").over(w))
        .withColumn(
            "_spos",
            F.col("_cum") - F.least(F.lit(0.0), F.min("_cum").over(w)),
        )
        .withColumn(
            "_sneg",
            F.greatest(F.lit(0.0), F.max("_cum").over(w)) - F.col("_cum"),
        )
    )
    rk = Window.partitionBy("_g").orderBy(
        F.round(F.col("_spos"), 6).desc(), F.col("_day").asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(rk))
        .groupBy(F.col("_g").alias(group_col))
        .agg(
            F.max(F.when(F.col("_r") == 1, F.col("_day"))).alias("changepoint_day"),
            F.round(F.max("_spos") + F.lit(0.0), 6).alias("max_s_pos"),
            F.round(F.max("_sneg") + F.lit(0.0), 6).alias("max_s_neg"),
            F.round(F.max("_mu") + F.lit(0.0), 6).alias("mu"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col,
) -> DataFrame:
    """Exact ROC-AUC of a numeric score against a boolean label via the
    Mann-Whitney rank identity: AUC = (sum of positive average ranks -
    n_pos(n_pos+1)/2) / (n_pos * n_neg), ties carried as average ranks.
    All rank arithmetic stays in exact integers (2*rank_min + tie_count
    - 1 summed as BIGINT, divided by 2 only in the final expression) so
    the result is partition-invariant to the last bit — no sort of
    probabilities into float accumulators.

    One row out. Plan: one global rank window (a single total sort of
    the score column — the unavoidable cost of exact AUC; sample or
    bucket upstream for the approximate variant) + a scalar aggregate.
    """
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    rows = df.select(
        F.col(score_col).cast("double").alias("_s"),
        lab.cast("boolean").alias("_y"),
    ).where(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    # collapse to one row per DISTINCT score first (a map-side-combined
    # aggregate), then compute rank_min via a bucketed prefix count —
    # every tie-group member shares _r2 = 2*rank_min + ties - 1, so the
    # per-group contribution to the positive rank sum is
    # n_pos(s) * (2*rank_min(s) + n(s) - 1), exact integers throughout.
    # This removes BOTH the single-partition rank window over every
    # scored row (guide §2.5) and the row-level tie window.
    from weaviate_spark.operators.running import RunningAgg, bucketed_running

    per_s = register_cache(
        rows.groupBy("_s").agg(
            F.count(F.lit(1)).cast("long").alias("_nt"),
            F.sum(F.when(F.col("_y"), 1).otherwise(0)).cast("long").alias("_npos"),
        ).cache()
    )
    pre = bucketed_running(
        per_s, F.col("_s"), [F.col("_s").asc()],
        [RunningAgg("_pn", F.col("_nt"), "sum", -1)],
    )
    rank_min = F.coalesce(F.col("_pn"), F.lit(0)) + F.lit(1)
    agg = pre.agg(
        F.sum(
            F.col("_npos") * (F.lit(2) * rank_min + F.col("_nt") - F.lit(1))
        ).cast("long").alias("_sr2"),
        F.sum(F.col("_npos")).cast("long").alias("_np"),
        F.sum(F.col("_nt") - F.col("_npos")).cast("long").alias("_nn"),
    )
    auc = (
        (F.col("_sr2").cast("double") / 2.0)
        - (F.col("_np").cast("double") * (F.col("_np") + 1).cast("double") / 2.0)
    ) / (F.col("_np").cast("double") * F.col("_nn").cast("double"))
    return agg.select(
        F.col("_np").alias("n_pos"),
        F.col("_nn").alias("n_neg"),
        F.round(auc + F.lit(0.0), 6).alias("auc"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Exact Gini concentration index over one value per entity:
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) with x sorted
    ascending (rank ties broken by ``tiebreak_col`` — any permutation
    inside a tie group yields the same sum, so the index itself is
    tie-stable). Values are carried as DECIMAL(28,4), the two moment
    sums stay exact integers/decimals, and only the final ratio touches
    floating point — partition-invariant to the last bit.

    Intended for entity-level aggregates (revenue per customer, tokens
    per document): the global rank window sorts |entities| rows, not
    the fact table. One row out: (n, total, gini).
    """
    rows = register_cache(
        df.select(
            F.col(value_col).cast("decimal(28,4)").alias("_x"),
            F.col(tiebreak_col).alias("_tb"),
        ).where(F.col("_x").isNotNull()).cache()
    )
    # global rank via percentile-bucketed row_number — same values as
    # Window.orderBy(...) but never a single-partition sort of the
    # entity frame (guide §2.5; rank ties impossible: (_x, _tb) is a
    # total order and equal _x rows always share a bucket)
    from weaviate_spark.operators.running import bucketed_running

    ranked = bucketed_running(
        rows, F.col("_x"), [F.col("_x").asc(), F.col("_tb").asc()],
        [], rank_col="_i",
    ).select("_x", F.col("_i").cast("long").alias("_i"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").alias("_s0"),
        F.sum(F.col("_x") * F.col("_i")).alias("_s1"),
    )
    g = (
        F.lit(2.0) * F.col("_s1").cast("double")
        - (F.col("_n") + 1).cast("double") * F.col("_s0").cast("double")
    ) / (F.col("_n").cast("double") * F.col("_s0").cast("double"))
    return agg.select(
        F.col("_n").alias("n_entities"),
        F.col("_s0").cast("double").alias("total_value"),
        F.round(g + F.lit(0.0), 6).alias("gini"),
    )


def quantile_bins(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: Sequence[str],
    n_bins: int = 10,
) -> DataFrame:
    """Equal-frequency binning (the feature-engineering primitive):
    ntile(n) over the value with a deterministic tie-break, one output
    row per bin with its [lo, hi] value range and population. The bin
    edges double as a quantile sketch of the column.

    ntile's count arithmetic is pure integers, so the binning is
    engine-portable; the single global sort is over the projected
    (value, tiebreak) columns only.
    """
    order = [F.col("_v").asc()] + [F.col(c).asc() for c in tiebreak_cols]
    rows = register_cache(
        df.select(
            F.col(value_col).cast("double").alias("_v"),
            *[F.col(c) for c in tiebreak_cols],
        ).where(F.col("_v").isNotNull()).cache()
    )
    # ntile without the single-partition window: compute the global rank
    # with the percentile-bucketed prefix machinery, then derive the
    # tile with ntile's integer arithmetic (guide §2.5; the frame is
    # fact-table-sized)
    from weaviate_spark.operators.running import bucketed_running, ntile_from_rank

    ranked = bucketed_running(
        rows, F.col("_v"), order, [], rank_col="_qb_rn", total_col="_qb_n",
    )
    binned = ranked.withColumn(
        "_bin", ntile_from_rank(F.col("_qb_rn"), F.col("_qb_n"), int(n_bins))
    )
    return (
        binned.groupBy(F.col("_bin").cast("int").alias("bin"))
        .agg(
            F.round(F.min("_v") + F.lit(0.0), 6).alias("lo"),
            F.round(F.max("_v") + F.lit(0.0), 6).alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def temporal_neighbor_counts(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    window_seconds: int,
) -> DataFrame:
    """Bounded temporal neighborhood join, aggregated to a histogram:
    for every left event, count right events within +/- window_seconds,
    then return (neighbor_count, n_left_events) — e.g. "how many errors
    had k purchases within 5 minutes". Left events with no neighbor in
    range are kept (count 0).

    Scale shape: NOT a range join (O(|L|*|R|) per key and the classic
    100 TB killer). Each right event lands in one window-sized time
    bucket and each left event probes its own bucket plus both
    neighbors — any pair within the window differs by at most one
    bucket — so the join is a plain 3-way equi-join on bucket id whose
    fan-in is bounded by local event density, then an exact |dt| filter.
    Timestamps compare in integer microseconds (no float epochs).
    """
    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    win_us = int(window_seconds) * 1_000_000
    lt = left.select(
        F.monotonically_increasing_id().alias("_lid"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_lt"),
    )
    rb = F.expr(f"_rt div {win_us}")
    rt = right.select(
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_rt")
    ).withColumn("_b", F.explode(F.array(rb - 1, rb, rb + 1)))
    probes = lt.withColumn("_b", F.expr(f"_lt div {win_us}"))
    hits = (
        probes.join(rt, "_b", "left")
        .withColumn(
            "_hit",
            F.when(
                F.abs(F.col("_lt") - F.col("_rt")) <= win_us, 1
            ).otherwise(0),
        )
        .groupBy("_lid")
        .agg(F.sum("_hit").cast("long").alias("neighbor_count"))
    )
    return hits.groupBy("neighbor_count").agg(
        F.count(F.lit(1)).cast("long").alias("n_left_events")
    )
def kaplan_meier_survival(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    event_type: str,
) -> DataFrame:
    """Kaplan-Meier survival estimate of time-to-first-``event_type``:
    each subject enters at their first event of any kind, experiences
    the event at their first ``event_type`` strictly after entry, or is
    right-censored at the corpus horizon (global max timestamp). One
    row per event day t: (t_days, n_at_risk, n_events, survival) with
    S(t) = prod_{t_i <= t} (1 - d_i / n_i) — the standard product-limit
    estimator, computed as exp of an ordered running sum of ln terms
    (each factor is an exact small-integer ratio; the ordered window
    makes the accumulation deterministic).

    Scale shape: two shuffles on the subject key (entry time, first
    event time), one tiny shuffle to per-day counts, windows over the
    day-indexed table (|distinct days| rows, dimension-sized at any
    corpus scale).
    """
    base = df.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("timestamp").alias("_t"),
        F.col(type_col).alias("_ty"),
    ).where(F.col("_u").isNotNull() & F.col("_t").isNotNull())

    # one subject-keyed pass yields BOTH the entry times and (via the
    # per-user max) the corpus horizon: max over users of the user max
    # IS the global max, so the separate horizon scan folds into the
    # entry aggregate. Checkpointing entry stops the first-event join
    # and the subjects join from re-executing the corpus groupBy (was
    # 4 corpus scans; now the entry pass + the type-filtered ev pass).
    entry = register_checkpoint(
        base.groupBy("_u").agg(
            F.min("_t").alias("_t0"), F.max("_t").alias("_tm")))
    horizon = entry.agg(F.max("_tm").alias("_h"))
    ev = (
        base.where(F.col("_ty") == event_type)
        .join(entry.select("_u", "_t0"), "_u")
        .where(F.col("_t") > F.col("_t0"))
        .groupBy("_u")
        .agg(F.min("_t").alias("_te"))
    )
    subjects = (
        entry.select("_u", "_t0").join(ev, "_u", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            "_u",
            F.when(F.col("_te").isNotNull(), 1).otherwise(0).alias("_obs"),
            F.datediff(
                F.coalesce(F.col("_te"), F.col("_h")), F.col("_t0")
            ).cast("long").alias("_dur"),
        )
    )
    per_day = subjects.groupBy("_dur").agg(
        F.sum("_obs").cast("long").alias("_d"),
        F.count(F.lit(1)).cast("long").alias("_leave"),
    )
    w_after = (
        Window.orderBy("_dur").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_upto = Window.orderBy("_dur").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    km = (
        per_day.withColumn("_n", F.sum("_leave").over(w_after))
        # a terminal day where every at-risk subject has the event
        # (n == d) sends the product to exactly 0 — flag it instead of
        # feeding ln(0) into the sum (Spark's log(0) is NULL, not -inf)
        .withColumn(
            "_lnterm",
            F.when(
                (F.col("_d") > 0) & (F.col("_n") > F.col("_d")),
                F.log(
                    (F.col("_n") - F.col("_d")).cast("double")
                    / F.col("_n").cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "_hit0",
            F.max(
                F.when(
                    (F.col("_d") > 0) & (F.col("_d") >= F.col("_n")), 1
                ).otherwise(0)
            ).over(w_upto),
        )
        .withColumn("_lnsum", F.sum("_lnterm").over(w_upto))
        .where(F.col("_d") > 0)
    )
    return km.select(
        F.col("_dur").alias("t_days"),
        F.col("_n").alias("n_at_risk"),
        F.col("_d").alias("n_events"),
        F.when(F.col("_hit0") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("_lnsum")) + F.lit(0.0), 6))
        .alias("survival"),
    )


def calibration_bins(
    df: DataFrame,
    score_col,
    label_col,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a [0,1) score against a boolean
    label: fixed-width bins, per bin the DECIMAL-exact mean predicted
    probability vs the exact empirical positive rate (the calibration
    curve + ECE ingredients). Pure one-shuffle groupBy."""
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    rows = df.select(
        F.col(score_col).cast("decimal(18,6)").alias("_p"),
        lab.cast("boolean").alias("_y"),
    ).where(
        F.col("_p").isNotNull() & (F.col("_p") >= 0) & (F.col("_p") < 1)
        & F.col("_y").isNotNull()
    )
    binned = rows.withColumn(
        "_bin", F.floor(F.col("_p").cast("double") * n_bins).cast("int")
    )
    return (
        binned.groupBy(F.col("_bin").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum("_p").cast("double") / F.count(F.lit(1)) + F.lit(0.0), 6
            ).alias("mean_score"),
            F.round(
                F.sum(F.when(F.col("_y"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
                + F.lit(0.0),
                6,
            ).alias("pos_rate"),
        )
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference window (A) and a
    comparison window (B): bin edges are A's exact interpolated inner
    deciles (rounded 6dp so both engines agree on the boundary set),
    both populations are counted per bin, and each bin contributes
    (pb - pa) * ln(pb / pa). One row per bin plus exact counts — sum
    psi_term for the headline index.

    Scale shape: edges are one percentile aggregate over A (k-1
    doubles, broadcast); binning is a map-side array scan; counts are
    one shuffle per side on a k-valued key.
    """
    qs = [i / n_bins for i in range(1, n_bins)]
    a = df_a.select(F.col(value_col).cast("double").alias("_v")).where(
        F.col("_v").isNotNull()
    )
    b = df_b.select(F.col(value_col).cast("double").alias("_v")).where(
        F.col("_v").isNotNull()
    )

    # the decile aggregate is a full pass over A; checkpoint its 1-row
    # result so each side's binning broadcast doesn't re-run it. The
    # side totals are the SUM of the per-bin counts (every non-null row
    # lands in exactly one bin), so they read the k-row checkpointed
    # count frames instead of two extra corpus count() passes — A and B
    # are each scanned once (was 4+ scans).
    edges = register_checkpoint(a.agg(
        F.array(
            *[F.round(F.percentile(F.col("_v"), F.lit(q)), 6) for q in qs]
        ).alias("_edges")
    ))

    def binned(side: DataFrame) -> DataFrame:
        return (
            side.crossJoin(F.broadcast(edges))
            .select(
                F.size(
                    F.filter("_edges", lambda e: F.col("_v") > e)
                ).cast("int").alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
    ca = register_checkpoint(binned(a)).withColumnRenamed("n", "n_a")
    cb = register_checkpoint(binned(b)).withColumnRenamed("n", "n_b")
    na = sum(r["n_a"] for r in ca.collect())
    nb = sum(r["n_b"] for r in cb.collect())
    if na == 0 or nb == 0:
        # an empty side would otherwise bake a 0.0 literal divisor into
        # the plan and emit NULL psi_terms — make the degenerate case
        # explicit instead of silent (ADVICE r11)
        raise ValueError(
            f"psi_drift requires non-empty sides (n_a={na}, n_b={nb})")
    joined = ca.join(cb, "bin", "full").select(
        "bin",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    pa = F.col("n_a").cast("double") / F.lit(float(na))
    pb = F.col("n_b").cast("double") / F.lit(float(nb))
    return joined.select(
        "bin",
        "n_a",
        "n_b",
        F.round(pa + F.lit(0.0), 6).alias("p_a"),
        F.round(pb + F.lit(0.0), 6).alias("p_b"),
        F.round((pb - pa) * F.log(pb / pa) + F.lit(0.0), 6).alias("psi_term"),
    )
def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    trim_frac: float = 0.05,
) -> DataFrame:
    """Per-group trimmed (truncated) mean: drop the k lowest and k
    highest rows by (value, tiebreak) rank with k = floor(trim_frac*n),
    then average the survivors with DECIMAL-exact sums — the
    outlier-robust location estimate feature pipelines use on price-like
    columns. Rank-based trimming (not percentile-threshold) keeps the
    kept-set an exact integer count, so the result is engine- and
    partition-exact.

    Scale shape: the per-group ranks come from ``bucketed_running``
    with ``group_cols`` (operators/running.py) —
    ``Window.partitionBy(group)`` would sort the WHOLE fact table on one
    task per group (3 return flags = 3 tasks at any scale); the bucketed
    form ranks per (group, value-bucket) behind one hash exchange and
    adds bounded per-group bucket offsets. A NULL group is its own
    group. The order (value, tiebreak) is total, so the descending rank
    is ``n - rank + 1`` — the second window the old shape ran is
    derived, not computed. The mean is a second pass over the
    survivors.
    """
    if not 0.0 <= trim_frac < 0.5:
        raise ValueError("trim_frac must be in [0, 0.5)")
    from weaviate_spark.operators.running import bucketed_running

    # the bucketed window reads its input three times (sketch, rows,
    # bucket counts)
    rows = register_cache(
        df.select(
            F.col(group_col).alias("_g"),
            F.col(value_col).cast("decimal(18,2)").alias("_v"),
            F.col(tiebreak_col).alias("_tb"),
        )
        .where(F.col("_v").isNotNull())
        .cache()
    )
    ranked = bucketed_running(
        rows,
        F.col("_v"),
        [F.col("_v").asc(), F.col("_tb").asc()],
        [],
        rank_col="_ra",
        total_col="_n",
        group_cols=["_g"],
    ).withColumn(
        "_k", F.floor(F.col("_n") * F.lit(float(trim_frac))).cast("long")
    )
    kept = ranked.where(
        (F.col("_ra") > F.col("_k"))
        & (F.col("_n") - F.col("_ra") + 1 > F.col("_k"))
    )
    return kept.groupBy(F.col("_g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("_k").cast("long").alias("n_trimmed_each_side"),
        F.round(
            F.sum("_v").cast("double") / F.count(F.lit(1)) + F.lit(0.0), 6
        ).alias("trimmed_mean"),
    )


def chisq_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence for two categorical
    columns, plus the contingency entropy terms: one row out with the
    statistic, degrees of freedom, and Cramer's V effect size. Observed
    and marginal counts are exact integers; expected counts and the
    statistic are assembled from them in one final double expression.

    Plan: one shuffle for the contingency cells, two tiny marginal
    aggregates joined back broadcast — the cell table is
    |A| x |B| rows (dimension-sized).
    """
    rows = df.select(
        F.col(col_a).cast("string").alias("_a"),
        F.col(col_b).cast("string").alias("_b"),
    ).where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    cells = register_cache(
        rows.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_o")).cache()
    )
    ma = cells.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    mb = cells.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    n = cells.agg(F.sum("_o").alias("_n"))
    joined = (
        cells.join(F.broadcast(ma), "_a")
        .join(F.broadcast(mb), "_b")
        .crossJoin(F.broadcast(n))
    )
    # chi2 = sum over cells of (o - e)^2 / e with e = ra*cb/n; summed as
    # sum(o^2 * n / (ra*cb)) - n, which needs only ONE float op per cell
    term = (
        F.col("_o").cast("double") * F.col("_o").cast("double")
        * F.col("_n").cast("double")
        / (F.col("_ra").cast("double") * F.col("_cb").cast("double"))
    )
    stat = joined.agg(
        F.sum(term).alias("_s"),
        F.max("_n").cast("long").alias("n_rows"),
        F.countDistinct("_a").cast("long").alias("_ka"),
        F.countDistinct("_b").cast("long").alias("_kb"),
    )
    chi2 = F.col("_s") - F.col("n_rows").cast("double")
    dof = (F.col("_ka") - 1) * (F.col("_kb") - 1)
    minkm1 = F.least(F.col("_ka"), F.col("_kb")) - 1
    return stat.select(
        "n_rows",
        dof.cast("long").alias("dof"),
        F.round(chi2 + F.lit(0.0), 6).alias("chi2"),
        F.round(
            F.sqrt(chi2 / (F.col("n_rows") * minkm1).cast("double"))
            + F.lit(0.0),
            6,
        ).alias("cramers_v"),
    )


def rolling_daily_features(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Per-group rolling features over the daily-mean series: centered
    nothing, trailing ``window_days``-row mean and population stddev
    plus the day count actually in the window (ramp-up rows report
    their true support). Daily means come from DECIMAL-exact sums; the
    rolling moments are assembled from exact 6dp-decimal daily means so
    the sliding sums are order-independent.

    One shuffle to (group, day), one group-key window pass.
    """
    day = F.col(ts_col).cast("timestamp").cast("date")
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            day.alias("_day"),
            F.col(value_col).cast("decimal(18,6)").alias("_v"),
        )
        .where(F.col("_v").isNotNull())
        .groupBy("_g", "_day")
        .agg(
            (F.sum("_v").cast("double") / F.count(F.lit(1)))
            .cast("decimal(18,6)")
            .alias("_dm")
        )
    )
    w = (
        Window.partitionBy("_g")
        .orderBy("_day")
        .rowsBetween(-(window_days - 1), Window.currentRow)
    )
    # decimal sliding sums: exact regardless of the engine's
    # add/subtract evaluation order inside the frame
    rolled = (
        daily.withColumn("_cnt", F.count(F.lit(1)).over(w))
        .withColumn("_s1", F.sum("_dm").over(w))
        .withColumn("_s2", F.sum(F.col("_dm") * F.col("_dm")).over(w))
    )
    mean = F.col("_s1").cast("double") / F.col("_cnt")
    var = (
        F.col("_s2").cast("double") / F.col("_cnt") - mean * mean
    )
    return rolled.select(
        F.col("_g").alias(group_col),
        F.col("_day").alias("day"),
        F.col("_dm").cast("double").alias("daily_mean"),
        F.col("_cnt").cast("long").alias("window_support"),
        F.round(mean + F.lit(0.0), 6).alias("rolling_mean"),
        F.round(
            F.sqrt(F.greatest(var, F.lit(0.0))) + F.lit(0.0), 6
        ).alias("rolling_std"),
    )


def benford_first_digit(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """First-significant-digit distribution of a positive numeric
    column vs Benford's law: per digit 1-9 the observed count, observed
    share, Benford expectation log10(1 + 1/d), and the chi-square
    contribution — the classic fraud / synthetic-data smell test.

    The digit is extracted from the value's fixed-scale DECIMAL string
    (first nonzero character) — pure integer/string work, immune to the
    log10-at-a-power-of-10 ulp flip the arithmetic extraction risks; one
    9-key shuffle aggregates.
    """
    v = F.col(value_col).cast("decimal(18,2)")
    rows = df.select(v.alias("_v")).where(v.isNotNull() & (v > 0))
    digit = F.regexp_extract(
        F.col("_v").cast("string"), "[1-9]", 0
    ).cast("int")
    counted = (
        rows.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = counted.agg(F.sum("n").alias("_t"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    obs = F.col("n").cast("double") / F.col("_t").cast("double")
    return counted.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(obs + F.lit(0.0), 6).alias("observed_share"),
        F.round(expected + F.lit(0.0), 6).alias("benford_share"),
        F.round(
            (obs - expected) * (obs - expected) / expected
            * F.col("_t").cast("double")
            + F.lit(0.0),
            6,
        ).alias("chi2_term"),
    )


def dow_seasonality(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Day-of-week seasonality profile per group: event count, the
    DECIMAL-exact mean value per (group, ISO weekday), and the seasonal
    index (weekday mean / group mean — 1.0 means flat). Two group-key
    aggregates, group totals broadcast back; ISO weekday (Mon=1) so the
    bucketing is calendar-standard and engine-portable."""
    rows = df.select(
        F.col(group_col).alias("_g"),
        F.expr(
            f"extract(DAYOFWEEK_ISO FROM CAST(CAST({ts_col} AS TIMESTAMP) AS DATE))"
        ).cast("int").alias("_dow"),
        F.col(value_col).cast("decimal(18,6)").alias("_v"),
    ).where(F.col("_v").isNotNull())
    per_dow = rows.groupBy("_g", "_dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("_v").alias("_s"),
    )
    per_g = rows.groupBy("_g").agg(
        (F.sum("_v").cast("double") / F.count(F.lit(1))).alias("_gm")
    )
    dow_mean = F.col("_s").cast("double") / F.col("n_events")
    return per_dow.join(F.broadcast(per_g), "_g").select(
        F.col("_g").alias(group_col),
        F.col("_dow").alias("iso_dow"),
        "n_events",
        F.round(dow_mean + F.lit(0.0), 6).alias("dow_mean"),
        F.round(dow_mean / F.col("_gm") + F.lit(0.0), 6).alias("seasonal_index"),
    )


def referential_integrity(
    checks: Sequence[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key audit: for each (name, child, fk, parent, pk) check,
    count child rows and child rows whose key has no parent (orphans) —
    the first query a data platform runs after any ingest. Each check is
    a left-anti-shaped aggregate: one join per check, parent side
    deduplicated to keys only (broadcast when it fits), never a row-level
    materialization of the orphans themselves."""
    outs = []
    for name, child, fk, parent, pk in checks:
        keys = parent.select(F.col(pk).alias("_k")).distinct()
        c = child.select(F.col(fk).alias("_k"))
        joined = c.join(keys.withColumn("_hit", F.lit(1)), "_k", "left")
        outs.append(
            joined.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col("_hit").isNull(), 1).otherwise(0)
                ).cast("long").alias("n_orphans"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def top_event_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    path_len: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """Most frequent length-``path_len`` event-type paths across user
    timelines (the user-journey mining primitive): per user, order
    events by (ts, id) and slide a lead() window; count each path
    corpus-wide and keep the top-k (count desc, path asc — fully
    deterministic). One user-key shuffle for the window, one path-key
    count, a top-k sort over the distinct-path table."""
    w = Window.partitionBy("_u").orderBy(F.col("_t").asc(), F.col("_i").asc())
    rows = df.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("timestamp").alias("_t"),
        F.col(id_col).alias("_i"),
        F.col(type_col).alias("_e0"),
    )
    for j in range(1, path_len):
        rows = rows.withColumn(f"_e{j}", F.lead("_e0", j).over(w))
    path = F.concat_ws(">", *[F.col(f"_e{j}") for j in range(path_len)])
    complete = rows.where(
        F.col(f"_e{path_len - 1}").isNotNull()
    ).select(path.alias("path"))
    return (
        complete.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(top_k)
    )


def two_proportion_ztest(
    df_a: DataFrame,
    df_b: DataFrame,
    success_col,
) -> DataFrame:
    """Two-proportion z-test between two cohorts (the A/B-test
    primitive): exact success/total counts per side, pooled-variance
    z = (pa - pb) / sqrt(p(1-p)(1/na + 1/nb)). Counts are exact BIGINTs;
    the statistic is one final double expression — partition-invariant.
    One row out: (n_a, x_a, n_b, x_b, p_a, p_b, z_score)."""
    def side(d: DataFrame, tag: str) -> DataFrame:
        s = success_col if not isinstance(success_col, str) else F.col(success_col)
        return d.agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(s.cast("boolean"), 1).otherwise(0))
            .cast("long")
            .alias(f"x_{tag}"),
        )
    j = side(df_a, "a").crossJoin(side(df_b, "b"))
    pa = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (pa - pb) / F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return j.select(
        "n_a", "x_a", "n_b", "x_b",
        F.round(pa + F.lit(0.0), 6).alias("p_a"),
        F.round(pb + F.lit(0.0), 6).alias("p_b"),
        F.round(z + F.lit(0.0), 6).alias("z_score"),
    )


def lag_correlation(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    series_a: str,
    series_b: str,
    max_lag: int = 7,
) -> DataFrame:
    """Lead-lag cross-correlation between two groups' daily-mean series:
    for each lag in [-max_lag, max_lag], Pearson r between a(day) and
    b(day + lag) over the days where both exist. Daily means are
    6dp-DECIMAL-exact; r is assembled from exact decimal moment sums
    (the same no-float-accumulation trick as degree assortativity), so
    the whole curve is partition-invariant. The "does an error spike
    precede a purchase dip" diagnostic.

    Plan: one (group, day) aggregate, a lag explode on the (tiny) daily
    table, one day-key join, one lag-key moment aggregate.
    """
    day = F.col(ts_col).cast("timestamp").cast("date")
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            day.alias("_day"),
            F.col(value_col).cast("decimal(18,6)").alias("_v"),
        )
        .where(F.col("_v").isNotNull())
        .groupBy("_g", "_day")
        .agg(
            (F.sum("_v").cast("double") / F.count(F.lit(1)))
            .cast("decimal(18,6)")
            .alias("_dm")
        )
    )
    a = daily.where(F.col("_g") == series_a).select(
        F.col("_day").alias("_da"), F.col("_dm").alias("_x")
    )
    b = daily.where(F.col("_g") == series_b).select(
        F.col("_day").alias("_db"), F.col("_dm").alias("_y")
    )
    lagged = a.withColumn(
        "_lag", F.explode(F.sequence(F.lit(-max_lag), F.lit(max_lag)))
    ).withColumn("_db", F.date_add(F.col("_da"), F.col("_lag")))
    joined = lagged.join(b, "_db")
    mom = joined.groupBy("_lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col("n_days").cast("decimal(38,0)")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return mom.select(
        F.col("_lag").cast("int").alias("lag_days"),
        "n_days",
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)) + F.lit(0.0), 6).alias("corr"),
    )


def order_total_reconciliation(
    orders: DataFrame,
    lineitem: DataFrame,
    tolerance: float = 0.01,
) -> DataFrame:
    """Financial reconciliation: recompute each order's total from its
    line items (extendedprice * (1 + tax) * (1 - discount), all DECIMAL
    — exact to the cent) and compare against the order header. One row
    per order status: order count, mismatch count beyond ``tolerance``,
    and the maximum absolute discrepancy. The audit query every billing
    pipeline runs; entirely DECIMAL so zero float drift.
    """
    # stepwise casts keep every intermediate inside DECIMAL(18,x) so
    # neither engine hits its precision cap (Spark rescales with
    # rounding past precision 38; 2dp x 2dp products are exact at 4dp)
    with_tax = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) + F.col("l_tax").cast("decimal(18,2)"))
    ).cast("decimal(18,4)")
    li = lineitem.select(
        "l_orderkey",
        (with_tax * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(18,6)")
        .alias("_line"),
    )
    computed = li.groupBy("l_orderkey").agg(
        F.sum("_line").cast("decimal(28,6)").alias("_calc")
    )
    j = orders.select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(28,6)").alias("_hdr"),
    ).join(computed, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    diff = F.abs(F.col("_hdr") - F.coalesce(F.col("_calc"), F.lit(0).cast("decimal(28,6)")))
    tol = F.lit(tolerance).cast("decimal(28,6)")
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.when(diff > tol, 1).otherwise(0)).cast("long").alias(
                "n_mismatched"
            ),
            F.max(diff).cast("double").alias("max_abs_diff"),
        )
    )


def rolling_active_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Exact DAU and trailing WAU per day: a user active on day d
    contributes to the rolling window of every end-day in
    [d, d + window_days - 1]; both counts are exact distinct counts
    (no sketch). Only end-days that actually occur in the data are
    reported.

    Scale shape: distinct (user, day) first (one shuffle, collapses raw
    event volume), then a bounded explode x window_days and a second
    distinct-count shuffle — the standard exact-WAU plan; swap in the
    HLL sketch variant when approximate is acceptable.
    """
    day = F.col(ts_col).cast("timestamp").cast("date")
    ud = df.select(
        F.col(user_col).alias("_u"), day.alias("_day")
    ).where(F.col("_u").isNotNull()).distinct()
    ud = register_cache(ud.cache())
    dau = ud.groupBy("_day").agg(
        F.countDistinct("_u").cast("long").alias("dau")
    )
    spread = ud.withColumn(
        "_end",
        F.explode(
            F.sequence(
                F.col("_day"), F.date_add(F.col("_day"), window_days - 1)
            )
        ),
    )
    wau = (
        spread.groupBy("_end")
        .agg(F.countDistinct("_u").cast("long").alias("wau"))
        .withColumnRenamed("_end", "_day")
    )
    return (
        dau.join(wau, "_day")
        .select(F.col("_day").alias("day"), "dau", "wau")
    )


def interarrival_stats(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group inter-arrival statistics: gap count, mean gap seconds,
    coefficient of variation, and the burstiness index B = (cv - 1) /
    (cv + 1) (Goh & Barabasi 2008: B < 0 regular, 0 Poisson, > 0
    bursty). Gaps are exact integer microsecond differences over the
    deterministic (ts, id) order; moment sums ride in DECIMAL(38,0) so
    the statistics are partition-invariant.

    One group-key shuffle for the lag window, one aggregate."""
    w = Window.partitionBy("_g").orderBy(F.col("_t").asc(), F.col("_i").asc())
    rows = df.select(
        F.col(group_col).alias("_g"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
        F.col(id_col).alias("_i"),
    )
    gaps = (
        rows.withColumn("_prev", F.lag("_t").over(w))
        .where(F.col("_prev").isNotNull())
        .select("_g", (F.col("_t") - F.col("_prev")).alias("_d"))
    )
    dec = "decimal(38,0)"
    mom = gaps.groupBy(F.col("_g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.col("_d").cast(dec)).alias("_s1"),
        F.sum(F.col("_d").cast(dec) * F.col("_d")).alias("_s2"),
    )
    n = F.col("n_gaps").cast("double")
    mean_us = F.col("_s1").cast("double") / n
    var_us = F.col("_s2").cast("double") / n - mean_us * mean_us
    cv = F.sqrt(F.greatest(var_us, F.lit(0.0))) / mean_us
    return mom.select(
        group_col,
        "n_gaps",
        F.round(mean_us / F.lit(1_000_000.0) + F.lit(0.0), 6).alias("mean_gap_s"),
        F.round(cv + F.lit(0.0), 6).alias("cv"),
        F.round((cv - 1) / (cv + 1) + F.lit(0.0), 6).alias("burstiness"),
    )


def activity_streaks(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Distribution of consecutive-day activity streak lengths across
    users (gaps-and-islands): a streak is a maximal run of consecutive
    active days; returns (streak_days, n_streaks, n_users) — how many
    runs of each length exist and how many distinct users own one.

    Plan: distinct (user, day) collapse, one user-key window
    (row_number), island key = epoch-day minus row_number (constant
    within a run), then two exact aggregates. All integer arithmetic.
    """
    day = F.col(ts_col).cast("timestamp").cast("date")
    ud = df.select(
        F.col(user_col).alias("_u"), day.alias("_day")
    ).where(F.col("_u").isNotNull()).distinct()
    w = Window.partitionBy("_u").orderBy("_day")
    islands = ud.withColumn(
        "_grp",
        F.datediff(F.col("_day"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("_u", "_grp").agg(
        F.count(F.lit(1)).cast("long").alias("streak_days")
    )
    return streaks.groupBy("streak_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.countDistinct("_u").cast("long").alias("n_users"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups' metric
    distributions (the continuous-metric A/B primitive next to
    ``two_proportion_ztest``): per-side exact moment sums (values fixed
    to DECIMAL(18,6) per row, so the sums are partition-invariant),
    then t = (ma - mb) / sqrt(va/na + vb/nb) and the Welch-Satterthwaite
    degrees of freedom — each a single fixed-order double expression
    over the exact moments. One row out:
    (n_a, n_b, mean_a, mean_b, t_stat, welch_df)."""
    v = F.col(value_col).cast("decimal(18,6)")

    def side(tag: str, key) -> DataFrame:
        return (
            df.where((F.col(group_col) == key) & v.isNotNull())
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
                F.sum(v).alias(f"_s1_{tag}"),
                F.sum(v * v).alias(f"_s2_{tag}"),
            )
        )

    j = side("a", group_a).crossJoin(side("b", group_b))

    def stats(tag: str):
        n = F.col(f"n_{tag}").cast("double")
        s1 = F.col(f"_s1_{tag}").cast("double")
        s2 = F.col(f"_s2_{tag}").cast("double")
        mean = s1 / n
        var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
        return mean, var / n

    ma, vna = stats("a")
    mb, vnb = stats("b")
    t = (ma - mb) / F.sqrt(vna + vnb)
    dfw = ((vna + vnb) * (vna + vnb)) / (
        vna * vna / (F.col("n_a").cast("double") - F.lit(1.0))
        + vnb * vnb / (F.col("n_b").cast("double") - F.lit(1.0))
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(ma + F.lit(0.0), 6).alias("mean_a"),
        F.round(mb + F.lit(0.0), 6).alias("mean_b"),
        F.round(t + F.lit(0.0), 6).alias("t_stat"),
        F.round(dfw + F.lit(0.0), 6).alias("welch_df"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two groups'
    metric distributions: D = max_x |F_a(x) - F_b(x)|, evaluated at
    every distinct value. ENTIRELY integer-exact until the final
    division — the max is taken over |ca*nb - cb*na| (BIGINT), so the
    argmax value and the statistic are partition-invariant with no
    float-comparison hazard. Values are fixed to DECIMAL(18,6) keys.

    Plan: one groupBy on the value key (per-side counts), one ordered
    window over the DISTINCT-VALUE table (bounded by the value domain,
    not the row count), one argmax. One row out:
    (n_a, n_b, ks_stat, at_value)."""
    v = F.col(value_col).cast("decimal(18,6)")
    sided = df.where(
        F.col(group_col).isin([group_a, group_b]) & v.isNotNull()
    ).select(
        v.alias("_v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("_ia"),
        F.when(F.col(group_col) == group_b, 1).otherwise(0).alias("_ib"),
    )
    per_v = register_cache(
        sided.groupBy("_v").agg(
            F.sum("_ia").cast("long").alias("_ca"),
            F.sum("_ib").cast("long").alias("_cb"),
        ).cache()
    )
    # the two empirical CDFs are prefix sums over the distinct-value
    # frame — bucketed, not a single-partition window (guide §2.5; value
    # cardinality is corpus-sized for continuous metrics)
    from weaviate_spark.operators.running import RunningAgg, bucketed_running

    cum = bucketed_running(
        per_v, F.col("_v"), [F.col("_v").asc()],
        [
            RunningAgg("_cuma", F.col("_ca"), "sum", 0),
            RunningAgg("_cumb", F.col("_cb"), "sum", 0),
        ],
    ).select("_v", "_cuma", "_cumb")
    tot = sided.agg(
        F.sum("_ia").cast("long").alias("n_a"),
        F.sum("_ib").cast("long").alias("n_b"),
    )
    dnum = F.abs(
        F.col("_cuma") * F.col("n_b") - F.col("_cumb") * F.col("n_a")
    ).alias("_dnum")
    best = (
        cum.crossJoin(F.broadcast(tot))
        .select("_v", "n_a", "n_b", dnum)
        .orderBy(F.col("_dnum").desc(), F.col("_v").asc())
        .limit(1)
    )
    return best.select(
        "n_a",
        "n_b",
        F.round(
            F.col("_dnum").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            + F.lit(0.0),
            6,
        ).alias("ks_stat"),
        F.col("_v").cast("double").alias("at_value"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str,
    ts_col: str,
    amount_col: str,
    bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: per
    customer, days since last order (relative to the corpus max date),
    order count, and DECIMAL-exact spend; each scored into `bins`
    quantile bins via ntile with a deterministic (metric, custkey)
    tie-break — bin `bins` is always the best (most recent / most
    frequent / highest spend). Output is the segment cube:
    (r_bin, f_bin, m_bin, n_customers, avg_monetary) — at most bins^3
    rows at any scale.

    Plan: one customer-key aggregate, three ntile windows over the
    customer-sized frame, one segment-key aggregate. The reference has
    no analytics layer; this sits with the cohort/funnel family."""
    amt = F.col(amount_col).cast("decimal(18,2)")
    day = F.col(ts_col).cast("timestamp").cast("date")
    per_c = orders.groupBy(F.col(cust_col).alias("_c")).agg(
        F.max(day).alias("_last"),
        F.count(F.lit(1)).cast("long").alias("_freq"),
        F.sum(amt).alias("_mon"),
    )
    ref = orders.agg(F.max(day).alias("_ref"))
    scored = register_checkpoint(
        per_c.crossJoin(F.broadcast(ref)).withColumn(
            "_rec", F.datediff(F.col("_ref"), F.col("_last"))
        ).select("_c", "_rec", "_freq", "_mon")
    )
    # three global ranks via the percentile-bucketed prefix machinery
    # instead of three SEQUENTIAL single-partition ntile windows (guide
    # §2.5: the frame is customer-sized); each stage is CHECKPOINTED so
    # the next stage's boundary/totals passes neither recompute the
    # chain nor nest InMemoryRelations (chained caches re-analyzed per
    # reference grew this query's plan to ~3.7k printed lines; a
    # checkpoint is a leaf and the plan stays flat).
    # _rec ranks descending, so its bucketing key is the negated value
    # (non-null by construction: every customer has >= 1 dated order).
    from weaviate_spark.operators.running import bucketed_running, ntile_from_rank

    s1 = register_checkpoint(
        bucketed_running(
            scored, -F.col("_rec"),
            [F.col("_rec").desc(), F.col("_c").asc()],
            [], rank_col="_rn_r", total_col="_qn",
        )
    )
    s2 = register_checkpoint(
        bucketed_running(
            s1, F.col("_freq"),
            [F.col("_freq").asc(), F.col("_c").asc()],
            [], rank_col="_rn_f",
        )
    )
    s3 = bucketed_running(
        s2, F.col("_mon"),
        [F.col("_mon").asc(), F.col("_c").asc()],
        [], rank_col="_rn_m",
    )
    n = F.col("_qn")
    binned = s3.select(
        ntile_from_rank(F.col("_rn_r"), n, bins).cast("int").alias("r_bin"),
        ntile_from_rank(F.col("_rn_f"), n, bins).cast("int").alias("f_bin"),
        ntile_from_rank(F.col("_rn_m"), n, bins).cast("int").alias("m_bin"),
        F.col("_mon"),
    )
    return (
        binned.groupBy("r_bin", "f_bin", "m_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum("_mon").cast("double") / F.count(F.lit(1)) + F.lit(0.0),
                6,
            ).alias("avg_monetary"),
        )
    )


def randomization_test(
    df: DataFrame,
    id_col: str,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    reps: int = 50,
    salt: str = "perm",
) -> DataFrame:
    """Deterministic randomization (approximate permutation) test for
    the difference in group means: re-label every row `reps` times by
    an md5 coin flip (the Poisson-bootstrap discipline — label counts
    are binomial, not exactly preserved, which is the standard
    large-sample approximation) and report how often the re-labeled
    |mean difference| reaches the observed one. p = (1 + n_extreme) /
    (reps + 1), the add-one permutation estimate. One row out:
    (n_a, n_b, obs_diff, reps, n_extreme, p_value).

    Exactness: values are fixed to DECIMAL(18,6); every replicate's
    means come from exact decimal sums via fixed-order double ops, so
    the >= comparison is bit-deterministic and engine-portable. Plan:
    one reps-way explode + one (rep, side) aggregate — the same
    corpus x reps shape as poisson_bootstrap_ci, no shuffling of the
    original rows."""
    from weaviate_spark.operators.sampling import md5_prefix_long

    v = F.col(value_col).cast("decimal(18,6)")
    base = df.where(
        F.col(group_col).isin([group_a, group_b]) & v.isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("_ia"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("_ia") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("_ia") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("_ia") == 1, F.col("_v"))).alias("_sa"),
        F.sum(F.when(F.col("_ia") == 0, F.col("_v"))).alias("_sb"),
    ).select(
        "n_a",
        "n_b",
        (
            F.col("_sa").cast("double") / F.col("n_a").cast("double")
            - F.col("_sb").cast("double") / F.col("n_b").cast("double")
        ).alias("_obs"),
    )
    rep = base.withColumn(
        "_rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1)))
    ).withColumn(
        "_side",
        md5_prefix_long(
            F.concat(F.col("_rep").cast("string"), F.lit(":"),
                     F.col("_id").cast("string")),
            salt,
        )
        % 2,
    )
    per_rep = rep.groupBy("_rep").agg(
        F.sum(F.when(F.col("_side") == 0, 1).otherwise(0))
        .cast("long")
        .alias("_na"),
        F.sum(F.when(F.col("_side") == 1, 1).otherwise(0))
        .cast("long")
        .alias("_nb"),
        F.sum(F.when(F.col("_side") == 0, F.col("_v"))).alias("_sa"),
        F.sum(F.when(F.col("_side") == 1, F.col("_v"))).alias("_sb"),
    ).select(
        "_rep",
        (
            F.col("_sa").cast("double") / F.col("_na").cast("double")
            - F.col("_sb").cast("double") / F.col("_nb").cast("double")
        ).alias("_diff"),
    )
    ext = per_rep.crossJoin(F.broadcast(obs)).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.round(F.first("_obs") + F.lit(0.0), 6).alias("obs_diff"),
        F.count(F.lit(1)).cast("long").alias("reps"),
        F.sum(
            F.when(F.abs(F.col("_diff")) >= F.abs(F.col("_obs")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
    )
    return ext.select(
        "n_a",
        "n_b",
        "obs_diff",
        "reps",
        "n_extreme",
        F.round(
            (F.col("n_extreme") + F.lit(1)).cast("double")
            / (F.col("reps") + F.lit(1)).cast("double")
            + F.lit(0.0),
            6,
        ).alias("p_value"),
    )


def cohort_ltv(
    orders: DataFrame,
    cust_col: str,
    ts_col: str,
    amount_col: str,
) -> DataFrame:
    """Cohort lifetime-value curve: bucket customers by first-order
    month, then per (cohort_month, months_since) emit the cohort's
    cumulative revenue per customer — the LTV trajectory that sits next
    to retention_cohorts' activity counts. Revenue is DECIMAL-exact;
    ltv is one fixed-order division rounded at 6dp.

    Plan: one customer-key window (first order month), one
    (cohort, months_since) aggregate, a cumulative window over the
    months-sized frame, and a broadcast join of cohort sizes (one row
    per month at any scale)."""
    amt = F.col(amount_col).cast("decimal(18,2)")
    month = F.trunc(F.col(ts_col).cast("timestamp").cast("date"), "month")
    base = orders.select(
        F.col(cust_col).alias("_c"), month.alias("_m"), amt.alias("_v")
    )
    first = base.groupBy("_c").agg(F.min("_m").alias("_cohort"))
    sizes = first.groupBy("_cohort").agg(
        F.countDistinct("_c").cast("long").alias("n_customers")
    )
    cells = (
        base.join(first, "_c")
        .select(
            "_cohort",
            (
                F.months_between(F.col("_m"), F.col("_cohort"))
            ).cast("int").alias("months_since"),
            "_v",
        )
        .groupBy("_cohort", "months_since")
        .agg(F.sum("_v").alias("_rev"))
    )
    w = Window.partitionBy("_cohort").orderBy("months_since").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.withColumn("_cum", F.sum("_rev").over(w))
    return (
        cum.join(F.broadcast(sizes), "_cohort")
        .select(
            F.col("_cohort").alias("cohort_month"),
            "months_since",
            "n_customers",
            F.col("_cum").cast("double").alias("cum_revenue"),
            F.round(
                F.col("_cum").cast("double")
                / F.col("n_customers").cast("double")
                + F.lit(0.0),
                6,
            ).alias("ltv"),
        )
    )


def funnel_step_latency(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    step_a: str,
    step_b: str,
) -> DataFrame:
    """Time-to-convert between two funnel steps: for every user, the
    delay from their FIRST ``step_a`` to their first ``step_b`` at or
    after it; one summary row out — (n_step_a_users, n_converted,
    conversion_rate, p50_delay_s, p90_delay_s, max_delay_s). Delays
    are exact integer microseconds (converted to seconds only in the
    final projection); percentiles are exact interpolated.

    Plan: two user-key aggregates + one user-key join — the ordered
    funnel shape, no range join."""

    us = F.col(user_col).isNotNull()
    # checkpoint the step-a anchors: referenced by the conversion join
    # twice plus the denominator count — each replayed the step-a scan
    # and aggregate (4 corpus scans; now one pass per step)
    a = register_checkpoint(
        events.where((F.col(type_col) == step_a) & us)
        .groupBy(F.col(user_col).alias("_u"))
        .agg(F.min(F.col(ts_col).cast("timestamp")).alias("_ta"))
    )
    b = events.where((F.col(type_col) == step_b) & us).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("timestamp").alias("_tb"),
    )
    conv = (
        a.join(b, "_u")
        .where(F.col("_tb") >= F.col("_ta"))
        .groupBy("_u")
        .agg(F.min("_tb").alias("_tb"))
        .join(a, "_u")
        .select(
            "_u",
            (
                F.unix_micros(F.col("_tb")) - F.unix_micros(F.col("_ta"))
            ).alias("_dus"),
        )
    )
    na = a.agg(F.count(F.lit(1)).cast("long").alias("n_step_a_users"))
    stats = conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(
            F.percentile(F.col("_dus").cast("double"), F.lit(0.5))
            / F.lit(1000000.0)
            + F.lit(0.0),
            6,
        ).alias("p50_delay_s"),
        F.round(
            F.percentile(F.col("_dus").cast("double"), F.lit(0.9))
            / F.lit(1000000.0)
            + F.lit(0.0),
            6,
        ).alias("p90_delay_s"),
        F.round(
            F.max("_dus").cast("double") / F.lit(1000000.0) + F.lit(0.0), 6
        ).alias("max_delay_s"),
    )
    return na.crossJoin(stats).select(
        "n_step_a_users",
        "n_converted",
        F.round(
            F.col("n_converted").cast("double")
            / F.col("n_step_a_users").cast("double")
            + F.lit(0.0),
            6,
        ).alias("conversion_rate"),
        "p50_delay_s",
        "p90_delay_s",
        "max_delay_s",
    )


def concurrent_sessions_daily(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Peak concurrency per day via the classic sweep line: sessionize
    each user's events (a new session after a >gap_minutes silence),
    emit +1 at each session start and -1 just after its end (inclusive
    bounds — sessions touching at a timestamp overlap), run the
    prefix sum in (ts, +1-before--1) order, and take the max per day.
    Output: (day, n_sessions_started, max_concurrent) — the capacity
    -planning readout.

    Cross-midnight sessions: each day a session SPANS (after its start
    day, through its end day) gets a delta-0 midnight probe point, so a
    day whose load is carried entirely by sessions opened earlier still
    reads the correct concurrency (without probes such a day would
    report 0/too-low — sweep points would exist only at endpoints).
    Probes sort AFTER same-instant -1s: a session that ended in the
    last microsecond of the previous day is not counted at midnight.

    All integer arithmetic; the ordered prefix sum runs over the
    session-ENDPOINT(+probe) table (2 rows per session + spanned days,
    not per event). Tie order (+1, then -1, then probes, then user asc)
    makes the running sum — and therefore the max — fully deterministic
    under timestamp ties."""
    us = F.col(user_col).isNotNull()
    base = events.where(us).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).cast("timestamp").alias("_ts"),
        F.col(id_col).alias("_i"),
    )
    w = Window.partitionBy("_u").orderBy("_ts", "_i")
    gap_us = gap_minutes * 60 * 1_000_000
    marked = base.withColumn(
        "_new",
        F.when(
            F.unix_micros(F.col("_ts"))
            - F.unix_micros(F.lag("_ts").over(w))
            > gap_us,
            1,
        )
        .otherwise(
            F.when(F.lag("_ts").over(w).isNull(), 1).otherwise(0)
        ),
    ).withColumn("_sid", F.sum("_new").over(
        Window.partitionBy("_u").orderBy("_ts", "_i").rowsBetween(
            Window.unboundedPreceding, 0
        )
    ))
    # cache the session table: it is one row per SESSION but deriving it
    # is the corpus double-window sessionize pass, and it feeds FOUR
    # plans — the three endpoint/probe branches of the sweep-point union
    # plus the per-day session-start counts (guide §2.4: fewer passes,
    # §5: cache only the reused, reduced frame)
    sess = register_cache(
        marked.groupBy("_u", "_sid").agg(
            F.min("_ts").alias("_start"), F.max("_ts").alias("_end")
        ).cache()
    )
    # day-start probes (delta 0) for every day a session spans beyond
    # its start day; the spanning filter guards Spark's descending
    # sequence(hi, lo) quirk when start and end share a day
    probes = sess.where(
        F.col("_end").cast("date") > F.col("_start").cast("date")
    ).select(
        F.explode(
            F.sequence(
                F.date_add(F.col("_start").cast("date"), 1),
                F.col("_end").cast("date"),
            )
        ).alias("_day"),
        F.lit(0).alias("_d"),
        "_u",
    ).select(
        F.col("_day").cast("timestamp").alias("_t"), "_d", "_u"
    )
    pts = sess.select(
        F.col("_start").alias("_t"), F.lit(1).alias("_d"), "_u"
    ).unionByName(
        sess.select(
            (F.timestamp_micros(F.unix_micros(F.col("_end")) + 1)).alias("_t"),
            F.lit(-1).alias("_d"),
            "_u",
        )
    ).unionByName(probes)
    # same-instant order: +1, then -1, then probes — a probe reads the
    # sum AFTER decrements of sessions that ended before midnight
    ord_rank = (
        F.when(F.col("_d") == 1, F.lit(0))
        .when(F.col("_d") == -1, F.lit(1))
        .otherwise(F.lit(2))
    )
    # the sweep's prefix sum runs bucketed on the timestamp (guide §2.5
    # — the endpoint table is session-sized, and the plain global window
    # would sweep it in ONE task). Rows tying on the full sort key are
    # exclusively delta-0 probe duplicates, so any tie order yields the
    # same running sum.
    from weaviate_spark.operators.running import RunningAgg, bucketed_running

    pts = register_cache(pts.withColumn("_ord", ord_rank).cache())
    sweep = bucketed_running(
        pts, F.col("_t"),
        [F.col("_t").asc(), F.col("_ord").asc(), F.col("_u").asc()],
        [RunningAgg("_run", F.col("_d"), "sum", 0)],
    )
    daily_max = sweep.groupBy(F.col("_t").cast("date").alias("day")).agg(
        F.max("_run").cast("long").alias("max_concurrent")
    )
    starts = sess.groupBy(F.col("_start").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions_started")
    )
    return (
        daily_max.join(starts, "day", "left")
        .select(
            "day",
            F.coalesce("n_sessions_started", F.lit(0))
            .cast("long")
            .alias("n_sessions_started"),
            "max_concurrent",
        )
    )


def markov_stationary(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    iterations: int = 8,
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: the
    row-normalized transition matrix from markov-transition counts
    (per-user (ts, id)-ordered successor pairs), then ``iterations``
    power steps x <- xP from the uniform start. Where does traffic
    settle — the long-run version of the one-step transition view.

    Determinism contract (the kmeans/pagerank replay discipline):
    transition probabilities AND every iteration's state vector are
    fixed to 6dp DECIMAL, products/sums are exact decimal arithmetic,
    so an unrolled-CTE oracle replays the trajectory bit-for-bit.
    The state space is the event-type vocabulary — the per-step join
    is broadcast-tiny at any corpus size."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    seq = events.where(F.col(user_col).isNotNull()).select(
        F.col(type_col).alias("_from"),
        F.lead(type_col).over(w).alias("_to"),
    ).where(F.col("_to").isNotNull())
    # cache the transition-count frame: it is vocabulary^2-sized but
    # DERIVING it is a full corpus pass (per-user lead window), and it
    # feeds tot, p, states AND — through p — every power iteration's
    # checkpoint; uncached, the corpus pipeline re-executed ~10x
    # (guide §2.4: do fewer passes / §5: cache only what is reused)
    c = register_cache(
        seq.groupBy("_from", "_to").agg(F.count(F.lit(1)).alias("_n")).cache()
    )
    tot = c.groupBy("_from").agg(F.sum("_n").alias("_tot"))
    p = register_cache(
        c.join(tot, "_from").select(
            "_from",
            "_to",
            F.round(
                F.col("_n").cast("double") / F.col("_tot").cast("double"), 6
            )
            .cast("decimal(10,6)")
            .alias("_p"),
        ).cache()
    )
    states = (
        c.select(F.col("_from").alias("_s"))
        .union(c.select("_to"))
        .distinct()
    )
    n = states.count()  # state vocabulary — tiny by construction
    if n == 0:
        # no transitions (empty input, or every user emitted a single
        # event): an empty chain has no stationary distribution — return
        # the empty frame like sibling operators, not ZeroDivisionError
        return events.sparkSession.createDataFrame(
            [], "event_type string, stationary_prob double"
        )
    x = states.select(
        "_s", F.lit(round(1.0 / n, 6)).cast("decimal(10,6)").alias("_x")
    ).localCheckpoint()
    for _ in range(int(iterations)):
        x = (
            p.join(x.withColumnRenamed("_s", "_from"), "_from")
            .groupBy(F.col("_to").alias("_s"))
            .agg(
                F.round(F.sum(F.col("_p") * F.col("_x")), 6)
                .cast("decimal(10,6)")
                .alias("_x")
            )
        ).localCheckpoint()
    return x.select(
        F.col("_s").alias("event_type"),
        F.col("_x").cast("double").alias("stationary_prob"),
    )


def grouped_ols_trend(
    df: DataFrame,
    group_col: str,
    x_col,
    y_col,
    scale: int = 6,
) -> DataFrame:
    """Per-group OLS line fit y = slope*x + intercept (+ r2): the
    grouped-regression primitive (per-segment trend, per-SKU
    elasticity). ``x_col``/``y_col`` are Columns or names; both are
    fixed to 6dp DECIMAL per row so the five moment sums are exact and
    partition-invariant; slope/intercept/r2 are fixed-order double
    expressions. One aggregate pass — no per-group iteration.
    Output: (group, n_points, slope, intercept, r2); groups with fewer
    than 2 points or zero x-variance are dropped (no defined line)."""
    # ``scale`` trades fractional precision for magnitude headroom:
    # the y*y moment's 128-bit raw value must fit DECIMAL(38) in BOTH
    # engines, so large-magnitude series (revenue) pass scale=2.
    x = (x_col if not isinstance(x_col, str) else F.col(x_col)).cast(
        f"decimal(18,{scale})"
    )
    y = (y_col if not isinstance(y_col, str) else F.col(y_col)).cast(
        f"decimal(18,{scale})"
    )
    base = df.select(
        F.col(group_col).alias("_g"), x.alias("_x"), y.alias("_y")
    ).where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    mom = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col("n_points").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    vx = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / vx
    return mom.where(
        (F.col("n_points") >= 2) & (vx != F.lit(0.0))
    ).select(
        F.col("_g").alias(group_col),
        "n_points",
        F.round(slope + F.lit(0.0), 6).alias("slope"),
        F.round((sy - slope * sx) / n + F.lit(0.0), 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / (vx * (n * syy - sy * sy))
            + F.lit(0.0),
            6,
        ).alias("r2"),
    )


def shipping_delay_stats(
    orders: DataFrame,
    lineitem: DataFrame,
    group_col: str = "o_orderpriority",
) -> DataFrame:
    """Order-to-ship latency per priority class: exact integer day
    delays (l_shipdate - o_orderdate) over the order-key co-join, with
    interpolated p50/p90 and the straggler max — the fulfilment-SLA
    readout. One fact-fact equi-join on the order key (broadcast-free,
    bucket-layout friendly) + one group aggregate."""
    j = lineitem.select(
        "l_orderkey", F.col("l_shipdate").cast("timestamp").cast("date").alias("_ship")
    ).join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col(group_col).alias("_g"),
            F.col("o_orderdate").cast("timestamp").cast("date").alias("_od"),
        ),
        "l_orderkey",
    ).select("_g", F.datediff(F.col("_ship"), F.col("_od")).alias("_d"))
    return j.groupBy(F.col("_g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(
            F.sum(F.col("_d").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1))
            + F.lit(0.0),
            6,
        ).alias("mean_delay_days"),
        F.round(
            F.percentile(F.col("_d").cast("double"), F.lit(0.5)) + F.lit(0.0),
            6,
        ).alias("p50_delay_days"),
        F.round(
            F.percentile(F.col("_d").cast("double"), F.lit(0.9)) + F.lit(0.0),
            6,
        ).alias("p90_delay_days"),
        F.max("_d").cast("long").alias("max_delay_days"),
    )


def supplier_scorecard(
    lineitem: DataFrame,
    supplier: DataFrame,
    top_k: int = 20,
) -> DataFrame:
    """Composite supplier scorecard: revenue (DECIMAL-exact discounted
    extended price), line count, return rate (share of 'R' return
    flags — integer counts, one division), and revenue rank; top-k
    suppliers by revenue. The multi-metric entity report a marketplace
    ops team reads daily.

    One aggregate over the fact table co-keyed on the supplier, one
    broadcast dim join, one top-k — no per-metric re-scan."""
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,6)")
           - F.col("l_discount").cast("decimal(18,6)"))
    )
    agg = lineitem.groupBy(F.col("l_suppkey").alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(rev).cast("decimal(28,8)").alias("_rev"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("_returned"),
    )
    named = agg.join(
        F.broadcast(
            supplier.select(
                F.col("s_suppkey").alias("_s"), F.col("s_name")
            )
        ),
        "_s",
    )
    return (
        named.select(
            F.col("_s").alias("s_suppkey"),
            "s_name",
            "n_lines",
            F.col("_rev").cast("double").alias("revenue"),
            F.round(
                F.col("_returned").cast("double")
                / F.col("n_lines").cast("double")
                + F.lit(0.0),
                6,
            ).alias("return_rate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("s_suppkey").asc())
        .limit(top_k)
    )


def dormancy_reactivations(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    dormant_days: int = 14,
) -> DataFrame:
    """Win-back curve: a REACTIVATION is a user's active day following
    a silence of more than ``dormant_days`` days; emit per-day counts
    of reactivated vs total active users. All-integer (distinct
    (user, day) collapse, one user-key lag window, one day aggregate).
    Output: (day, n_active_users, n_reactivated)."""
    day = F.col(ts_col).cast("timestamp").cast("date")
    ud = events.where(F.col(user_col).isNotNull()).select(
        F.col(user_col).alias("_u"), day.alias("_day")
    ).distinct()
    w = Window.partitionBy("_u").orderBy("_day")
    lagged = ud.withColumn(
        "_gap", F.datediff(F.col("_day"), F.lag("_day").over(w))
    )
    return lagged.groupBy(F.col("_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_active_users"),
        F.sum(
            F.when(F.col("_gap") > dormant_days, 1).otherwise(0)
        ).cast("long").alias("n_reactivated"),
    )


def bot_traffic_profile(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    burst_threshold: int = 2,
) -> DataFrame:
    """Rule-based traffic-quality gate: a user is SUSPECT when their
    busiest minute holds >= ``burst_threshold`` events or they only
    ever emit one event type (scripted monotony). Output is the
    two-row summary (suspect, n_users, avg_events, avg_max_per_min) —
    the pre-training 'drop bot sessions' filter as a measurable gate
    rather than a silent drop.

    All decisions are integer comparisons; averages are exact
    integer-sum / count at 6dp. Two user-key aggregates, no windows."""
    us = F.col(user_col).isNotNull()
    per_min = events.where(us).groupBy(
        F.col(user_col).alias("_u"),
        F.date_trunc("minute", F.col(ts_col).cast("timestamp")).alias("_m"),
    ).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    per_user = per_min.groupBy("_u").agg(
        F.sum("_n").cast("long").alias("_events"),
        F.max("_n").cast("long").alias("_maxpm"),
    )
    types = events.where(us).groupBy(F.col(user_col).alias("_u")).agg(
        F.countDistinct(type_col).cast("long").alias("_ntypes")
    )
    flagged = per_user.join(types, "_u").withColumn(
        "suspect",
        (F.col("_maxpm") >= burst_threshold) | (F.col("_ntypes") <= 1),
    )
    return flagged.groupBy("suspect").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.sum("_events").cast("double") / F.count(F.lit(1)) + F.lit(0.0),
            6,
        ).alias("avg_events"),
        F.round(
            F.sum("_maxpm").cast("double") / F.count(F.lit(1)) + F.lit(0.0),
            6,
        ).alias("avg_max_per_min"),
    )


def duplicate_charge_audit(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    key_col: str = "o_orderkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    window_days: int = 7,
) -> DataFrame:
    """Double-charge audit: pairs of orders by the SAME customer for
    the SAME cent-exact amount within ``window_days`` of each other —
    the billing-dedup / fraud screen. Blocking is the (customer,
    amount) equi-join (never a cross join; candidates only exist where
    a customer repeats an exact amount), then the day-window filter
    and a canonical key order. Output: (cust, order_a, order_b,
    amount, day_gap), all exact."""
    amt = F.col(amount_col).cast("decimal(18,2)")
    day = F.col(ts_col).cast("timestamp").cast("date")
    base = orders.select(
        F.col(cust_col).alias("_c"), amt.alias("_amt"),
        F.col(key_col).alias("_o"), day.alias("_d"),
    )
    a = base.select("_c", "_amt", F.col("_o").alias("order_a"),
                    F.col("_d").alias("_da"))
    b = base.select("_c", "_amt", F.col("_o").alias("order_b"),
                    F.col("_d").alias("_db"))
    pairs = (
        a.join(b, ["_c", "_amt"])
        .where(F.col("order_a") < F.col("order_b"))
        .withColumn("day_gap", F.abs(F.datediff(F.col("_db"), F.col("_da"))))
        .where(F.col("day_gap") <= window_days)
    )
    return pairs.select(
        F.col("_c").alias(cust_col), "order_a", "order_b",
        F.col("_amt").cast("double").alias("amount"),
        F.col("day_gap").cast("long").alias("day_gap"),
    )


def price_outliers_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-group z-score outliers (catalog-hygiene screen: a part
    priced 3 sigma off its brand's distribution is a data-entry
    suspect): exact DECIMAL moment sums per group, fixed-order
    mean/std/z, output rows with |z| > threshold. One group aggregate
    broadcast back — no window over the full table."""
    v = F.col(value_col).cast("decimal(18,6)")
    base = df.select(
        F.col(group_col).alias("_g"), F.col(id_col).alias("_id"),
        v.alias("_v"),
    ).where(F.col("_v").isNotNull())
    mom = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_v").alias("_s1"),
        F.sum(F.col("_v") * F.col("_v")).alias("_s2"),
    )
    n = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    stats = mom.select(
        "_g",
        (s1 / n).alias("_mean"),
        F.sqrt(
            F.greatest((s2 - s1 * s1 / n) / (n - F.lit(1.0)), F.lit(0.0))
        ).alias("_std"),
    )
    z = (F.col("_v").cast("double") - F.col("_mean")) / F.col("_std")
    return (
        base.join(F.broadcast(stats), "_g")
        .where(F.col("_std") > 0)
        .withColumn("zscore", F.round(z + F.lit(0.0), 6))
        .where(F.abs(F.col("zscore")) > z_threshold)
        .select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            F.col("_v").cast("double").alias(value_col),
            "zscore",
        )
    )
