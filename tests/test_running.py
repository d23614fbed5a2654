"""bucketed_running == the plain window it replaces, grouped and
ungrouped, on adversarial shapes: heavy ties on the leading key, NULL
leads, NULL groups, NULLs in aggregated columns, all-equal keys (one
bucket), tiny and empty frames, exclusive frames, and running max."""

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from weaviate_spark.operators.running import RunningAgg, bucketed_running


def _aggs():
    # inclusive and exclusive sum and max (F.col needs a live session)
    return [
        RunningAgg("cum_m", F.col("m"), "sum", 0),
        RunningAgg("prev_m", F.col("m"), "sum", -1),
        RunningAgg("run_max", F.col("v"), "max", 0),
        RunningAgg("prev_max", F.col("v"), "max", -1),
    ]


def _naive(df, order, aggs, rank_col=None, total_col=None, group_cols=()):
    spec = Window.partitionBy(*group_cols).orderBy(*order)
    out = df
    for a in aggs:
        w = spec.rowsBetween(Window.unboundedPreceding, a.end)
        fn = F.sum if a.fn == "sum" else F.max
        out = out.withColumn(a.out, fn(a.col).over(w))
    if rank_col is not None:
        out = out.withColumn(rank_col, F.row_number().over(spec))
    if total_col is not None:
        out = out.withColumn(
            total_col,
            F.count(F.lit(1)).over(
                spec.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    return out


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def _by_id(df):
    # keyed on the unique id: rows may hold NULLs, which do not sort
    return {r["id"]: tuple(r) for r in df.collect()}


def _row_windows(plan):
    """(partition keys, output names) of every Window operator in an
    executed plan, with expression ids stripped."""
    out = []
    for ln in plan.splitlines():
        m = re.search(r"Window \[(.*)\], \[([^\]]*)\], \[", ln)
        if m:
            keys = [k.split("#")[0].strip() for k in m.group(2).split(",") if k]
            names = re.findall(r" AS (\w+)#", m.group(1))
            out.append((keys, names))
    return out


def _assert_no_group_only_row_window(plan, group):
    """The corpus-sized window must ride a (group, bucket) partitioning;
    only the bucket-count-sized offsets window may partition by the
    group alone."""
    wins = _row_windows(plan)
    assert wins, plan
    for keys, names in wins:
        if keys == [group]:
            assert all(n.startswith(("_off_", "_grand_n")) for n in names), plan
        else:
            assert keys == [group, "_rb"], plan


@pytest.mark.parametrize("buckets", [1, 3, 8])
def test_running_matches_naive(spark, buckets):
    # ties on k (7 distinct values over 200 rows), NULLs in m
    data = [
        (i, i % 7, (i * 37) % 100 if i % 11 else None, float((i * 13) % 50))
        for i in range(200)
    ]
    df = spark.createDataFrame(data, "id long, k long, m long, v double")
    order = [F.col("k").asc(), F.col("id").asc()]
    aggs = _aggs()
    got = bucketed_running(
        df, F.col("k"), order, aggs, rank_col="rn", total_col="n",
        buckets=buckets,
    )
    want = _naive(df, order, aggs, rank_col="rn", total_col="n")
    assert _rows(got.select(df.columns + ["cum_m", "prev_m", "run_max",
                                          "prev_max", "rn", "n"])) == \
        _rows(want.select(df.columns + ["cum_m", "prev_m", "run_max",
                                        "prev_max", "rn", "n"]))


_ROW = st.tuples(
    st.sampled_from([None, "a", "b", "c"]),
    st.one_of(st.none(), st.integers(-3, 3)),
    st.one_of(st.none(), st.integers(-50, 50)),
    st.one_of(st.none(), st.integers(-5, 5).map(float)),
)


@given(
    rows=st.lists(_ROW, max_size=40),
    grouped=st.booleans(),
    buckets=st.sampled_from([1, 3, 16]),
)
@settings(max_examples=20, deadline=None)
@example(rows=[], grouped=True, buckets=3)
@example(rows=[], grouped=False, buckets=16)
@example(
    rows=[(None, 1, 5, 1.0), (None, 2, 7, 2.0), ("a", 1, 1, 0.0), ("a", 2, 2, 3.0)],
    grouped=True, buckets=3,
)
@example(
    rows=[("a", -2, 5, 1.0), ("a", None, 7, 2.0), ("a", 3, 1, 0.0), ("b", None, 2, None)],
    grouped=True, buckets=3,
)
def test_running_property_matches_naive_window(spark, rows, grouped, buckets):
    """Grouped and ungrouped core == Window.partitionBy(*group_cols)
    .orderBy(k, id) over random frames: NULL groups, NULL leads, heavy
    ties (7 lead values), NULLs in both aggregated columns, groups of
    the domain that are empty, and empty input."""
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "id long, g string, k long, m long, v double",
    )
    gcols = ["g"] if grouped else []
    order = [F.col("k").asc(), F.col("id").asc()]
    cols = ["id", "g", "k", "cum_m", "prev_m", "run_max", "prev_max", "rn", "n"]
    aggs = _aggs()
    got = bucketed_running(
        df, F.col("k"), order, aggs, rank_col="rn", total_col="n",
        group_cols=gcols, buckets=buckets,
    )
    want = _naive(df, order, aggs, "rn", "n", gcols)
    assert _by_id(got.select(cols)) == _by_id(want.select(cols))


def test_running_all_equal_lead_and_tiny(spark):
    # all-equal leading key: every row lands in one bucket; still exact
    df = spark.createDataFrame(
        [(i, 5, i * 2) for i in range(10)], "id long, k long, m long"
    )
    order = [F.col("k").asc(), F.col("id").asc()]
    aggs = [RunningAgg("cum", F.col("m"), "sum", 0)]
    got = _rows(
        bucketed_running(df, F.col("k"), order, aggs, rank_col="rn",
                         buckets=4).select("id", "cum", "rn")
    )
    want = _rows(_naive(df, order, aggs, rank_col="rn").select("id", "cum", "rn"))
    assert got == want

    empty = df.where(F.lit(False))
    assert bucketed_running(
        empty, F.col("k"), order, aggs, rank_col="rn", buckets=4
    ).count() == 0


def test_running_exclusive_first_row_null(spark):
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, m long")
    out = bucketed_running(
        df, F.col("id"), [F.col("id").asc()],
        [RunningAgg("prev", F.col("m"), "sum", -1)], buckets=3,
    )
    rows = {r["id"]: r["prev"] for r in out.collect()}
    assert rows == {1: None, 2: 10, 3: 30}


def test_running_plan_has_no_single_partition_window(spark):
    # the point of the helper: the corpus-sized window must be
    # hash-partitioned, never SinglePartition
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 13).alias("m")
    )
    out = bucketed_running(
        df, F.col("id"), [F.col("id").asc()],
        [RunningAgg("cum", F.col("m"), "sum", 0)], rank_col="rn", buckets=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    win_lines = [
        ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln
    ]
    # the only SinglePartition exchange allowed is the bucket-count-sized
    # offsets frame (its subtree aggregates by _rb, one row per bucket)
    assert len(win_lines) <= 1


@pytest.mark.parametrize("buckets", [1, 4, 16])
def test_grouped_unit_prefix_sum_matches_naive(spark, buckets):
    # unit-interval keys with heavy ties (8 distinct values), several
    # groups of very different sizes, long values; the exclusive sum is
    # coalesced to 0 on each group's first row, as the admission caller
    # does
    data = [
        (i, ["en", "de", "fr"][i % 3] if i < 180 else "zh",
         ((i * 5) % 8) / 8.0, int((i * 13) % 40))
        for i in range(200)
    ]
    df = spark.createDataFrame(data, "id long, g string, h double, tok long")
    got = bucketed_running(
        df, F.col("h"), [F.col("h").asc(), F.col("id").asc()],
        [RunningAgg("before", F.col("tok"), "sum", -1)],
        group_cols=["g"], buckets=buckets,
    ).withColumn("before", F.coalesce(F.col("before"), F.lit(0)))
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("h").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn(
        "before", F.coalesce(F.sum("tok").over(w), F.lit(0))
    )
    assert _rows(got.select("id", "g", "before")) == _rows(
        want.select("id", "g", "before")
    )


def test_grouped_unit_prefix_sum_no_single_group_task(spark):
    """The corpus-sized window must be partitioned by (group, bucket),
    not by group alone: one giant group may not serialize the stage."""
    df = spark.createDataFrame(
        [(i, "only", (i % 97) / 97.0, i) for i in range(300)],
        "id long, g string, h double, tok long",
    )
    out = bucketed_running(
        df, F.col("h"), [F.col("h").asc(), F.col("id").asc()],
        [RunningAgg("before", F.col("tok"), "sum", -1)], rank_col="rn",
        total_col="n", group_cols=["g"], buckets=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    _assert_no_group_only_row_window(plan, "g")


@pytest.mark.parametrize("buckets", [1, 4, 16])
def test_grouped_bucketed_rank_matches_naive(spark, buckets):
    # heavy value ties (7 distinct values), uneven groups, unique tiebreak
    data = [
        (i, ["A", "B", "C"][i % 3] if i < 150 else "D",
         float((i * 11) % 7), i)
        for i in range(200)
    ]
    df = spark.createDataFrame(data, "id long, g string, v double, tb long")
    got = bucketed_running(
        df, F.col("v"), [F.col("v").asc(), F.col("tb").asc()], [],
        rank_col="ra", total_col="n", group_cols=["g"], buckets=buckets,
    )
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("tb").asc())
    want = df.withColumn("ra", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    assert _rows(got.select("id", "g", "ra", "n")) == _rows(
        want.select("id", "g", "ra", "n")
    )


def test_grouped_callers_never_window_on_group_alone(spark):
    """trimmed_mean and training_mix_allocation run their row-level
    window per (group, bucket)."""
    from weaviate_spark.operators.analytics import trimmed_mean
    from weaviate_spark.operators.sampling import training_mix_allocation

    vals = spark.createDataFrame(
        [(["x", "y"][i % 2], float(i % 17), i) for i in range(100)],
        "g string, v double, id long",
    )
    docs = spark.createDataFrame(
        [(i, "w " * (1 + i % 5), ["en", "de"][i % 2]) for i in range(60)],
        "doc_id long, text string, lang string",
    )
    for out in (
        trimmed_mean(vals, "g", "v", "id", trim_frac=0.1),
        training_mix_allocation(docs, "doc_id", "text", "lang", total_budget=50),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        _assert_no_group_only_row_window(plan, "_g")
