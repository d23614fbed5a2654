"""Cohort retention, as-of join, and percentile aggregator semantics."""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from weaviate_spark.operators.analytics import asof_join, retention_cohorts


def _ts(day, hour=0, minute=0):
    return datetime.datetime(2024, 1, day, hour, minute)


def test_asof_backward_match_and_ties(spark):
    """<= semantics: a right row at exactly the left timestamp matches;
    among equal-ts right rows the greatest tiebreak wins."""
    left = spark.createDataFrame(
        [(1, "u", _ts(2)), (2, "u", _ts(5)), (3, "u", _ts(1))],
        "lid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, "u", _ts(2)), (11, "u", _ts(2)), (12, "u", _ts(4))],
        "rid long, k string, ts timestamp",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["rid"], right_tiebreak="rid")
    got = {r["lid"]: r["asof_rid"] for r in out.collect()}
    assert got == {1: 11, 2: 12, 3: None}  # equal-ts tie -> rid 11


def test_asof_tolerance(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(10))], "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [(7, "u", _ts(1))], "rid long, k string, ts timestamp")
    wide = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                     right_cols=["rid"])
    assert wide.collect()[0]["asof_rid"] == 7
    tight = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                      right_cols=["rid"], tolerance_seconds=3600.0)
    row = tight.collect()[0]
    assert row["asof_rid"] is None and row["asof_ts"] is None


def test_asof_keys_do_not_leak(spark):
    """A right row on another key never matches."""
    left = spark.createDataFrame(
        [(1, "a", _ts(5))], "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [(9, "b", _ts(1))], "rid long, k string, ts timestamp")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["rid"])
    assert out.collect()[0]["asof_rid"] is None


def test_retention_cohort_shape(spark):
    # two cohorts: users 1,2 first seen week of Jan 1; user 3 week of Jan 8
    rows = [
        (1, _ts(2)), (2, _ts(3)), (3, _ts(9)),
        (1, _ts(10)),            # user 1 active in week 1
        (2, _ts(16)), (3, _ts(16)),  # week 2 for cohort A, week 1 for B
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r["cohort_start"].day, r["periods_since"]): (r["n_active"], r["retention"])
           for r in retention_cohorts(ev).collect()}
    assert out[(1, 0)] == (2, 1.0)
    assert out[(1, 1)] == (1, 0.5)
    assert out[(1, 2)] == (1, 0.5)
    assert out[(8, 0)] == (1, 1.0)
    assert out[(8, 1)] == (1, 1.0)


def test_retention_unit_validation(spark):
    ev = spark.createDataFrame([(1, _ts(1))], "user_id long, ts timestamp")
    with pytest.raises(ValueError, match="cohort unit"):
        retention_cohorts(ev, unit="fortnight")


def test_percentile_aggregator_vs_numpy(spark, sf_dir):
    from weaviate_spark.operators.aggregate import (
        AggregateSpec, PropertyAgg, aggregate)

    out = aggregate(spark, sf_dir, AggregateSpec(
        collection="lineitem",
        properties=[PropertyAgg("l_quantity", ["p25", "p95"])],
    )).collect()[0]
    vals = np.array([
        r["l_quantity"] for r in
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_quantity").collect()
    ])
    assert out["l_quantity_p25"] == pytest.approx(
        np.percentile(vals, 25, method="linear"), abs=1e-9)
    assert out["l_quantity_p95"] == pytest.approx(
        np.percentile(vals, 95, method="linear"), abs=1e-9)


def test_percentile_rejects_bad_name(spark, sf_dir):
    from weaviate_spark.operators.aggregate import (
        AggregateSpec, PropertyAgg, aggregate)

    with pytest.raises(ValueError, match="unknown aggregator"):
        aggregate(spark, sf_dir, AggregateSpec(
            collection="lineitem",
            properties=[PropertyAgg("l_quantity", ["p200"])],
        )).collect()


# ---------------------------------------------------------------------------
# HTML extraction


def _extract(spark, html, **kw):
    from weaviate_spark.operators.curation import extract_html_text

    df = spark.createDataFrame([(1, html)], "id long, html string")
    return extract_html_text(df, "html", **kw).collect()[0]


def test_html_blocks_do_not_leak(spark):
    row = _extract(spark, (
        '<SCRIPT type="text/javascript">secret()</SCRIPT>'
        "<Style>body{}</Style><!-- note --><p>kept line with words</p>"
    ))
    assert row["extracted"] == "kept line with words"
    assert row["extracted_lines"] == 1


def test_html_entity_decode_order(spark):
    # double-encoded &amp;lt; decodes exactly one level -> &lt;
    row = _extract(spark, "<p>a &amp;lt; b stays literal here</p>")
    assert "&lt;" in row["extracted"]
    row2 = _extract(spark, "<p>x &lt; y &amp; z &quot;q&quot; ok</p>")
    assert row2["extracted"] == 'x < y & z "q" ok'


def test_html_short_line_boilerplate_drops(spark):
    row = _extract(spark, (
        "<div>Home</div><div>About us</div>"
        "<p>this line has enough words to keep</p>"
    ))
    assert row["extracted"] == "this line has enough words to keep"
    keep_all = _extract(spark, "<div>Home</div><p>one two three</p>",
                        min_line_words=1)
    assert keep_all["extracted_lines"] == 2


def test_html_inline_tags_do_not_split_lines(spark):
    row = _extract(spark, "<p>a <b>bold</b> and <i>italic</i> run</p>")
    assert row["extracted"] == "a bold and italic run"
    assert row["extracted_lines"] == 1


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py)


def test_pagerank_matches_numpy_power_iteration(spark):
    """Weighted graph with a dangling node and parallel edges, pinned
    against an independent dense numpy power iteration."""
    from weaviate_spark.operators.graph import pagerank

    # nodes 0..3; node 3 is dangling; (0,1) appears twice -> weight 2
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (0, 1, 1.0), (0, 2, 2.0), (1, 2, 1.0),
         (2, 0, 1.0), (2, 3, 3.0)],
        "src long, dst long, w double",
    )
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(edges, "src", "dst", "w", iterations=10).collect()
    }

    n, d = 4, 0.85
    p = np.zeros((n, n))
    p[0, 1] = 2 / 4
    p[0, 2] = 2 / 4
    p[1, 2] = 1.0
    p[2, 0] = 1 / 4
    p[2, 3] = 3 / 4
    r = np.full(n, 1 / n)
    for _ in range(10):
        dangling = r[3]  # node 3 has no out-edges
        r = (1 - d) / n + d * (r @ p + dangling / n)
    for i in range(n):
        assert got[i] == pytest.approx(r[i], rel=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-12)


def test_pagerank_uniform_on_cycle(spark):
    """A directed cycle is rank-uniform at every iteration count."""
    from weaviate_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long")
    got = [r["pagerank"] for r in pagerank(edges, iterations=3).collect()]
    assert got == pytest.approx([1 / 3] * 3, rel=1e-12)


def test_funnel_ordering_is_strict(spark):
    """A click BEFORE the user's first view must not count toward the
    click stage."""
    from weaviate_spark.operators.analytics import funnel_conversion

    ev = spark.createDataFrame(
        [
            ("u1", "view", _ts(1)), ("u1", "click", _ts(2)),
            ("u1", "purchase", _ts(3)),
            # u2 clicked before viewing: stops at the view stage
            ("u2", "click", _ts(1)), ("u2", "view", _ts(2)),
            # u3 never viewed
            ("u3", "click", _ts(1)), ("u3", "purchase", _ts(2)),
        ],
        "user_id string, event_type string, ts timestamp",
    )
    out = {
        r["stage"]: (r["n_users"], r["conversion"])
        for r in funnel_conversion(ev, ["view", "click", "purchase"]).collect()
    }
    assert out["all"] == (3, 1.0)
    assert out["view"] == (2, pytest.approx(2 / 3, abs=1e-6))
    assert out["click"] == (1, 0.5)
    assert out["purchase"] == (1, 1.0)


def test_daily_zscores_null_until_history(spark):
    """z is NULL until 3 days of trailing history and when variance is 0."""
    from weaviate_spark.operators.analytics import daily_count_zscores

    rows = []
    # 5 days of stable counts then a spike: 2,2,2,2,10
    counts = [2, 2, 2, 2, 10]
    for day, c in enumerate(counts, start=1):
        for i in range(c):
            rows.append(("e1", "x", _ts(day, hour=i)))
    ev = spark.createDataFrame(
        rows, "event_type string, user string, ts timestamp")
    out = {r["day"].day: r["z"] for r in daily_count_zscores(ev).collect()}
    assert out[1] is None and out[2] is None and out[3] is None
    assert out[4] is None  # 3 days history but stddev == 0
    assert out[5] is None or out[5] > 0  # spike day: 4 identical -> sd 0?
    # trailing window for day 5 is [2,2,2,2] -> sd 0 -> NULL
    assert out[5] is None


# --- round-6 third-session additions -----------------------------------------


def test_triangle_counts_hand_graph(spark):
    from weaviate_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5,
    # a self-loop, a parallel edge, and a reversed duplicate
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (3, 3), (2, 1), (1, 2)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["node"]: r["triangles"]
           for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_matches_bruteforce(spark):
    import itertools
    import random

    from weaviate_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = list(range(30))
    edges = [(a, b) for a, b in itertools.combinations(nodes, 2)
             if rng.random() < 0.2]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == expected


def test_pareto_frontier_bruteforce(spark):
    import random

    from weaviate_spark.operators.analytics import pareto_frontier

    rng = random.Random(3)
    rows = [(i, rng.randint(0, 20), rng.randint(0, 20))
            for i in range(120)]
    # inject exact duplicates and same-x ties
    rows += [(200, 0, 20), (201, 0, 20), (202, 0, 5)]
    df = spark.createDataFrame(rows, "id int, price int, size int")
    keep = set()
    for i, p, s in rows:
        dominated = any(
            (q <= p and t >= s and (q < p or t > s)) for _, q, t in rows
        )
        if not dominated:
            keep.add(i)
    got = {r["id"] for r in
           pareto_frontier(df, "price", "size").collect()}
    assert got == keep
    assert {200, 201} <= got and 202 not in got


def test_scd2_intervals_collapse_and_nulls(spark):
    from weaviate_spark.operators.analytics import scd2_intervals

    rows = [
        (1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, None),
        (1, 5, None), (1, 6, "a"),
        (2, 1, None), (2, 2, "x"),
    ]
    df = spark.createDataFrame(rows, "k int, t int, v string")
    out = scd2_intervals(df, key="k", ts="t", attr="v", tiebreak="t")
    got = sorted(
        (r["k"], r["valid_from"], r["v"], r["valid_to"], r["is_current"])
        for r in out.collect()
    )
    assert got == [
        (1, 1, "a", 3, False),
        (1, 3, "b", 4, False),
        (1, 4, None, 6, False),
        (1, 6, "a", None, True),
        (2, 1, None, 2, False),
        (2, 2, "x", None, True),
    ]


def test_radius_pairs_bruteforce(spark):
    import math
    import random

    from weaviate_spark.operators.analytics import radius_pairs

    rng = random.Random(11)
    pts = [(i, rng.uniform(40, 60), rng.uniform(-10, 30))
           for i in range(80)]
    df = spark.createDataFrame(pts, "id int, lat double, lon double")

    def hav(a, b):
        la1, lo1 = a
        la2, lo2 = b
        h = (math.sin(math.radians(la2 - la1) / 2) ** 2
             + math.cos(math.radians(la1)) * math.cos(math.radians(la2))
             * math.sin(math.radians(lo2 - lo1) / 2) ** 2)
        return 2 * 6371000.0 * math.asin(math.sqrt(h))

    radius = 300_000.0
    expected = set()
    for i, la1, lo1 in pts:
        for j, la2, lo2 in pts:
            if i < j and hav((la1, lo1), (la2, lo2)) <= radius:
                expected.add((i, j))
    out = radius_pairs(df, key="id", lat="lat", lon="lon", radius_m=radius)
    rows = out.collect()
    got = {(r["key_1"], r["key_2"]) for r in rows}
    assert got == expected
    assert len(rows) == len(got)  # each pair exactly once
    for r in rows:
        assert r["distance_m"] <= radius


def test_markov_transitions_row_normalized(spark, sf_dir):
    import __spark_entry__ as E

    rows = E.queries()["events_markov_transitions"](spark, sf_dir).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r["p_transition"])
    for ps in by_from.values():
        assert abs(sum(ps) - 1.0) < 1e-4  # rows sum to 1 (6dp rounding)


def test_ewma_matches_recurrence(spark, sf_dir):
    import __spark_entry__ as E

    rows = E.queries()["events_ewma_daily"](spark, sf_dir).collect()
    series = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        series.setdefault(r["event_type"], []).append(r)
    for et, rs in series.items():
        # re-derive by the textbook recurrence on irregular days:
        # s_t = (w*s_prev_weightsum*decay^gap ... ) — equivalently
        # recompute the anchored weighted mean directly
        anchor = max(r["day"] for r in rs)
        num = den = 0.0
        for r in rs:
            w = 0.8 ** (anchor - r["day"]).days
            num += r["day_value"] * w
            den += w
            assert abs(r["ewma"] - num / den) < 1e-4


def test_sssp_hand_graph(spark):
    from weaviate_spark.operators.graph import sssp

    # 0 -1-> 1 -1-> 2 ; 0 -5-> 2 ; 3 unreachable from 0
    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0), (3, 0, 1.0)]
    df = spark.createDataFrame(edges, "src int, dst int, w double")
    got = {r["node"]: r["distance"]
           for r in sssp(df, source=0, iterations=4).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}  # 3 absent: unreachable


def test_sessionize_hand_case(spark):
    from datetime import datetime

    from weaviate_spark.operators.analytics import sessionize

    rows = [
        # user 1: two events 10 min apart (one session), then a 40-min
        # gap (new session)
        (1, 1, datetime(2024, 1, 1, 10, 0, 0), 2.00),
        (2, 1, datetime(2024, 1, 1, 10, 10, 0), 3.00),
        (3, 1, datetime(2024, 1, 1, 10, 50, 0), 4.00),
        # user 2: single event
        (4, 2, datetime(2024, 1, 1, 9, 0, 0), 1.50),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    got = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert set(got) == {(1, 1), (1, 2), (2, 1)}
    s11 = got[(1, 1)]
    assert s11["n_events"] == 2
    assert s11["duration_s"] == 600.0
    assert s11["total_value"] == 5.0
    assert got[(1, 2)]["n_events"] == 1
    assert got[(1, 2)]["duration_s"] == 0.0
    assert got[(2, 1)]["total_value"] == 1.5


def test_sessionize_boundary_is_strict_gap(spark):
    from datetime import datetime

    from weaviate_spark.operators.analytics import sessionize

    rows = [
        (1, 1, datetime(2024, 1, 1, 10, 0, 0), 1.0),
        # exactly 30 min later: NOT a new session (> gap, not >=)
        (2, 1, datetime(2024, 1, 1, 10, 30, 0), 1.0),
        # 30 min + 1 microsecond: new session
        (3, 1, datetime(2024, 1, 1, 11, 0, 0, 1), 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    got = sessionize(df, gap_minutes=30).collect()
    by_idx = {r["session_idx"]: r["n_events"] for r in got}
    assert by_idx == {1: 2, 2: 1}


def test_numeric_correlations_known_values(spark):
    import math

    from weaviate_spark.operators.analytics import numeric_correlations

    # y = 2x exactly -> r = 1; z anti-correlates with x -> r = -1
    rows = [(float(x), float(2 * x), float(10 - x)) for x in range(1, 9)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {
        (r["col_a"], r["col_b"]): r["pearson_r"]
        for r in numeric_correlations(df, ["x", "y", "z"]).collect()
    }
    assert got[("x", "y")] == 1.0
    assert got[("x", "z")] == -1.0
    assert got[("y", "z")] == -1.0

    # against numpy on a non-degenerate case (2dp inputs)
    import numpy as np

    xs = [1.25, 2.5, 2.75, 4.0, 5.5, 5.75, 7.25, 9.0]
    ys = [2.0, 1.75, 3.5, 3.25, 5.0, 6.25, 6.0, 8.5]
    df2 = spark.createDataFrame(list(zip(xs, ys)), "a double, b double")
    r = numeric_correlations(df2, ["a", "b"]).collect()[0]["pearson_r"]
    expect = np.corrcoef(xs, ys)[0, 1]
    assert math.isclose(r, round(expect, 6), abs_tol=1e-6)


def test_ols_trend_exact_line(spark):
    from datetime import datetime

    from weaviate_spark.operators.analytics import ols_trend_forecast

    # value = 100 + 10*day_offset exactly -> slope 10, intercept 100
    rows = [
        ("g", datetime(2024, 1, 1 + d), 100.0 + 10.0 * d) for d in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, d timestamp_ntz, v double")
    out = ols_trend_forecast(df, "g", "d", "v", horizon_days=7).collect()[0]
    assert out["slope"] == 10.0
    assert out["intercept"] == 100.0
    assert out["n_days"] == 5
    # forecast at x = 4 + 7 = 11 -> 100 + 110 = 210
    assert out["forecast_value"] == 210.0
    assert str(out["forecast_date"]) == "2024-01-12"


def test_validate_expectations_counts(spark):
    from weaviate_spark.operators.analytics import validate_expectations

    df = spark.createDataFrame(
        [(1, "A"), (2, None), (-3, "B"), (4, "ZZ")], "k int, s string"
    )
    rules = [
        ("k_positive", "k > 0"),
        ("s_not_null", "s IS NOT NULL"),
        ("s_single_char", "length(s) = 1"),
    ]
    got = {r["rule"]: r for r in validate_expectations(df, rules).collect()}
    assert got["k_positive"]["n_violations"] == 1
    assert got["k_positive"]["passed"] is False
    assert got["s_not_null"]["n_violations"] == 1
    # NULL predicate result counts as a violation (strict 3VL fold)
    assert got["s_single_char"]["n_violations"] == 2
    assert got["s_single_char"]["violation_frac"] == 0.5


def test_kcore_hand_graph(spark):
    from weaviate_spark.operators.graph import kcore_peel

    # triangle 1-2-3 (2-core) + pendant 4 hanging off 1
    edges = [(1, 2), (2, 3), (1, 3), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"] for r in kcore_peel(df, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}

    # k=3: nothing survives (triangle degrees are 2)
    assert kcore_peel(df, k=3, rounds=4).count() == 0


def test_kcore_trade_fixpoint(spark, sf_dir):
    """8 rounds is a fixpoint for the registered corpus query: one
    more round changes nothing."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from weaviate_spark.operators.graph import kcore_peel

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    # k scaled to the test fixture's sf (the registered query's k=25
    # matches sf0.01+; at the fixture's sf0.001 the degrees are ~10)
    r8 = {(r["node"], r["degree"]) for r in kcore_peel(edges, k=8, rounds=8).collect()}
    r9 = {(r["node"], r["degree"]) for r in kcore_peel(edges, k=8, rounds=9).collect()}
    assert r8 == r9 and len(r8) > 0


def test_label_centroid_medoids_hand_case(spark):
    from weaviate_spark.operators.curation import label_centroid_medoids

    rows = [
        (1, [0.0, 0.0], "a"),
        (2, [2.0, 0.0], "a"),
        (3, [1.0, 0.9], "a"),   # centroid (1.0, 0.3); 3 is closest
        (4, [5.0, 5.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = {r["label"]: r for r in label_centroid_medoids(df, "vec_id", "embedding", "label").collect()}
    assert got["a"]["n_vecs"] == 3
    assert got["a"]["medoid_id"] == 3
    assert got["a"]["medoid_distance"] == 0.6
    assert got["b"]["medoid_id"] == 4
    assert got["b"]["medoid_distance"] == 0.0
    import math
    assert got["b"]["centroid_norm"] == round(math.sqrt(50.0), 6)


def test_near_vector_batch_matches_per_query(spark, sf_dir):
    from pyspark.sql import functions as F
    from weaviate_spark.functions.distance import cosine_distance
    from weaviate_spark.operators.vector import near_vector_batch
    from weaviate_spark.entry_queries import QVEC_BATCH

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = near_vector_batch(
        emb, "vec_id", "embedding", list(enumerate(QVEC_BATCH[:2])), k=5
    ).collect()
    for qid, qv in enumerate(QVEC_BATCH[:2]):
        single = (
            emb.withColumn(
                "_d",
                F.round(
                    cosine_distance(
                        F.col("embedding"),
                        F.array(*[F.lit(float(x)) for x in qv]),
                    ),
                    6,
                ),
            )
            .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
            .limit(5)
            .collect()
        )
        got = sorted(
            [(r["vec_id"], r["_distance"]) for r in batch if r["query_id"] == qid]
        )
        want = sorted([(r["vec_id"], r["_d"]) for r in single])
        assert got == want


def test_ohlc_daily_hand_case(spark):
    from datetime import datetime

    from weaviate_spark.operators.analytics import ohlc_daily

    rows = [
        (1, datetime(2024, 3, 1, 9, 0, 0), 1, "buy", 10.0),
        (2, datetime(2024, 3, 1, 12, 0, 0), 1, "buy", 30.0),
        (3, datetime(2024, 3, 1, 16, 0, 0), 1, "buy", 20.0),
        # equal-ts tie: event 5 has the higher id -> it is the close
        (4, datetime(2024, 3, 2, 9, 0, 0), 1, "buy", 5.0),
        (5, datetime(2024, 3, 2, 9, 0, 0), 1, "buy", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    got = {str(r["day"]): r for r in ohlc_daily(df).collect()}
    d1 = got["2024-03-01"]
    assert (d1["open"], d1["high"], d1["low"], d1["close"]) == (10.0, 30.0, 10.0, 20.0)
    assert d1["n_events"] == 3 and d1["total_value"] == 60.0
    d2 = got["2024-03-02"]
    assert (d2["open"], d2["close"]) == (5.0, 7.0)


def test_leakage_safe_split_components_stay_together(spark):
    from weaviate_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # components {1,2,3} and {5,6}; 4 and 7 are singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = leakage_safe_split(docs, "doc_id", pairs, val_fraction=0.5).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 7
    # every member of a component shares cluster and split
    for comp in ([1, 2, 3], [5, 6]):
        assert len({by_id[i]["cluster_id"] for i in comp}) == 1
        assert len({by_id[i]["split"] for i in comp}) == 1
    assert by_id[4]["cluster_id"] == 4
    assert by_id[7]["cluster_id"] == 7


def test_mad_outliers_hand_case(spark):
    from weaviate_spark.operators.analytics import mad_outlier_profile

    # group 'a': values 1..9 plus a wild 1000 -> median 5.5 of the 10,
    # MAD = median(|x-5.5|) over {4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,994.5} = 2.5
    # modified z of 1000 = 0.6745*994.5/2.5 ~ 268 -> 1 outlier
    rows = [("a", float(v)) for v in range(1, 10)] + [("a", 1000.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outlier_profile(df, "g", "v").collect()[0]
    assert out["median_value"] == 5.5
    assert out["mad"] == 2.5
    assert out["n_outliers"] == 1
    assert out["outlier_share"] == 0.1


def test_mad_outliers_zero_mad_group(spark):
    from weaviate_spark.operators.analytics import mad_outlier_profile

    # constant group: MAD = 0 -> no outliers flagged (guard, no div-by-0)
    df = spark.createDataFrame(
        [("c", 7.0)] * 5, "g string, v double"
    )
    out = mad_outlier_profile(df, "g", "v").collect()[0]
    assert out["mad"] == 0.0 and out["n_outliers"] == 0


def test_poisson_bootstrap_deterministic_and_sane(spark):
    from weaviate_spark.operators.analytics import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [("g", i, float(100 + (i % 7))) for i in range(200)],
        "g string, i long, v double",
    )
    a = poisson_bootstrap_ci(df, "g", "v", "i", replicates=20).collect()[0]
    b = poisson_bootstrap_ci(
        df.repartition(13), "g", "v", "i", replicates=20
    ).collect()[0]
    # deterministic under repartitioning (md5 uniforms + DECIMAL sums)
    assert a == b
    assert a["n_replicates"] == 20
    # CI brackets the true mean and is ordered
    assert a["ci_lo"] <= a["boot_median"] <= a["ci_hi"]
    assert a["ci_lo"] <= 103.1 <= a["ci_hi"] or a["ci_hi"] - a["ci_lo"] < 2.0


def test_assortativity_hand_graph(spark):
    from weaviate_spark.operators.graph import degree_assortativity_exact

    # star: hub -> 3 leaves. out-deg(hub)=3 on every edge; in-deg(leaf)=1
    # -> x constant -> r undefined (NULL variance); use a mixed graph
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 12)], "src int, dst int"
    )
    row = degree_assortativity_exact(edges, "src", "dst").collect()[0]
    assert row["n_edges"] == 4 and row["n_nodes"] == 6
    # per-edge x = (2,2,1,1), y = (2,1,2,1): n*Sxy - Sx*Sy = 4*9 - 36 = 0
    assert row["assortativity"] == 0.0


def test_containment_subset_doc(spark):
    from weaviate_spark.operators.dedup import containment_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )
    out = containment_pairs(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=8,
        threshold=0.9,
    ).collect()
    pairs = {(r["src_id"], r["dst_id"]): r["containment"] for r in out}
    # doc 1 fully contained in doc 2; reverse direction under threshold
    assert pairs.get((1, 2)) == 1.0
    assert (2, 1) not in pairs and (3, 1) not in pairs and (1, 3) not in pairs


def test_cusum_detects_level_shift(spark):
    from weaviate_spark.operators.analytics import cusum_changepoints
    import datetime

    # 10 days at 10.0, then 10 days at 20.0 -> changepoint at the last
    # low day boundary; max S+ is the peak cumulative positive drift
    rows = []
    for d in range(20):
        day = datetime.datetime(2024, 3, 1 + d)
        val = 10.0 if d < 10 else 20.0
        rows += [("a", day, val), ("a", day, val)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = cusum_changepoints(df, "g", "ts", "v").collect()[0]
    assert out["n_days"] == 20
    assert out["mu"] == 15.0
    # S+ peaks on the final day: sum of (20-15)*10 = 50
    assert out["max_s_pos"] == 50.0
    assert out["max_s_neg"] == 50.0
    assert out["changepoint_day"] == datetime.date(2024, 3, 20)


def test_roc_auc_hand_cases(spark):
    from weaviate_spark.operators.analytics import roc_auc
    from pyspark.sql import functions as F

    # perfect separation -> 1.0
    df = spark.createDataFrame(
        [(1.0, False), (2.0, False), (3.0, True), (4.0, True)],
        "s double, y boolean",
    )
    assert roc_auc(df, "s", "y").collect()[0]["auc"] == 1.0
    # all scores tied -> 0.5 exactly (average ranks)
    tied = spark.createDataFrame(
        [(5.0, True), (5.0, False), (5.0, True), (5.0, False)],
        "s double, y boolean",
    )
    assert roc_auc(tied, "s", "y").collect()[0]["auc"] == 0.5
    # anti-predictive -> 0.0
    inv = spark.createDataFrame(
        [(4.0, False), (3.0, False), (2.0, True), (1.0, True)],
        "s double, y boolean",
    )
    row = roc_auc(inv, "s", F.col("y")).collect()[0]
    assert row["auc"] == 0.0 and row["n_pos"] == 2 and row["n_neg"] == 2


def test_kmeans_deterministic_and_separates(spark):
    from weaviate_spark.operators.curation import kmeans_clusters

    # two tight blobs far apart; k=2 must recover them exactly
    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)]
    rows += [(100 + i, [50.0 + i * 0.01, 50.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_clusters(df, "vec_id", "embedding", k=2, iterations=3)
    got = {r["cluster_id"]: r for r in out.collect()}
    assert len(got) == 2
    assert sorted(r["n_members"] for r in got.values()) == [10, 10]
    # deterministic under repartitioning
    again = kmeans_clusters(
        df.repartition(7), "vec_id", "embedding", k=2, iterations=3
    ).collect()
    assert {r["cluster_id"]: r for r in again} == got


def test_gini_extremes(spark):
    from weaviate_spark.operators.analytics import gini_coefficient

    # perfectly equal -> 0
    eq = spark.createDataFrame(
        [(i, 10.0) for i in range(5)], "k long, x double"
    )
    assert gini_coefficient(eq, "x", "k").collect()[0]["gini"] == 0.0
    # one entity owns everything among n=4: G = (n-1)/n = 0.75
    conc = spark.createDataFrame(
        [(1, 0.0), (2, 0.0), (3, 0.0), (4, 100.0)], "k long, x double"
    )
    row = gini_coefficient(conc, "x", "k").collect()[0]
    assert row["gini"] == 0.75 and row["total_value"] == 100.0


def test_quantile_bins_balanced(spark):
    from weaviate_spark.operators.analytics import quantile_bins

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    out = {r["bin"]: r for r in quantile_bins(df, "v", ["id"], 10).collect()}
    assert len(out) == 10
    assert all(out[b]["n_rows"] == 10 for b in out)
    assert out[1]["lo"] == 0.0 and out[1]["hi"] == 9.0
    assert out[10]["lo"] == 90.0 and out[10]["hi"] == 99.0


def test_temporal_neighbors_bucket_edges(spark):
    import datetime

    from weaviate_spark.operators.analytics import temporal_neighbor_counts

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def t(sec):
        return base + datetime.timedelta(seconds=sec)

    left = spark.createDataFrame([(t(0),), (t(1000),)], "ts timestamp")
    # neighbors: exactly at the +/-300s boundary (inclusive), one inside,
    # one just outside, one in a different bucket but within range
    right = spark.createDataFrame(
        [(t(300),), (t(-300),), (t(5),), (t(301),), (t(-299),)],
        "ts timestamp",
    )
    out = {
        r["neighbor_count"]: r["n_left_events"]
        for r in temporal_neighbor_counts(left, right, "ts", 300).collect()
    }
    # left@0 sees 300, -300, 5, -299 -> 4; left@1000 sees none -> 0
    assert out == {4: 1, 0: 1}


def test_collocations_pmi_hand_corpus(spark):
    import math

    from weaviate_spark.operators.textstats import collocations_pmi

    # "new york" always together (5x); "the cat"/"the dog" split the
    # marginal of "the"
    docs = spark.createDataFrame(
        [(1, "new york " * 5 + "the cat " * 5 + "the dog " * 5)],
        "id long, text string",
    )
    rows = collocations_pmi(docs, "text", min_count=2, top_k=50).collect()
    by_pair = {(r["w1"], r["w2"]): r for r in rows}
    ny = by_pair[("new", "york")]
    assert ny["n_pair"] == 5
    # corpus bigram count N = 29 (one doc, 30 tokens); "new" as-first = 5,
    # "york" as-second = 5 -> PMI = ln(5*29/(5*5))
    assert ny["pmi"] == round(math.log(5 * 29 / 25), 6)
    # "the cat": c12=5, the-as-first=10, cat-as-second=5
    tc = by_pair[("the", "cat")]
    assert tc["pmi"] == round(math.log(5 * 29 / 50), 6)


def test_kaplan_meier_hand_case(spark):
    import datetime

    from weaviate_spark.operators.analytics import kaplan_meier_survival

    def t(day):
        return datetime.datetime(2024, 1, day)

    # 4 users, entry day 1. u1 purchase day 3 (dur 2), u2 purchase day 5
    # (dur 4), u3/u4 censored at horizon day 11 (dur 10)
    rows = [
        (1, t(1), "view"), (1, t(3), "purchase"),
        (2, t(1), "view"), (2, t(5), "purchase"),
        (3, t(1), "view"), (3, t(11), "view"),
        (4, t(1), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["t_days"]: r for r in kaplan_meier_survival(
        df, "user_id", "ts", "event_type", "purchase").collect()}
    assert set(out) == {2, 4}
    # day 2: n=4, d=1 -> S=0.75 ; day 4: n=3, d=1 -> S=0.75*(2/3)=0.5
    assert out[2]["n_at_risk"] == 4 and out[2]["survival"] == 0.75
    assert out[4]["n_at_risk"] == 3 and out[4]["survival"] == 0.5


def test_kaplan_meier_terminal_zero(spark):
    import datetime

    from weaviate_spark.operators.analytics import kaplan_meier_survival

    def t(day):
        return datetime.datetime(2024, 2, day)

    # both subjects purchase on the SAME final day -> survival hits 0,
    # must not NULL out via log(0)
    rows = [
        (1, t(1), "view"), (1, t(4), "purchase"),
        (2, t(1), "view"), (2, t(4), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = kaplan_meier_survival(df, "user_id", "ts", "event_type", "purchase").collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 2 and out[0]["survival"] == 0.0


def test_calibration_bins_exact(spark):
    from weaviate_spark.operators.analytics import calibration_bins

    rows = [(0.05, True), (0.05, False), (0.15, True), (0.95, False),
            (1.2, True), (-0.1, False)]  # last two out of [0,1) -> dropped
    df = spark.createDataFrame(rows, "p double, y boolean")
    out = {r["bin"]: r for r in calibration_bins(df, "p", "y").collect()}
    assert set(out) == {0, 1, 9}
    assert out[0]["n_rows"] == 2 and out[0]["pos_rate"] == 0.5
    assert out[0]["mean_score"] == 0.05
    assert out[1]["pos_rate"] == 1.0 and out[9]["pos_rate"] == 0.0


def test_psi_no_drift_is_zero(spark):
    from weaviate_spark.operators.analytics import psi_drift

    a = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    out = psi_drift(a, a, "v", n_bins=10).collect()
    assert len(out) == 10
    assert all(r["psi_term"] == 0.0 for r in out)
    assert all(r["n_a"] == r["n_b"] for r in out)


def test_trimmed_mean_hand_case(spark):
    from weaviate_spark.operators.analytics import trimmed_mean

    # 1..20 -> k = floor(20*0.1) = 2 each side -> mean of 3..18 = 10.5;
    # the NULL group is its own group, as under GROUP BY / PARTITION BY
    df = spark.createDataFrame(
        [(g, float(i), i + off) for g, off in (("a", 0), (None, 100))
         for i in range(1, 21)],
        "g string, v double, id long",
    )
    out = {r["g"]: r for r in trimmed_mean(df, "g", "v", "id", trim_frac=0.1).collect()}
    assert set(out) == {"a", None}
    for row in out.values():
        assert row["n_kept"] == 16 and row["n_trimmed_each_side"] == 2
        assert row["trimmed_mean"] == 10.5
    # degenerate frac validation
    import pytest as _pt
    with _pt.raises(ValueError):
        trimmed_mean(df, "g", "v", "id", trim_frac=0.5)


def test_chisq_independent_is_zero(spark):
    from weaviate_spark.operators.analytics import chisq_independence

    # perfectly independent 2x2 with equal cells -> chi2 = 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(10)]
    df = spark.createDataFrame(rows, "a string, b string")
    out = chisq_independence(df, "a", "b").collect()[0]
    assert out["chi2"] == 0.0 and out["dof"] == 1 and out["n_rows"] == 40
    # perfectly dependent: a == b mapping -> chi2 = n, cramers_v = 1
    dep = spark.createDataFrame(
        [("x", "u")] * 10 + [("y", "v")] * 10, "a string, b string"
    )
    d = chisq_independence(dep, "a", "b").collect()[0]
    assert d["chi2"] == 20.0 and d["cramers_v"] == 1.0


def test_rolling_features_support_and_mean(spark):
    import datetime

    from weaviate_spark.operators.analytics import rolling_daily_features

    rows = [
        ("a", datetime.datetime(2024, 1, d), float(d)) for d in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["day"].day: r for r in rolling_daily_features(
        df, "g", "ts", "v", window_days=3).collect()}
    assert out[1]["window_support"] == 1 and out[1]["rolling_mean"] == 1.0
    assert out[3]["window_support"] == 3 and out[3]["rolling_mean"] == 2.0
    assert out[10]["window_support"] == 3 and out[10]["rolling_mean"] == 9.0
    assert out[1]["rolling_std"] == 0.0


def test_benford_digit_extraction_edges(spark):
    from weaviate_spark.operators.analytics import benford_first_digit

    # exact powers of 10 and sub-1 values hit the right digit buckets
    df = spark.createDataFrame(
        [(1000.0,), (0.02,), (999.99,), (0.5,), (-3.0,), (0.0,)],
        "v double",
    )
    out = {r["digit"]: r["n"] for r in benford_first_digit(df, "v").collect()}
    # -3 and 0 dropped; 1000 -> 1, 0.02 -> 2, 999.99 -> 9, 0.5 -> 5
    assert out == {1: 1, 2: 1, 9: 1, 5: 1}


def test_dow_seasonality_index(spark):
    import datetime

    from weaviate_spark.operators.analytics import dow_seasonality

    # Mondays value 20, Tuesdays value 10 -> overall mean 15,
    # indexes 4/3 and 2/3
    rows = []
    for wk in range(3):
        rows.append(("a", datetime.datetime(2024, 1, 1 + 7 * wk), 20.0))
        rows.append(("a", datetime.datetime(2024, 1, 2 + 7 * wk), 10.0))
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["iso_dow"]: r for r in dow_seasonality(df, "g", "ts", "v").collect()}
    assert set(out) == {1, 2}
    assert out[1]["dow_mean"] == 20.0 and out[2]["dow_mean"] == 10.0
    assert out[1]["seasonal_index"] == round(20 / 15, 6)
    assert out[2]["seasonal_index"] == round(10 / 15, 6)


def test_referential_integrity_counts_orphans(spark):
    from weaviate_spark.operators.analytics import referential_integrity

    child = spark.createDataFrame([(1,), (2,), (9,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    out = referential_integrity([("c->p", child, "fk", parent, "pk")]).collect()
    assert out[0]["relation"] == "c->p"
    assert out[0]["n_rows"] == 3 and out[0]["n_orphans"] == 1


def test_top_paths_ordering_and_completeness(spark):
    import datetime

    from weaviate_spark.operators.analytics import top_event_paths

    def t(m):
        return datetime.datetime(2024, 1, 1, 0, m)

    # user 1: a,b,c,d -> paths a>b>c, b>c>d ; user 2: a,b,c -> a>b>c
    rows = [
        (1, t(1), 1, "a"), (1, t(2), 2, "b"), (1, t(3), 3, "c"), (1, t(4), 4, "d"),
        (2, t(1), 5, "a"), (2, t(2), 6, "b"), (2, t(3), 7, "c"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, i long, e string")
    out = top_event_paths(df, "u", "ts", "e", "i").collect()
    assert out[0]["path"] == "a>b>c" and out[0]["n"] == 2
    assert out[1]["path"] == "b>c>d" and out[1]["n"] == 1


def test_two_proportion_z_hand_case(spark):
    import math

    from weaviate_spark.operators.analytics import two_proportion_ztest

    a = spark.createDataFrame([(True,)] * 30 + [(False,)] * 70, "s boolean")
    b = spark.createDataFrame([(True,)] * 20 + [(False,)] * 80, "s boolean")
    row = two_proportion_ztest(a, b, "s").collect()[0]
    assert (row["n_a"], row["x_a"], row["n_b"], row["x_b"]) == (100, 30, 100, 20)
    pool = 50 / 200
    z = (0.3 - 0.2) / math.sqrt(pool * (1 - pool) * (1 / 100 + 1 / 100))
    assert row["z_score"] == round(z, 6)


def test_pca_recovers_dominant_axis(spark):
    from weaviate_spark.operators.curation import pca_top_component

    # vectors stretched along dim 2: dominant eigenvector ~ e2
    rows = [(i, [0.1 * (i % 3), 0.1, 10.0 + i * 0.01]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r for r in pca_top_component(
        df, "vec_id", "embedding", iterations=5).collect()}
    loads = [abs(out[d]["loading"]) for d in range(3)]
    assert loads[2] > 0.99 and loads[0] < 0.1 and loads[1] < 0.1
    assert out[0]["eigenvalue"] > 0


def test_pca_null_and_ragged_elements_are_zeros(spark):
    """The SQL oracle sums the (i, j) products that exist: a NULL
    element and a missing trailing element both contribute nothing, and
    d is the longest vector. The kernel must give the rows of the
    explicit-zero input for both."""
    from weaviate_spark.operators.curation import pca_top_component

    def top(rows):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        return sorted(tuple(r) for r in pca_top_component(
            df, "vec_id", "embedding", iterations=5).collect())

    rows = [(i, [0.1 * (i % 3), 0.1, 10.0 + i * 0.01]) for i in range(20)]
    zeroed = [(i, [0.0, v[1], v[2]] if i == 4 else v) for i, v in rows]
    nulled = [(i, [None, v[1], v[2]] if i == 4 else v) for i, v in rows]
    assert top(nulled) == top(zeroed)
    padded = [(i, v[:2] + [0.0] if i % 5 == 0 else v) for i, v in rows]
    ragged = [(i, v[:2] if i % 5 == 0 else v) for i, v in rows]
    assert top(ragged) == top(padded)


def test_lag_correlation_shifted_series(spark):
    import datetime

    from weaviate_spark.operators.analytics import lag_correlation

    # series b = series a shifted forward 2 days -> corr 1.0 at lag +2
    rows = []
    for d in range(10):
        v = float((d * 37) % 11)
        rows.append(("a", datetime.datetime(2024, 1, 1 + d), v))
        rows.append(("b", datetime.datetime(2024, 1, 3 + d), v))
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["lag_days"]: r for r in lag_correlation(
        df, "g", "ts", "v", "a", "b", max_lag=3).collect()}
    assert out[2]["corr"] == 1.0 and out[2]["n_days"] == 10


def test_order_reconciliation_flags_mismatch(spark):
    from weaviate_spark.operators.analytics import order_total_reconciliation

    orders = spark.createDataFrame(
        [(1, "O", 110.0), (2, "O", 999.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    li = spark.createDataFrame(
        [(1, 100.0, 0.10, 0.0), (2, 100.0, 0.0, 0.0)],
        "l_orderkey long, l_extendedprice double, l_tax double, l_discount double",
    )
    row = order_total_reconciliation(orders, li).collect()[0]
    # order 1 reconciles (100*1.1=110); order 2 off by 899
    assert row["n_orders"] == 2 and row["n_mismatched"] == 1
    assert row["max_abs_diff"] == 899.0


def test_rolling_active_users_window(spark):
    import datetime

    from weaviate_spark.operators.analytics import rolling_active_users

    rows = [
        (1, datetime.datetime(2024, 1, 1)),
        (2, datetime.datetime(2024, 1, 1)),
        (1, datetime.datetime(2024, 1, 5)),
        (3, datetime.datetime(2024, 1, 10)),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = {r["day"].day: r for r in rolling_active_users(
        df, "u", "ts", window_days=7).collect()}
    # day 1: dau 2, wau 2; day 5: dau 1, wau {1,2}=2;
    # day 10: dau 1, wau {1 (from day 5), 3} = 2 (day-1 actives expired)
    assert out[1]["dau"] == 2 and out[1]["wau"] == 2
    assert out[5]["dau"] == 1 and out[5]["wau"] == 2
    assert out[10]["dau"] == 1 and out[10]["wau"] == 2


def test_interarrival_poisson_vs_regular(spark):
    import datetime

    from weaviate_spark.operators.analytics import interarrival_stats

    base = datetime.datetime(2024, 1, 1)
    # perfectly regular gaps -> cv 0, burstiness -1
    rows = [("reg", base + datetime.timedelta(seconds=10 * i), i)
            for i in range(20)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, i long")
    out = interarrival_stats(df, "g", "ts", "i").collect()[0]
    assert out["n_gaps"] == 19
    assert out["mean_gap_s"] == 10.0
    assert out["cv"] == 0.0 and out["burstiness"] == -1.0


def test_activity_streaks_islands(spark):
    import datetime

    from weaviate_spark.operators.analytics import activity_streaks

    def t(day):
        return datetime.datetime(2024, 1, day)

    # user 1: days 1,2,3 then 5,6 -> streaks 3 and 2
    # user 2: day 4 only -> streak 1
    rows = [(1, t(1)), (1, t(2)), (1, t(3)), (1, t(5)), (1, t(6)), (2, t(4)),
            (1, t(1))]  # duplicate same-day event must not break runs
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = {r["streak_days"]: r for r in activity_streaks(df, "u", "ts").collect()}
    assert out[3]["n_streaks"] == 1 and out[3]["n_users"] == 1
    assert out[2]["n_streaks"] == 1
    assert out[1]["n_streaks"] == 1 and out[1]["n_users"] == 1


def test_langid_confusion_shares(spark):
    from weaviate_spark.operators.textstats import langid_confusion

    docs = spark.createDataFrame(
        [
            (1, "the and is of quality data with the features", "en"),
            (2, "the and is with more of the data", "en"),
            (3, "der und die das ist mit von", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {(r["actual"], r["predicted"]): r for r in
           langid_confusion(docs, "text", "lang").collect()}
    assert out[("en", "en")]["n"] == 2
    assert out[("en", "en")]["share_of_actual"] == 1.0
    assert out[("de", "de")]["n"] == 1


# ---------------------------------------------------------------------------
# Welch t-test / KS two-sample / RFM segmentation


def test_welch_ttest_known_values(spark):
    """a=[1,2,3,4] vs b=[2,4,6,8,10]: hand-derived Welch t and df."""
    from weaviate_spark.operators.analytics import welch_ttest

    rows = [("a", float(v)) for v in [1, 2, 3, 4]] + [
        ("b", float(v)) for v in [2, 4, 6, 8, 10]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert (out["n_a"], out["n_b"]) == (4, 5)
    assert out["mean_a"] == 2.5 and out["mean_b"] == 6.0
    assert out["t_stat"] == -2.251436
    assert out["welch_df"] == 5.520788


def test_ks_two_sample_exact_argmax(spark):
    """a={1,2,3}, b={2,3,4}: D = 1/3, achieved first at the smallest
    value (deterministic tie-break at v=1)."""
    from weaviate_spark.operators.analytics import ks_two_sample

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert (out["n_a"], out["n_b"]) == (3, 3)
    assert out["ks_stat"] == 0.333333
    assert out["at_value"] == 1.0


def test_ks_identical_distributions_zero(spark):
    from weaviate_spark.operators.analytics import ks_two_sample

    rows = [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert out["ks_stat"] == 0.0


def test_rfm_segments_bins_and_cube(spark):
    """5 customers, one clear best (recent + frequent + big spend) and
    one clear worst; bins=5 puts them at (5,5,5) and (1,1,1)."""
    from weaviate_spark.operators.analytics import rfm_segments

    rows = []
    # customer c: c orders, latest day c, each order value 100*c
    for c in range(1, 6):
        for i in range(c):
            rows.append((c, datetime.datetime(2024, 1, c - i or 1), 100.0 * c))
    df = spark.createDataFrame(rows, "cust long, ts timestamp, amt double")
    out = rfm_segments(df, "cust", "ts", "amt", bins=5)
    got = {(r["r_bin"], r["f_bin"], r["m_bin"]): r["n_customers"]
           for r in out.collect()}
    assert sum(got.values()) == 5
    assert got.get((5, 5, 5)) == 1  # customer 5: most recent/frequent/spend
    assert got.get((1, 1, 1)) == 1  # customer 1
    total_rows = out.count()
    assert total_rows <= 125  # bounded segment cube


def test_jaccard_link_prediction_small(spark):
    """Hubs {h1:{a,b,c}, h2:{a,b}}; true edge (a,b). Candidates are
    (a,c) and (b,c) with jaccard 1/3 each ((a,b) excluded)."""
    from weaviate_spark.operators.graph import jaccard_link_prediction

    wedge = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b")],
        "h long, n string",
    )
    true_e = spark.createDataFrame([("a", "b")], "x string, y string")
    out = jaccard_link_prediction(wedge, true_e, top_k=10).collect()
    got = {(r["node_a"], r["node_b"]): (r["common_hubs"], r["union_hubs"],
                                        r["jaccard"]) for r in out}
    assert got == {("a", "c"): (1, 2, 0.5), ("b", "c"): (1, 2, 0.5)}


def test_silhouette_separated_and_confused(spark):
    """Two tight, well-separated 1-hot clusters give silhouette ~1;
    a point placed AT the other centroid scores negative."""
    from weaviate_spark.operators.curation import silhouette_by_label

    rows = [
        (1, [0.0, 0.0], 0), (2, [0.0, 0.2], 0),
        (3, [10.0, 0.0], 1), (4, [10.0, 0.2], 1),
        (5, [10.0, 0.1], 0),  # labeled 0 but sits in cluster 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in
           silhouette_by_label(df, "vec_id", "embedding", "label").collect()}
    assert out[1]["n_vecs"] == 2 and out[1]["mean_silhouette"] > 0.9
    assert out[0]["n_vecs"] == 3 and out[0]["n_negative"] == 1


def test_embedding_dim_profile_exact(spark):
    from weaviate_spark.operators.curation import embedding_dim_profile

    df = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [3.0, -4.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["dim"]: r for r in embedding_dim_profile(df, "embedding").collect()}
    assert out[0]["n"] == 2 and out[0]["mean"] == 2.0
    assert out[0]["std"] == 1.414214  # sqrt(2) at 6dp
    assert out[1]["min_val"] == -4.0 and out[1]["max_val"] == -2.0


def test_clustering_coefficient_triangle_plus_pendant(spark):
    """Triangle 1-2-3 plus pendant 3-4: c(1)=c(2)=1, c(3)=1/3, c(4)=0."""
    from weaviate_spark.operators.graph import clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long")
    got = {r["node"]: (r["degree"], r["triangles"], r["coefficient"])
           for r in clustering_coefficient(edges).collect()}
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, 0.333333)
    assert got[4] == (1, 0, 0.0)


def test_randomization_test_separated_groups(spark):
    """a = {100,100,100}, b = {0,0,0}: obs diff 100; p-value follows
    the add-one formula and the test is deterministic."""
    from weaviate_spark.operators.analytics import randomization_test

    rows = [(i, "a", 100.0) for i in range(3)] + [
        (i + 10, "b", 0.0) for i in range(3)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    r1 = randomization_test(df, "id", "g", "v", "a", "b", reps=50).collect()[0]
    r2 = randomization_test(df, "id", "g", "v", "a", "b", reps=50).collect()[0]
    assert r1 == r2  # deterministic
    assert (r1["n_a"], r1["n_b"], r1["reps"]) == (3, 3, 50)
    assert r1["obs_diff"] == 100.0
    assert r1["p_value"] == round((r1["n_extreme"] + 1) / 51.0, 6)
    assert r1["p_value"] <= 0.5


def test_cohort_ltv_two_cohorts(spark):
    """cust 1 first orders in Jan (100 then 50 in Feb); cust 2 joins
    Feb with 200: per-cohort cumulative revenue per customer."""
    from weaviate_spark.operators.analytics import cohort_ltv

    rows = [
        (1, datetime.datetime(2024, 1, 5), 100.0),
        (1, datetime.datetime(2024, 2, 20), 50.0),
        (2, datetime.datetime(2024, 2, 1), 200.0),
    ]
    df = spark.createDataFrame(rows, "c long, ts timestamp, amt double")
    out = {(str(r["cohort_month"]), r["months_since"]):
           (r["n_customers"], r["cum_revenue"], r["ltv"])
           for r in cohort_ltv(df, "c", "ts", "amt").collect()}
    assert out[("2024-01-01", 0)] == (1, 100.0, 100.0)
    assert out[("2024-01-01", 1)] == (1, 150.0, 150.0)
    assert out[("2024-02-01", 0)] == (1, 200.0, 200.0)


def test_funnel_step_latency_first_qualifying(spark):
    """User 1 converts 90s after first signup (an earlier purchase
    BEFORE signup must not count); user 2 never converts."""
    from weaviate_spark.operators.analytics import funnel_step_latency

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0 - datetime.timedelta(seconds=60), "purchase"),
        (1, t0, "signup"),
        (1, t0 + datetime.timedelta(seconds=90), "purchase"),
        (1, t0 + datetime.timedelta(seconds=300), "purchase"),
        (2, t0, "signup"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string")
    r = funnel_step_latency(df, "u", "ts", "et", "signup", "purchase").collect()[0]
    assert (r["n_step_a_users"], r["n_converted"]) == (2, 1)
    assert r["conversion_rate"] == 0.5
    assert r["p50_delay_s"] == 90.0 and r["max_delay_s"] == 90.0


def test_concurrent_sessions_sweep_line(spark):
    """Two overlapping sessions peak at 2; a >30-min silence opens a
    new session for the same user."""
    from weaviate_spark.operators.analytics import concurrent_sessions_daily

    t = lambda h, m: datetime.datetime(2024, 3, 1, h, m)
    rows = [
        (1, t(10, 0), 1), (1, t(10, 5), 2),   # u1 session A
        (2, t(10, 3), 3),                      # u2 overlaps A
        (1, t(12, 0), 4),                      # u1 session B (gap > 30m)
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, i long")
    out = concurrent_sessions_daily(df, "u", "ts", "i", 30).collect()
    assert len(out) == 1
    r = out[0]
    assert str(r["day"]) == "2024-03-01"
    assert r["n_sessions_started"] == 3
    assert r["max_concurrent"] == 2


def test_concurrent_sessions_cross_midnight_probe(spark):
    """A session spanning midnight carries its concurrency into the
    next day via the day-start probe: day 2 has no session endpoints
    at all, yet reports max_concurrent 1 (and 0 sessions started)."""
    from weaviate_spark.operators.analytics import concurrent_sessions_daily

    rows = [
        (1, datetime.datetime(2024, 3, 1, 23, 50), 1),
        (1, datetime.datetime(2024, 3, 2, 0, 10), 2),   # same session
        (1, datetime.datetime(2024, 3, 2, 0, 15), 3),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, i long")
    out = {str(r["day"]): r
           for r in concurrent_sessions_daily(df, "u", "ts", "i", 30).collect()}
    assert out["2024-03-01"]["n_sessions_started"] == 1
    assert out["2024-03-01"]["max_concurrent"] == 1
    assert out["2024-03-02"]["n_sessions_started"] == 0
    assert out["2024-03-02"]["max_concurrent"] == 1


def test_markov_stationary_empty_chain(spark):
    """No transitions (single event per user) -> empty result frame,
    not a driver-side ZeroDivisionError."""
    from weaviate_spark.operators.analytics import markov_stationary

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), "a", 1)],
        "u long, ts timestamp, et string, i long")
    out = markov_stationary(df, "u", "ts", "et", "i", 4)
    assert out.columns == ["event_type", "stationary_prob"]
    assert out.count() == 0


def test_markov_stationary_two_state_flip(spark):
    """Deterministic a<->b chain: the stationary distribution is
    (0.5, 0.5) and the uniform start is already the fixed point."""
    from weaviate_spark.operators.analytics import markov_stationary

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(1, t0 + datetime.timedelta(minutes=i),
             "a" if i % 2 == 0 else "b", i) for i in range(6)]
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string, i long")
    got = {r["event_type"]: r["stationary_prob"]
           for r in markov_stationary(df, "u", "ts", "et", "i", 8).collect()}
    assert got == {"a": 0.5, "b": 0.5}


def test_grouped_ols_trend_exact_line(spark):
    """Group 'g' lies exactly on y = 2x + 1 (slope 2, r2 1); a
    zero-x-variance group is dropped."""
    from weaviate_spark.operators.analytics import grouped_ols_trend

    rows = [("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0),
            ("z", 4.0, 1.0), ("z", 4.0, 2.0)]
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    out = {r["grp"]: r for r in grouped_ols_trend(df, "grp", "x", "y").collect()}
    assert set(out) == {"g"}
    g = out["g"]
    assert (g["n_points"], g["slope"], g["intercept"], g["r2"]) == (3, 2.0, 1.0, 1.0)


def test_shipping_delay_exact_days(spark):
    from weaviate_spark.operators.analytics import shipping_delay_stats

    d = lambda day: datetime.datetime(2024, 1, day)
    orders = spark.createDataFrame(
        [(1, "HI", d(1)), (2, "HI", d(1))],
        "o_orderkey long, o_orderpriority string, o_orderdate timestamp")
    li = spark.createDataFrame(
        [(1, d(3)), (1, d(5)), (2, d(11))],
        "l_orderkey long, l_shipdate timestamp")
    r = shipping_delay_stats(orders, li, "o_orderpriority").collect()[0]
    assert (r["n_lines"], r["max_delay_days"]) == (3, 10)
    assert r["mean_delay_days"] == round((2 + 4 + 10) / 3, 6)
    assert r["p50_delay_days"] == 4.0


def test_supplier_scorecard_metrics(spark):
    from weaviate_spark.operators.analytics import supplier_scorecard

    li = spark.createDataFrame(
        [(1, 100.0, 0.1, "R"), (1, 200.0, 0.0, "N"),
         (2, 50.0, 0.0, "N")],
        "l_suppkey long, l_extendedprice double, l_discount double, "
        "l_returnflag string")
    sup = spark.createDataFrame([(1, "s1"), (2, "s2")],
                                "s_suppkey long, s_name string")
    out = {r["s_suppkey"]: r for r in
           supplier_scorecard(li, sup, top_k=5).collect()}
    assert out[1]["revenue"] == 290.0  # 100*0.9 + 200
    assert out[1]["return_rate"] == 0.5
    assert out[2]["n_lines"] == 1 and out[2]["return_rate"] == 0.0


def test_dormancy_reactivation_gap_rule(spark):
    """A 20-day gap is a reactivation on return day; a 3-day gap and a
    first-ever day are not."""
    from weaviate_spark.operators.analytics import dormancy_reactivations

    d = lambda day: datetime.datetime(2024, 1, day)
    rows = [(1, d(1)), (1, d(4)), (1, d(24)), (2, d(24))]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = {str(r["day"]): (r["n_active_users"], r["n_reactivated"])
           for r in dormancy_reactivations(df, "u", "ts", 14).collect()}
    assert out["2024-01-01"] == (1, 0)
    assert out["2024-01-04"] == (1, 0)
    assert out["2024-01-24"] == (2, 1)


def test_bot_profile_rules(spark):
    """User 1 bursts (2 events in a minute) -> suspect; user 2 emits
    one type only -> suspect; user 3 is organic."""
    from weaviate_spark.operators.analytics import bot_traffic_profile

    t = lambda m, s=0: datetime.datetime(2024, 1, 1, 10, m, s)
    rows = [
        (1, t(0, 1), "a"), (1, t(0, 30), "b"),
        (2, t(1), "x"), (2, t(20), "x"),
        (3, t(2), "a"), (3, t(40), "b"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string")
    out = {r["suspect"]: r["n_users"] for r in
           bot_traffic_profile(df, "u", "ts", "et", 2).collect()}
    assert out == {True: 2, False: 1}


def test_asof_forward_direction_and_tolerance(spark):
    """Forward as-of: the EARLIEST right row at-or-after the left ts;
    equal timestamps match; tolerance nulls distant matches."""
    from weaviate_spark.operators.analytics import asof_join

    left = spark.createDataFrame(
        [(1, "u", _ts(5)), (2, "u", _ts(2)), (3, "u", _ts(20))],
        "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [(10, "u", _ts(2)), (11, "u", _ts(7))],
        "rid long, k string, ts timestamp")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["rid"], right_tiebreak="rid",
                    direction="forward")
    got = {r["lid"]: r["asof_rid"] for r in out.collect()}
    assert got == {1: 11, 2: 10, 3: None}

    tight = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                      right_cols=["rid"], right_tiebreak="rid",
                      direction="forward",
                      tolerance_seconds=24 * 3600.0)
    got2 = {r["lid"]: r["asof_rid"] for r in tight.collect()}
    assert got2 == {1: None, 2: 10, 3: None}  # 5->7 is 2 days away


def test_duplicate_charge_audit_blocking(spark):
    """Same customer + same amount within the window pairs up; a
    different amount or a distant date does not."""
    from weaviate_spark.operators.analytics import duplicate_charge_audit

    d = lambda day: datetime.datetime(2024, 1, day)
    rows = [
        (1, 100.0, 11, d(1)), (1, 100.0, 12, d(3)),   # pair, gap 2
        (1, 100.0, 13, d(20)),                        # too far from both
        (1, 55.0, 14, d(1)),                          # different amount
        (2, 100.0, 15, d(1)),                         # different customer
    ]
    df = spark.createDataFrame(rows, "c long, amt double, o long, ts timestamp")
    out = duplicate_charge_audit(
        df, cust_col="c", key_col="o", ts_col="ts", amount_col="amt",
        window_days=7).collect()
    assert [(r["order_a"], r["order_b"], r["day_gap"]) for r in out] == [
        (11, 12, 2)]


def test_price_outliers_by_group_exact_z(spark):
    """Group with one far point: z of the outlier exceeds threshold;
    a zero-variance group emits nothing."""
    from weaviate_spark.operators.analytics import price_outliers_by_group

    rows = [("b1", 1, 10.0), ("b1", 2, 10.0), ("b1", 3, 10.0),
            ("b1", 4, 10.0), ("b1", 5, 30.0),
            ("b2", 6, 7.0), ("b2", 7, 7.0)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = price_outliers_by_group(df, "g", "id", "v", 1.6).collect()
    assert [(r["g"], r["id"]) for r in out] == [("b1", 5)]
    assert out[0]["zscore"] > 1.6
