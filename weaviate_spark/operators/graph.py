"""Graph analytics over reference/edge tables: weighted PageRank.

The reference's data model is a reference GRAPH (beacons between
classes, entities/models/references.go); its query layer only ever
walks it (resolve/filter hops). For the analytics/training-pipeline
workloads this engine targets, graph centrality over those edges is
the missing aggregate: which entities does the corpus's link mass
concentrate on (domain authority for crawl curation, entity salience
for dataset balancing).

``pagerank`` is the standard damped power iteration expressed as
DataFrame joins — the Pregel superstep pattern:

* edge normalization once: out-weight sums, transition probability
  p(u→v) = w(u,v) / Σ_v w(u,v), plus one VIRTUAL edge (u→NULL, p=1)
  per dangling node so the dangling mass falls out of the same
  aggregation as the contributions;
* per iteration: one join of ranks to the transition table on the
  source key + one groupBy on the destination key (both map-side
  combined, co-keyed across iterations so AQE reuses exchanges); the
  NULL-destination group IS the dangling mass, broadcast back as a
  1-row scalar; the node count is a one-time collected scalar;
* ``localCheckpoint`` of the contribution frame each superstep
  truncates the lineage — the iterative-plan idiom that keeps plan
  size O(1) in iterations.

Determinism: ranks are pure functions of the edge multiset; float
summation order varies with partitioning but stays ~1e-15 relative,
well inside the 6dp oracle rounding. The DuckDB oracle unrolls the
same fixed number of iterations as chained CTEs — genuinely
independent evaluation of the same recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weaviate_spark.cache import (
    checkpoint_rdd_ids, local_df, register_cache, register_checkpoint, release_checkpoint,
)


def _persistent_rdd_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _eager_local_checkpoint(df: DataFrame, storage_level=None) -> DataFrame:
    """``localCheckpoint(eager=True)`` that records the persistent RDD
    ids the checkpoint registered, so ``release_checkpoint`` can free
    them later (``Dataset.unpersist()`` is a no-op on checkpoints).

    The id is read off the checkpointed Dataset's analyzed plan — NOT a
    before/after diff of the persistent-RDD set, which would also
    capture a caller's lazily-cached upstream frame materializing
    inside the same eager job and later force-unpersist a cache the
    caller still owns."""
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    ck = (df.localCheckpoint(eager=True) if storage_level is None
          else df.localCheckpoint(eager=True, storageLevel=storage_level))
    try:
        ck._ckpt_rdd_ids = checkpoint_rdd_ids(ck)
    except Exception:
        # fallback: the diff (over-approximate, but never empty)
        ck._ckpt_rdd_ids = _persistent_rdd_ids(spark) - before
    return ck


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(node, pagerank) after ``iterations`` damped power steps.

    Handles parallel edges (summed), weighted edges, and dangling
    nodes (mass redistributed uniformly each step, the standard
    convention). Ranks sum to 1 at every step.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    # NULL endpoints are dropped up front: a real edge with a NULL
    # destination would otherwise be indistinguishable from the virtual
    # dangling-mass sentinel below (its mass silently redistributed),
    # and a NULL source/destination would land in `nodes` as a
    # rank-bearing node whose own mass leaks (NULL keys never join).
    e = (
        edges.select(
            F.col(src).alias("_s"), F.col(dst).alias("_d"), w.alias("_w")
        )
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .groupBy("_s", "_d")
        .agg(F.sum("_w").alias("_w"))
    )
    nodes = register_cache(
        e.select(F.col("_s").alias("_n"))
        .union(e.select(F.col("_d")))
        .distinct()
        .cache()
    )
    out = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    # Transition table AUGMENTED with one virtual edge per dangling node
    # (no out-edges): (_s=u, _d=NULL, _p=1.0). The per-iteration contrib
    # aggregation then collects the dangling rank mass in the SAME
    # shuffle as the real contributions (the NULL destination group) —
    # the separate dangling-nodes join + O(nodes) aggregate job per
    # iteration is gone (guide §2.4). _p=1.0 keeps the summed values
    # bit-identical (1.0 * r = r); only the float sum ORDER moves, which
    # the module docstring already documents as partitioning-dependent.
    dst_type = e.schema["_d"].dataType
    p = register_cache(
        e.join(out, "_s")
        .select("_s", "_d", (F.col("_w") / F.col("_ow")).alias("_p"))
        .union(
            nodes.join(
                out.select(F.col("_s").alias("_n")), "_n", "left_anti"
            ).select(
                F.col("_n").alias("_s"),
                F.lit(None).cast(dst_type).alias("_d"),
                F.lit(1.0).alias("_p"),
            )
        )
        .cache()
    )
    # Node count is iteration-invariant: collect the scalar ONCE instead
    # of rebuilding a 1-row broadcast per iteration (was one extra Spark
    # job per power step). Division by the same double is bit-identical
    # whether the divisor arrives as a literal or a broadcast column.
    nn = float(nodes.count())
    if nn == 0:  # empty graph: empty result (the old Spark-side 1/0
        return nodes.select(  # division yielded an empty frame too)
            F.col("_n").alias("node"), F.lit(0.0).alias("pagerank"))

    ranks = nodes.select("_n", F.lit(1.0 / nn).alias("_r"))
    base = F.lit((1.0 - damping) / nn)
    for _ in range(iterations):
        # One edges-pass shuffle produces BOTH the per-node contributions
        # (real _d groups) and the dangling mass (the _d IS NULL group).
        # Checkpointing THIS frame (node-sized) means the dangling-scalar
        # broadcast below reads the materialized result instead of
        # re-running the join — and ranks' lineage stays depth-1.
        # lazy is the right eagerness HERE: the frame is node-sized
        # and materializes inside its first consumer's job; forcing
        # eager added a materialization job per iteration and
        # measured SLOWER (43.6 -> 52.4 s at sf10 on the pre-fold
        # shape). Contrast kcore_peel/sssp, where eager measured
        # faster. register_checkpoint (vs a bare localCheckpoint)
        # records the RDD id so release_caches() frees each
        # iteration's blocks at the next query instead of leaving
        # them to the ContextCleaner.
        contrib_all = register_checkpoint(
            p.join(ranks, p["_s"] == ranks["_n"])
            .groupBy("_d")
            .agg(F.sum(F.col("_p") * F.col("_r")).alias("_c"))
        )
        dang = contrib_all.where(F.col("_d").isNull()).agg(
            F.coalesce(F.sum("_c"), F.lit(0.0)).alias("_dg")
        )
        ranks = (
            nodes.join(
                contrib_all.where(F.col("_d").isNotNull())
                .select(F.col("_d").alias("_n"), "_c"),
                "_n",
                "left",
            )
            .crossJoin(F.broadcast(dang))
            .select(
                "_n",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dg") / F.lit(nn)
                    )
                ).alias("_r"),
            )
        )
    return ranks.select(F.col("_n").alias("node"), F.col("_r").alias("pagerank"))


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, triangles): per-node triangle participation counts over the
    UNDIRECTED simple graph induced by ``edges`` (direction, weights,
    parallel edges and self-loops dropped). Nodes in no triangle are
    omitted.

    Degree-ordered orientation (the standard MapReduce triangle-count
    shape, Suri & Vassilvitskii WWW'11): every edge is oriented toward
    its higher-(degree, id) endpoint, so each triangle has exactly one
    pivot with two out-edges and is generated once. The wedge join's
    size is Σ_u outdeg(u)², and orientation bounds outdeg by O(√m) on
    any graph — O(m^1.5) total work instead of the Θ(Σ deg²) a naive
    neighbor join pays on skewed degree distributions (the hub problem
    at 100 TB). Three shuffles: degree agg, wedge self-join on the
    pivot, closing-edge join on the canonical pair.
    """
    # register_checkpoint, not register_cache(.cache()): e and oriented
    # are each referenced 2-3x downstream, and with corpus-joined
    # ``edges`` lineage the nested InMemoryRelations re-analyzed per
    # reference grew the clustering-coefficient plan to thousands of
    # printed nodes (~1s extra driver analysis per build). Checkpoints
    # are LogicalRDD leaves: one materialization, flat downstream plans.
    e = register_checkpoint(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )
    deg = (
        e.select(F.col("_a").alias("_n"))
        .union(e.select(F.col("_b")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    da = deg.select(F.col("_n").alias("_a"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("_n").alias("_b"), F.col("_deg").alias("_db"))
    # canonical edges have _a < _b, so on (deg, id) ties the id decides
    low_first = F.col("_da") <= F.col("_db")
    oriented = register_checkpoint(
        e.join(da, "_a")
        .join(db, "_b")
        .select(
            F.when(low_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
            F.when(low_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
        )
    )
    wedges = (
        oriented.select("_u", F.col("_v").alias("_x"))
        .join(oriented.select("_u", F.col("_v").alias("_y")), "_u")
        .where(F.col("_x") < F.col("_y"))
    )
    # _x < _y, so the closing edge is already in canonical form
    tri = wedges.join(
        e.select(F.col("_a").alias("_x"), F.col("_b").alias("_y")),
        ["_x", "_y"],
    )
    verts = (
        tri.select(F.col("_u").alias("_n"))
        .union(tri.select(F.col("_x")))
        .union(tri.select(F.col("_y")))
    )
    return verts.groupBy("_n").agg(
        F.count(F.lit(1)).alias("triangles")
    ).select(F.col("_n").alias("node"), "triangles")


def sssp(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "w",
    source: int | str = 0,
    iterations: int = 4,
) -> DataFrame:
    """(node, distance): single-source shortest paths after
    ``iterations`` Bellman-Ford relaxation rounds — exact once
    ``iterations`` >= the graph's hop diameter. The min-plus semiring
    sibling of ``pagerank``'s sum-times loop: per round one join of the
    tentative-distance frame to the edge table on the source key + one
    min-groupBy on the destination (both map-side combined, co-keyed
    across rounds), ``localCheckpoint`` keeping the plan O(1) in
    rounds. Unreachable nodes are absent (infinite distance)."""
    e = register_cache(
        edges.select(
            F.col(src).alias("_s"), F.col(dst).alias("_d"),
            F.col(weight_col).cast("double").alias("_w"),
        ).cache()
    )
    spark = edges.sparkSession
    dist = local_df(spark, [(source, 0.0)], "_n long, _dist double")
    for _ in range(iterations):
        relaxed = (
            dist.join(e, dist["_n"] == e["_s"])
            .select(F.col("_d").alias("_n"), (F.col("_dist") + F.col("_w")).alias("_dist"))
        )
        old = dist
        dist = _eager_local_checkpoint(
            dist.unionByName(relaxed)
            .groupBy("_n")
            .agg(F.min("_dist").alias("_dist"))
        )
        # eager checkpoint materialized -> the previous generation has
        # no consumer left; release its blocks so `iterations` rounds
        # hold 2 generations, not `iterations`. Must go through the
        # JVM (see cache.release_checkpoint) — Dataset.unpersist() silently
        # does nothing for checkpointed frames.
        release_checkpoint(old)
    return dist.select(F.col("_n").alias("node"), F.col("_dist").alias("distance"))


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree) of the k-core after ``rounds`` peeling passes:
    repeatedly drop nodes of degree < k (and their edges). Exact
    k-core once ``rounds`` >= the peel depth — each pass strictly
    shrinks the graph or is a no-op, so extra rounds are idempotent
    and a fixpoint test can pin convergence for a given corpus.

    Per round: one degree groupBy + two semi-joins pruning edges to
    surviving endpoints — all keyed on node ids, map-side combined,
    never materializing anything but the (shrinking) edge list.
    Checkpoints are EAGER: each round's edge list has two consumers
    (the degree aggregate and the semi-join prune), and a lazy
    checkpoint let the second consumer recompute the round instead of
    reusing it — measured 438 s -> 137 s at a 30M-edge graph
    (SCALE_CURVE_r08.json), flipping the sf1->sf10 grade from
    super-linear to sub-linear. The eager count also gives a free
    FIXPOINT early-exit (edge count unchanged -> done), so ``rounds``
    is a cap, not a cost. The input is treated as undirected: edges
    are symmetrized and deduplicated before the first peel.
    """
    from pyspark.storagelevel import StorageLevel

    # Checkpoint storage level is SIZE-ADAPTIVE. Each generation is
    # consumed exactly twice per round (degree agg + semi-join prune).
    # For big graphs, caching deserialized edge objects in the unified
    # pool buys those two reads but PINS up to storageFraction (50%) of
    # the pool against eviction, starving execution memory for the
    # 2x-edges distinct/groupBy shuffles — at sf10 (30M edges, 60M
    # symmetrized rows) that OOMed a 16 GiB heap even with per-round
    # release; DISK_ONLY (~1 GB/round sequential I/O) fixed it for ~9%
    # runtime (SCALE_SF10_MEM_r09.json). For small graphs the disk
    # round-trip is pure overhead (sf1 trade graph: 11.5 -> 15.9 s), so
    # below the threshold checkpoints stay memory-resident. The input
    # row count is a cheap columnless scan and an upper bound on every
    # later generation (peeling only shrinks).
    n0 = edges.count()
    _ckpt = (StorageLevel.DISK_ONLY if 2 * n0 > 20_000_000
             else StorageLevel.MEMORY_AND_DISK)
    und = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .unionByName(
            edges.select(F.col(dst).alias("_a"), F.col(src).alias("_b"))
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )
    und = _eager_local_checkpoint(und, storage_level=_ckpt)
    prev = und.count()
    for _ in range(int(rounds)):
        deg = und.groupBy("_a").agg(F.count(F.lit(1)).alias("_deg"))
        keep = deg.where(F.col("_deg") >= int(k)).select("_a")
        old = und
        und = _eager_local_checkpoint(
            und.join(keep, "_a", "left_semi")
            .join(keep.select(F.col("_a").alias("_b")), "_b", "left_semi"),
            storage_level=_ckpt,
        )
        cur = und.count()
        # the new generation is fully materialized (eager + counted);
        # the old one has no remaining consumer — drop its blocks NOW
        # via the JVM (Dataset.unpersist() is a no-op on checkpointed
        # frames; in r09 the DISK_ONLY level was what actually relieved
        # the 16 GiB sf10 heap — this release now works as the comments
        # always claimed, freeing each generation deterministically
        # instead of waiting on the ContextCleaner).
        release_checkpoint(old)
        if cur == prev:
            break  # fixpoint: further peels are no-ops
        prev = cur
    return (
        und.groupBy(F.col("_a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .where(F.col("degree") >= int(k))
    )


def degree_assortativity_exact(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Directed degree assortativity: the Pearson correlation, over
    distinct edges, between the source's out-degree and the target's
    in-degree (Newman 2002's r for the out/in flavour). r > 0 means
    hubs ship to hubs; r < 0 means hubs fan out to the periphery.

    Exact-moment formulation: the five sums (Σx, Σy, Σx², Σy², Σxy)
    are integer aggregates carried in DECIMAL(38,0) — no float
    accumulation, so the result is bit-identical regardless of
    partitioning (and matches a HUGEINT oracle); r is assembled from
    the exact moments in one final double expression.

    One row out: (n_nodes, n_edges, assortativity). Plan: distinct the
    edge list (one shuffle), two degree aggregations (shuffles on node
    id), then two equi-joins of the degree tables back onto the edges —
    each degree table is |nodes| rows, so at fact scale both joins
    broadcast; the moment sums are map-side partials.
    """
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    e = register_cache(e.cache())
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_od"))
    indeg = e.groupBy("_d").agg(F.count(F.lit(1)).alias("_id"))
    n_nodes = (
        e.select(F.col("_s").alias("_n"))
        .union(e.select(F.col("_d")))
        .distinct()
        .count()
    )
    joined = e.join(F.broadcast(outdeg), "_s").join(F.broadcast(indeg), "_d")
    dec = "decimal(38,0)"
    x = F.col("_od").cast(dec)
    y = F.col("_id").cast(dec)
    mom = joined.agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * F.col("_od")).alias("_sxx"),
        F.sum(y * F.col("_id")).alias("_syy"),
        F.sum(x * F.col("_id")).alias("_sxy"),
    )
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return mom.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.col("_n").cast("long").alias("n_edges"),
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)) + F.lit(0.0), 6).alias(
            "assortativity"
        ),
    )


def jaccard_link_prediction(
    wedge_edges: DataFrame,
    true_edges: DataFrame,
    top_k: int = 20,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Jaccard-coefficient link prediction: rank node pairs that share
    wedge neighbors but are NOT connected in ``true_edges``.
    ``wedge_edges`` is a bipartite (hub, node) incidence list (e.g.
    customer -> supplier); candidates are node pairs sharing a hub,
    scored |hubs(a) INTERSECT hubs(b)| / |hubs(a) UNION hubs(b)|;
    ``true_edges`` (_a < _b canonical) are removed — what survives is
    the "these two should be linked but aren't" ranking.

    Everything decisive is integer-exact: intersection and degree
    counts are BIGINTs, the union comes from inclusion-exclusion, the
    score is rounded to 6dp only for display with an (a, b) tie-break
    on the final sort. Scale shape: the pair generation is the wedge
    self-join keyed on the hub — cost is sum over hubs of deg(hub)^2.
    Skew guard (opt-in — the library default ``max_hub_degree=None``
    is exact; callers at scale pass an explicit cap, as the registered
    ``graph_link_prediction`` entry query does with 10_000): hubs
    touching more than ``max_hub_degree`` DISTINCT
    nodes are dropped from the incidence frame entirely (pairing AND
    degrees — the guarded graph is "the graph minus pathological
    hubs", so intersection/union stay mutually consistent), the
    fuzzy_name_pairs ``max_bucket_size`` rule: one hub session/customer
    touching 10^5 items would otherwise emit 10^10 candidate pairs,
    and a hub shared by everyone carries ~no Jaccard signal anyway.
    Deterministic — the cap is an exact degree filter, so oracles
    mirror it verbatim. Degrees broadcast (node-dimension table); no
    all-pairs anywhere.
    """
    inc = (
        wedge_edges.select(
            F.col(wedge_edges.columns[0]).alias("_h"),
            F.col(wedge_edges.columns[1]).alias("_n"),
        )
        .where(F.col("_h").isNotNull() & F.col("_n").isNotNull())
        .distinct()
    )
    if max_hub_degree is not None:
        hub_ok = (
            inc.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_hd"))
            .where(F.col("_hd") <= max_hub_degree)
            .select("_h")
        )
        inc = inc.join(hub_ok, "_h", "left_semi")
    inc = register_cache(inc.cache())
    deg = inc.groupBy("_n").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    # posting-list pair emission (the _band_candidates /
    # duplicated_substring_pairs shape) instead of a wedge self-join on
    # the hub key: one groupBy shuffle of the incidence list rather
    # than two join-side shuffles of the same cached rows, with the
    # per-hub pair fan-out identical (deg(hub)^2 either way, and a hot
    # hub concentrates on one partition under the equi-join too). inc
    # is distinct, so collect_set == the join's row set; sorted arrays
    # make i < j imply _a < _b.
    plist = (
        inc.groupBy("_h")
        .agg(F.collect_set("_n").alias("_ns"))
        .where(F.size("_ns") >= 2)
    )
    # double explode streams the deg(hub)^2 pairs row by row; building
    # the pair ARRAY in one row instead (flatten/transform/slice) was
    # measured slower — a 10k-degree hub would materialize 10^8 structs
    # in a single row buffer
    common = (
        plist.select(F.explode("_ns").alias("_a"), "_ns")
        .select("_a", F.explode("_ns").alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_hubs"))
    )
    existing = true_edges.select(
        F.col(true_edges.columns[0]).alias("_a"),
        F.col(true_edges.columns[1]).alias("_b"),
    ).distinct()
    cand = common.join(existing, ["_a", "_b"], "left_anti")
    scored = (
        cand.join(F.broadcast(deg.withColumnRenamed("_n", "_a")
                  .withColumnRenamed("_deg", "_da")), "_a")
        .join(F.broadcast(deg.withColumnRenamed("_n", "_b")
              .withColumnRenamed("_deg", "_db")), "_b")
        .select(
            "_a", "_b", "common_hubs",
            (F.col("_da") + F.col("_db") - F.col("common_hubs"))
            .cast("long").alias("union_hubs"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common_hubs").cast("double")
                / F.col("union_hubs").cast("double")
                + F.lit(0.0),
                6,
            ),
        )
    )
    return (
        scored.orderBy(
            F.col("jaccard").desc(), F.col("_a").asc(), F.col("_b").asc()
        )
        .limit(top_k)
        .select(
            F.col("_a").alias("node_a"),
            F.col("_b").alias("node_b"),
            "common_hubs",
            "union_hubs",
            "jaccard",
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, degree, triangles, coefficient): local clustering
    coefficient c(v) = 2*T(v) / (deg(v) * (deg(v) - 1)) over the
    undirected simple graph — the community-tightness probe next to
    the global triangle count. Nodes of degree < 2 get coefficient 0.

    Reuses the degree-ordered triangle_counts plan (O(m^1.5) wedge
    work, hub-safe); degrees are one extra groupBy; the division is a
    single fixed-order double expression over exact integers.

    The canonical edge list is cached ONCE here and every consumer —
    the degree aggregate's two-sided union AND triangle_counts — reads
    the cache: ``edges`` often carries a corpus-sized join lineage, and
    without the cache each of those references replays that full
    lineage (the uncached form executed the upstream corpus join 4+
    times per query)."""
    e = register_checkpoint(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )
    deg = (
        e.select(F.col("_a").alias("_n"))
        .union(e.select(F.col("_b")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # e is already canonical (_a < _b, deduped) and cached, so
    # triangle_counts' own canonicalization pass is a cheap no-op over
    # the cache instead of another corpus replay
    tri = triangle_counts(e, "_a", "_b").withColumnRenamed("node", "_n")
    j = deg.join(tri, "_n", "left").select(
        "_n",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
    )
    coeff = F.when(
        F.col("degree") < 2, F.lit(0.0)
    ).otherwise(
        F.round(
            F.lit(2.0)
            * F.col("triangles").cast("double")
            / (
                F.col("degree").cast("double")
                * (F.col("degree").cast("double") - F.lit(1.0))
            )
            + F.lit(0.0),
            6,
        )
    )
    return j.select(
        F.col("_n").alias("node"), "degree", "triangles",
        coeff.alias("coefficient"),
    )
