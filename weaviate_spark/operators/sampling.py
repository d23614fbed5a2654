"""Deterministic corpus sampling / splitting (LLM-pipeline extras;
companions to operators/dedup.py in the curation story).

Everything keys on md5(id) rather than rand(): results are reproducible
across runs, cluster sizes, and engines (the DuckDB oracle mirrors the
arithmetic bit-for-bit), and re-running a pipeline stage samples the
SAME rows — the property a 100 TB curation pipeline actually needs
(rand()-based sampling resamples on every retry/backfill).

* ``hash_sample``      — keep rows whose md5-derived uniform in [0,1)
  falls under `fraction`. Narrow, no shuffle; the expected (not exact)
  sample size is fraction*N, matching Bernoulli sampling semantics.
* ``stratified_sample`` — per-stratum fractions (dict), same hash rule;
  one narrow pass, no shuffle (fractions broadcast as a literal map).
* ``train_val_split``  — label each row train/val by the same hash;
  deterministic, disjoint, and stable under corpus growth (a row's
  split never changes when other rows are added — hash-of-id, not
  rank-based).
* ``weighted_interleave`` — deterministic source mixing: tag rows from
  N sources, keep each with its source weight; union preserves the
  expected mixing ratio without a global sort or shuffle.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 8 hex chars -> 32-bit uniform; /2^32 gives [0,1)
_DENOM = float(0x100000000)


def md5_prefix_long(key: Column, salt: str, chars: int = 8) -> Column:
    """First `chars` hex digits of md5(salt ':' key) as a BIGINT — the
    ONE home of the cross-engine hash construction (DuckDB mirror:
    ('0x' || substr(md5('salt:' || key), 1, chars))::BIGINT). Everything
    deterministic-sampling/bucketing shaped derives from this so the
    Spark/oracle parity contract lives in a single place."""
    h = F.md5(F.concat(F.lit(salt + ":"), key.cast("string")))
    return F.conv(F.substring(h, 1, chars), 16, 10).cast("long")


def _unit_hash(key: Column, salt: str) -> Column:
    """Deterministic uniform in [0,1) from md5(salt ':' key) — the same
    construction the oracle reproduces via
    ('0x' || substr(md5(...), 1, 8))::BIGINT / 4294967296.0."""
    return md5_prefix_long(key, salt).cast("double") / F.lit(_DENOM)


def unit_hash_sql(key_expr: str, salt: str) -> str:
    """DuckDB fragment computing the identical uniform."""
    return (
        f"(('0x' || substr(md5('{salt}:' || CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT"
        " / 4294967296.0)"
    )


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Bernoulli sample, deterministic in the id — narrow map, no
    shuffle, stable under reruns and cluster resizing."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(_unit_hash(F.col(id_col), salt) < F.lit(fraction))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum Bernoulli fractions (e.g. downsample dominant
    languages, keep all of rare ones). The fraction lookup compiles to a
    literal CASE — no join, no shuffle."""
    frac = F.lit(float(default_fraction))
    expr = None
    for k, v in sorted(fractions.items()):
        cond = F.col(strata_col) == F.lit(k)
        expr = F.when(cond, F.lit(float(v))) if expr is None else expr.when(cond, F.lit(float(v)))
    frac = expr.otherwise(frac) if expr is not None else frac
    return df.where(_unit_hash(F.col(id_col), salt) < frac)


def train_val_split(
    df: DataFrame, id_col: str, val_fraction: float, salt: str = "split"
) -> DataFrame:
    """Adds `_split` ('train' | 'val'): hash-of-id keyed, so a row's
    assignment is stable as the corpus grows — no leakage across
    incremental pipeline runs."""
    u = _unit_hash(F.col(id_col), salt)
    return df.withColumn(
        "_split", F.when(u < F.lit(float(val_fraction)), F.lit("val")).otherwise(F.lit("train"))
    )


def weighted_interleave(
    sources: Sequence[tuple[DataFrame, str, float]], id_col: str, salt: str = "mix"
) -> DataFrame:
    """Mix N corpora at given weights: each (df, name, weight<=1) keeps
    its hash-sampled share and is tagged `_source`. Union of narrow
    filters — the mixing ratio holds in expectation with zero shuffles,
    vs. the naive global-shuffle interleave."""
    out = None
    for src, name, w in sources:
        part = hash_sample(src, id_col, w, salt=f"{salt}:{name}").withColumn(
            "_source", F.lit(name)
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("no sources given")
    return out


def temperature_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    temperature: float,
    target_fraction: float,
    salt: str = "temp",
) -> DataFrame:
    """Exponent-smoothed domain mixture: sample so the kept corpus
    follows p_d ∝ (n_d/N)^(1/T) — the standard multilingual/domain
    rebalancing move (T>1 flattens the mixture toward rare domains,
    T=1 keeps natural proportions). `target_fraction` sets the overall
    kept share; per-domain keep rates are f_d = min(1,
    target·N·p_d/n_d), rounded to 9 decimals so the DuckDB oracle's
    float arithmetic agrees bit-for-bit at the comparison.

    Head domains can only be DOWN-sampled (Bernoulli keeps, no
    duplication), so a tail domain whose quota exceeds its size caps at
    f_d = 1 and the realized total lands slightly under target — the
    honest behavior for a dedup-style curation pass (upsampling is a
    training-loader concern, weighted_interleave's territory).

    Scale: one tiny per-domain count (catalog-statistics stand-in),
    then a narrow literal-CASE filter — the data path has no shuffle
    and no join."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if not 0.0 <= target_fraction <= 1.0:
        raise ValueError(f"target_fraction must be in [0, 1], got {target_fraction}")
    counts = {
        r[0]: r[1] for r in df.groupBy(domain_col).count().collect()
    }
    n_total = float(sum(counts.values()))
    if not n_total:
        return df
    alpha = 1.0 / float(temperature)
    # NULL domain = its own domain (sampled like any other, matched with
    # isNull below); fixed iteration order (None first, then sorted)
    # keeps the float summation deterministic across runs
    domains = sorted(counts, key=lambda d: (d is not None, d if d is not None else ""))
    weights = {d: (counts[d] / n_total) ** alpha for d in domains}
    z = sum(weights[d] for d in domains)
    fracs = {
        d: round(
            min(1.0, target_fraction * n_total * (weights[d] / z) / counts[d]), 9
        )
        for d in domains
    }
    expr = None
    for d in domains:
        cond = (
            F.col(domain_col).isNull() if d is None
            else F.col(domain_col) == F.lit(d)
        )
        fr = F.lit(fracs[d])
        expr = F.when(cond, fr) if expr is None else expr.when(cond, fr)
    return df.where(_unit_hash(F.col(id_col), salt) < expr.otherwise(F.lit(0.0)))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_buckets: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """Budget-windowed sequence chunking: documents are hash-bucketed,
    then assigned to contiguous packs per bucket by which `budget`-sized
    window of the running token sum they END in — one window pass,
    closed-form, exactly SQL-mirrorable. Pack sums average `budget` and
    are bounded by budget + max_doc_tokens - 1 (a document whose
    cumulative range straddles a boundary joins its end-side pack);
    use `pack_sequences_greedy` when the strict sum <= budget invariant
    is required. Packing parallelizes across buckets — no global
    window/single-partition bottleneck at 100 TB; `num_buckets` scales
    with the cluster.

    Adds `_bucket`, `_pack` (pack index within the bucket).
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    bucket = F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(num_buckets))
    dfb = df.withColumn("_bucket", bucket)
    w = Window.partitionBy("_bucket").orderBy(F.col(id_col).asc())
    tok = F.least(F.col(tokens_col).cast("long"), F.lit(int(budget)))
    cum = F.sum(tok).over(w)
    # pack index: which budget-multiple the running total (ending at this
    # row) first exceeds — contiguous greedy packing in one window pass
    return dfb.withColumn("_pack", ((cum - F.lit(1)) / F.lit(int(budget))).cast("long"))


def pack_sequences_greedy(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_buckets: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """TRUE greedy sequence packing: per bucket, walk documents in id
    order and open a new pack whenever the current one cannot fit the
    next document — the strict invariant pack_sum <= budget (single
    oversized documents get their own pack). The fill loop is inherently
    sequential per bucket, so it runs as applyInPandas per hash bucket:
    parallel across buckets, Arrow-batched, no driver state. Same
    output shape as `pack_sequences`.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError("budget must be positive")
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    bucket = F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(num_buckets))
    dfb = df.withColumn("_bucket", bucket)

    from pyspark.sql import types as T

    # StructType.add mutates in place — build a fresh schema
    out_schema = T.StructType(
        list(dfb.schema.fields) + [T.StructField("_pack", T.LongType())]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        packs, cur_pack, cur_sum = [], 0, 0
        for t in pdf[tokens_col]:
            t = min(int(t), budget)
            if cur_sum + t > budget and cur_sum > 0:
                cur_pack += 1
                cur_sum = 0
            cur_sum += t
            packs.append(cur_pack)
        pdf["_pack"] = pd.Series(packs, dtype="int64")
        return pdf

    return dfb.groupBy("_bucket").applyInPandas(_pack, out_schema)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsamp",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, exponential-clocks form): item i gets key
    -ln(u_i)/w_i with u_i the md5-uniform in (0,1], and the k SMALLEST
    keys win — inclusion probability proportional to weight, no
    sequential pass, no RNG state, stable under growth and partition
    count like every md5-keyed sampler here (u_i depends only on the
    item id). The quality-weighted corpus subsampling primitive (weight
    = quality score or token count).

    One narrow key map + TakeOrdered(k); ties (astronomically unlikely
    for continuous keys) break on the id. Non-positive weights are
    excluded (their key would be infinite/undefined)."""
    u = (md5_prefix_long(F.col(id_col), salt) + F.lit(1)).cast("double") / F.lit(
        4294967297.0
    )
    keyed = (
        df.where(F.col(weight_col) > 0)
        .select(
            F.col(id_col),
            F.col(weight_col).cast("double").alias("weight"),
            (-F.log(u) / F.col(weight_col).cast("double")).alias("_key"),
        )
    )
    from pyspark.sql import Window

    top = keyed.orderBy(F.col("_key").asc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("_key").asc(), F.col(id_col).asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        id_col,
        "weight",
        (F.round("_key", 6) + F.lit(0.0)).alias("sample_key"),
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    val_fraction: float,
    salt: str = "split",
) -> DataFrame:
    """Train/val split that cannot leak near-duplicates across the
    boundary: documents are first grouped into near-dup connected
    components (``pairs`` = the output of any *_pairs dedup variant),
    then the WHOLE component is assigned by the hash of its canonical
    (min) member id — a near-copy of a training document can never
    land in validation, the classic eval-contamination bug that
    per-document hashing invites.

    Returns (id, cluster_id, split). Scale shape: component formation
    is the O(log n) pointer-jumping pass (dedup.dedup_clusters);
    singleton docs skip it entirely via a left join (cluster_id
    defaults to the doc's own id); the split itself is a narrow
    md5 map on the cluster key — growth-stable, partition-invariant.
    """
    if not 0.0 <= float(val_fraction) <= 1.0:
        raise ValueError("val_fraction must be in [0, 1]")
    from weaviate_spark.operators.dedup import dedup_clusters

    clusters = dedup_clusters(pairs).select(
        F.col("doc_id").alias("_id"), F.col("cluster_id").alias("_cl")
    )
    ids = df.select(F.col(id_col).alias("_id"))
    labeled = ids.join(clusters, "_id", "left").select(
        "_id", F.coalesce("_cl", F.col("_id")).alias("_cl")
    )
    u = _unit_hash(F.col("_cl"), salt)
    return labeled.select(
        F.col("_id").alias(id_col),
        F.col("_cl").alias("cluster_id"),
        F.when(u < F.lit(float(val_fraction)), F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def training_mix_allocation(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    total_budget: int,
    salt: str = "mix",
) -> DataFrame:
    """Build a token-budgeted training mix: each group (language /
    domain) gets a budget proportional to sqrt of its token share
    (temperature-2 smoothing — heads flattened toward the tail), then
    docs are admitted in deterministic md5 order until the budget is
    spent (a doc is admitted iff the tokens BEFORE it are under
    budget, so budgets are never exceeded by more than one doc).
    Output per group: (group, group_tokens, budget_tokens,
    n_docs_selected, tokens_selected) — the mixture construction step
    between curation and packing.

    Exactness: token counts are integers; sqrt is IEEE-exact; the
    smoothed weights are fixed to 6dp DECIMAL before the exact Z sum,
    so budgets are engine-portable integers; admission is an integer
    comparison over an (md5, id)-ordered exclusive prefix sum."""
    from weaviate_spark.functions.text import tokenize

    from weaviate_spark.cache import ensure_min_partitions, register_checkpoint

    # base (scan + tokenize + count — the expensive full-text stage) and
    # the tiny per-group counts frame are each consumed by several
    # downstream plans (the w/z/budget broadcast builds re-executed the
    # whole tokenize lineage per reference: 9 corpus scans in the
    # executed plan). Checkpoint both once — tokenize runs once, the
    # scalar chain replays only a groups-sized leaf (guide §5.4).
    # CPU-heavy narrow stage over a possibly single-split local scan:
    # spread first (no-op at real scale where the scan is already wide)
    df = ensure_min_partitions(df)
    base = register_checkpoint(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(group_col).alias("_g"),
            F.size(tokenize(F.col(text_col), "word")).cast("long").alias("_tok"),
            _unit_hash(F.col(id_col), salt).alias("_h"),
        ).where(F.col("_g").isNotNull())
    )
    counts = register_checkpoint(
        base.groupBy("_g").agg(F.sum("_tok").alias("_n")))
    tot = counts.agg(F.sum("_n").alias("_nn"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "_g",
        "_n",
        F.round(
            F.sqrt(F.col("_n").cast("double") / F.col("_nn").cast("double")),
            6,
        )
        .cast("decimal(10,6)")
        .alias("_w"),
    )
    z = w.agg(F.sum("_w").alias("_z"))
    budgets = w.crossJoin(F.broadcast(z)).select(
        "_g",
        F.col("_n").cast("long").alias("group_tokens"),
        F.floor(
            F.lit(float(total_budget))
            * F.col("_w").cast("double")
            / F.col("_z").cast("double")
        )
        .cast("long")
        .alias("budget_tokens"),
    )
    # Per-group admission order is (unit hash asc, id asc); the exclusive
    # token prefix sum ran as ONE task per group
    # (Window.partitionBy(group) with an unbounded frame) — with a few
    # giant groups (languages) that caps the stage's parallelism at the
    # group count at ANY scale. bucketed_running with group_cols runs
    # the sum per (group, hash-bucket) and adds per-group bucket offsets
    # back — long sums are exact under any split, so the admission set
    # (and the oracle hash) is unchanged. A NULL hash (NULL id) sorts
    # first, as in the plain window.
    from weaviate_spark.operators.running import RunningAgg, bucketed_running

    ordered = bucketed_running(
        base,
        F.col("_h"),
        [F.col("_h").asc(), F.col("_id").asc()],
        [RunningAgg("_before", F.col("_tok"), "sum", -1)],
        group_cols=["_g"],
    ).withColumn("_before", F.coalesce(F.col("_before"), F.lit(0)))
    admitted = ordered.join(F.broadcast(budgets), "_g").where(
        F.col("_before") < F.col("budget_tokens")
    )
    sel = admitted.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_selected"),
        F.sum("_tok").cast("long").alias("tokens_selected"),
    )
    return (
        budgets.join(sel, "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            "group_tokens",
            "budget_tokens",
            F.coalesce("n_docs_selected", F.lit(0))
            .cast("long")
            .alias("n_docs_selected"),
            F.coalesce("tokens_selected", F.lit(0))
            .cast("long")
            .alias("tokens_selected"),
        )
    )
