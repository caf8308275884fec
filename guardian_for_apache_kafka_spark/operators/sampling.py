"""Reproducible sampling for training-data pipelines.

`df.sample()` is seed-dependent but not content-stable: adding or removing
ANY row reshuffles which rows a given seed keeps, so holdout membership
churns between pipeline runs. Deterministic (content-hash) sampling fixes
membership per record forever — the standard way large corpus pipelines
carve train/validation/holdout splits that survive recrawls and backfills.

``deterministic_sample`` keeps a row iff the first 8 hex chars of
md5(seed || key) are lexicographically below the rate threshold. md5 is
bit-identical across engines (and available in DuckDB), so the exact split
is oracle-checkable — and reproducible in any other system that can md5.

``stratified_sample`` wraps ``sampleBy`` (per-stratum rates, seeded) for
engine-side balanced subsets; approximate by design, bounds tested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sample_bucket(key: Column, seed: str = "guardian") -> Column:
    """Stable [0, 1) bucket for a key: first 8 md5 hex chars as a fraction.
    Uniform to ~2^-32; string-compare portable across engines."""
    return F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 8)


def _threshold_hex(rate: float) -> str:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return format(int(rate * 0xFFFFFFFF), "08x")


def deterministic_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", seed: str = "guardian"
) -> DataFrame:
    """Content-stable sample: a record's membership depends only on
    (seed, key) — immune to corpus growth, partitioning, and row order."""
    return df.where(sample_bucket(F.col(key_col), seed) < _threshold_hex(rate))


def split_label(
    weights: dict[str, float],
    key_col: str = "doc_id",
    seed: str = "guardian",
) -> Column:
    """Split-name column for disjoint, exhaustive, content-stable named
    splits: one CASE chain over the md5 bucket, so a single scan labels
    every record (the 100 TB shape — ``split()``'s per-split filters rescan
    the input once per split)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = sample_bucket(F.col(key_col), seed)
    names = list(weights)
    expr = F.lit(names[-1])  # last split takes the tail
    hi = 0.0
    conds = []
    for name in names[:-1]:
        hi += weights[name]
        conds.append((name, _threshold_hex(hi)))
    for name, threshold in reversed(conds):
        expr = F.when(bucket < threshold, name).otherwise(expr)
    return expr


def split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    seed: str = "guardian",
) -> dict[str, DataFrame]:
    """Disjoint, exhaustive, content-stable named splits (e.g. {"train": .98,
    "val": .01, "test": .01}). Each record lands in exactly one split, and
    stays there across runs and corpus versions. Same bucket math as
    ``split_label`` (which labels in one scan when you want one DataFrame)."""
    label = split_label(weights, key_col, seed)
    return {name: df.where(label == name) for name in weights}


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum sampling (``sampleBy``): balanced subsets across e.g.
    languages or sources. Seeded but not content-stable — use
    deterministic_stratified_sample when membership must survive corpus
    changes."""
    return df.sampleBy(strata_col, fractions, seed)


def deterministic_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    seed: str = "guardian",
    default_rate: float = 1.0,
) -> DataFrame:
    """Content-stable per-stratum sampling — the corpus-rebalancing shape
    (downsample over-represented languages/sources) with membership that
    survives corpus growth, unlike seeded ``sampleBy``.

    A row is kept iff md5(seed || key) < threshold(fractions[stratum]); the
    per-stratum threshold comes from one CASE chain, so the whole rebalance
    is a single scan with zero shuffles. Strata absent from ``fractions``
    take ``default_rate``. Rate 1.0 maps to threshold "g" (above every hex
    bucket) so full-keep strata keep every row exactly. md5 is bit-identical
    across engines, so the exact subset is oracle-checkable (query d10)."""

    def threshold(rate: float) -> str:
        return "g" if rate >= 1.0 else _threshold_hex(rate)

    expr = F.lit(threshold(default_rate))
    for name, rate in sorted(fractions.items()):
        expr = F.when(F.col(strata_col) == name, F.lit(threshold(rate))).otherwise(expr)
    return df.where(sample_bucket(F.col(key_col), seed) < expr)


def temperature_mixture(
    df: DataFrame,
    target: int,
    group_col: str = "lang",
    key_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Temperature-rebalanced corpus mixture (alpha = 0.5): per-group keep
    quotas proportional to sqrt(group size), normalized to ``target`` total
    rows, with content-stable membership (lowest md5(seed || key) rows win).

    This is the standard multilingual/multi-source training-mixture move
    (sampling probability ~ n_g^alpha): sqrt scaling keeps every group
    represented while shrinking dominant groups' share. Quotas floor to
    integers and cap at the group size, so the kept total is <= ``target``.

    Determinism contract: the quota denominator is a LEFT FOLD of
    sqrt(n_g) in group-name order — the same association order the oracle's
    ``list_reduce`` uses — so quota doubles are bit-identical across engines
    (sqrt and the fold are IEEE-exact on identical inputs); membership is
    md5-rank, already dialect-portable (d8).

    Scale shape: group counts are one tiny aggregate; quotas broadcast back;
    membership ranks ONE window per group over the md5 key — a single hash
    exchange on the group column. Returns the kept rows with their group and
    a ``q_group`` quota column for audit."""
    cnt = df.groupBy(F.col(group_col).alias("__g")).agg(F.count("*").alias("__n"))
    denom = cnt.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__g"), F.sqrt(F.col("__n").cast("double")).alias("__s")))
                ),
                lambda s: s["__s"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__d")
    )
    quota = cnt.crossJoin(F.broadcast(denom)).select(
        "__g",
        F.least(
            F.col("__n"),
            F.floor(
                F.lit(float(target)) * F.sqrt(F.col("__n").cast("double")) / F.col("__d")
            ).cast("long"),
        ).alias("q_group"),
    )
    from pyspark.sql import Window

    rank_w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), F.col(key_col)
    )
    ranked = df.withColumn("__rn", F.row_number().over(rank_w))
    return (
        ranked.join(F.broadcast(quota), ranked[group_col] == quota["__g"])
        .where(F.col("__rn") <= F.col("q_group"))
        .drop("__g", "__rn")
    )


def token_budget_quotas(docs: DataFrame, budget: int) -> DataFrame:
    """Integer per-source token quotas that sum exactly to ``budget``
    (largest-remainder / Hamilton apportionment) from temperature T = 2
    weights: w = isqrt(tokens * 1e6), the libm ``floor(sqrt)`` seed
    corrected to the true integer square root by two integer comparisons.
    From the weights on everything is exact integer arithmetic: base quota
    = budget * w div W, the leftover goes one unit each to the largest
    remainders (ties by source name). Returns (source, tokens, quota,
    share_ppm) with share_ppm = quota * 1e6 div budget, all BIGINT.

    Plan: one corpus-sized source aggregate (map-side combined), then
    source-count-sized windows. Domain bound: tokens * 1e6 lives in int64,
    so per-source token counts are valid up to 2^63 / 1e6 ~ 9.2e12."""
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias("tokens")
    )
    b = F.lit(budget).cast("long")
    t6 = F.col("tokens") * F.lit(1000000).cast("long")
    w0 = F.floor(F.sqrt(t6.cast("double"))).cast("long")
    # integer-isqrt correction: the libm sqrt seed can be off by one ulp's
    # floor on some builds; two integer comparisons pin w to the true
    # floor(sqrt(t6)) under ANY libm (t6 ~ 1e13 << 2^52, so w0 is within
    # +-1 of the true root and one step suffices).
    wts = src.select(
        "source",
        "tokens",
        t6.alias("t6"),
        w0.alias("w0"),
    ).select(
        "source",
        "tokens",
        F.when(
            (F.col("w0") + 1) * (F.col("w0") + 1) <= F.col("t6"),
            F.col("w0") + 1,
        )
        .when(F.col("w0") * F.col("w0") > F.col("t6"), F.col("w0") - 1)
        .otherwise(F.col("w0"))
        .alias("w"),
    )
    w_all = Window.partitionBy()
    quo = wts.select(
        "source",
        "tokens",
        (b * F.col("w")).cast("long").alias("bw"),
        F.sum("w").over(w_all).alias("tw"),
    ).select(
        "source",
        "tokens",
        F.expr("bw div tw").alias("base_quota"),
        (F.col("bw") % F.col("tw")).alias("remainder"),
    )
    quo = quo.select(
        "source",
        "tokens",
        "base_quota",
        "remainder",
        (b - F.sum("base_quota").over(w_all)).alias("leftover"),
    )
    ranked = quo.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("remainder"), "source"))
    )
    quota = (
        F.col("base_quota") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
    ).cast("long")
    return ranked.select("source", "tokens", quota.alias("quota")).withColumn(
        "share_ppm", F.expr(f"quota * 1000000 div {budget}")
    )


def leakage_free_split_label(
    df: DataFrame,
    weights: dict[str, float],
    train_split: str = "train",
    threshold: float = 0.7,
    key_col: str = "doc_id",
    content_col: str = "text",
    seed: str = "guardian",
    n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Content-stable splits WITHOUT eval leakage: after the md5 split
    assignment, every near-duplicate CONNECTED COMPONENT (n-gram Jaccard
    >= ``threshold`` edges) that contains a ``train_split`` member is
    reassigned to train IN FULL — the guard against evaluating on
    memorized near-copies, applied at split time.

    Component-level (not single-pass edge-level) reassignment is what
    makes the invariant hold BY CONSTRUCTION: a pairwise pass can CREATE
    leaks on chains (A:train ~ B:val ~ C:test with A !~ C moves B to train
    and leaves C exposed to its near-dup B); with components, every edge
    lies inside a component and train-containing components move wholly,
    so no train/held-out edge can survive. Components without a train
    member keep their base labels (val~test cross-dups are a different,
    out-of-scope concern).

    Scale shape: base labels are one scan (split_label's CASE chain);
    edges come from the d3/d4 inverted-index machinery
    (``ngram_jaccard_pairs`` — id-only shuffles; pass ``max_bucket`` to
    cap hot shingle buckets at scale); components via the O(log^2)
    alternating-star CC (operators/clusters.py); only component members
    join back. Returns the frame with a ``split`` column."""
    from guardian_for_apache_kafka_spark.operators.clusters import connected_components
    from guardian_for_apache_kafka_spark.operators.dedup import ngram_jaccard_pairs

    labeled = df.withColumn("split", split_label(weights, key_col, seed))
    pairs = ngram_jaccard_pairs(
        df, n=n, threshold=threshold, id_col=key_col, content_col=content_col,
        max_bucket=max_bucket,
    )
    comps = connected_components(pairs.select("id_a", "id_b"))  # (node, component)
    train_nodes = labeled.where(F.col("split") == train_split).select(
        F.col(key_col).alias("node")
    )
    train_comps = (
        comps.join(train_nodes, "node", "left_semi").select("component").distinct()
    )
    to_train = comps.join(train_comps, "component", "left_semi").select(
        F.col("node").alias(key_col)
    )  # comps is near-dup-involved docs only — Catalyst picks the strategy
    return labeled.join(
        to_train.withColumn("__leak", F.lit(True)), key_col, "left"
    ).select(
        *[c for c in labeled.columns if c != "split"],
        F.when(F.coalesce(F.col("__leak"), F.lit(False)), F.lit(train_split))
        .otherwise(F.col("split"))
        .alias("split"),
    )


def weighted_sample_key(content: Column, weight: Column, seed: str = "guardian") -> Column:
    """Efraimidis-Spirakis weighted-sampling key: ``ln(u) / w`` with
    ``u = (md5_52bits(content) + 1) / 2^52`` — the top-k rows by this key
    (descending) are an exact without-replacement sample where row
    inclusion probability is proportional to ``w`` (u^(1/w) maximization,
    taken in log space so no pow). The uniform draw uses the first 13 hex
    chars of md5 — a 52-bit integer that converts to double EXACTLY and
    divides by the exact power 2^52, so u is bit-identical in any engine
    with the same md5, making the sample content-stable (reruns, backfills
    and the DuckDB oracle all pick the same rows) and seedable."""
    v = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"), content)), 1, 13), 16, 10
    ).cast("double")
    u = (v + F.lit(1.0)) / F.lit(float(1 << 52))
    return F.log(u) / weight


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    content_col: str,
    k: int,
    seed: str = "guardian",
) -> DataFrame:
    """Top-``k`` weighted sample without replacement (A-ES): adds ``__wkey``
    and returns the k rows with the largest keys. Map-only key computation +
    a TakeOrderedAndProject — no shuffle of the corpus, driver sees k rows.
    Rows with non-positive weight are excluded (zero weight = never sampled,
    matching the limit of the inclusion law)."""
    keyed = df.where(F.col(weight_col) > 0).withColumn(
        "__wkey", weighted_sample_key(F.col(content_col), F.col(weight_col), seed)
    )
    return keyed.orderBy(F.desc("__wkey")).limit(k)


def epoch_plan(
    df: DataFrame,
    budget_multiple: float = 2.0,
    max_epochs: float = 4.0,
    alpha: float = 0.5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-constrained epoch planner: given a token budget of
    ``budget_multiple`` x the corpus and temperature-smoothed per-source
    shares (~ n_tokens^alpha, the temperature_mixture move at token
    granularity), how many EPOCHS of each source fill it — with repeats
    capped at ``max_epochs`` (past ~4 epochs repeated data stops paying;
    the data-constrained-scaling rule of thumb), leaving the unfillable
    remainder explicit per source instead of silently over-repeating.

    Determinism contract (cross-engine oracle): per-source token counts
    are EXACT integer sums; the share denominator is a left fold of
    sqrt(tokens) in source-name order (the temperature_mixture
    discipline); every double expression keeps one association order. All
    rounding happens once, at the output.

    Scale shape: ONE scan of the corpus (token counts fold into a
    source-keyed partial aggregate), a |sources|-row fold, and a broadcast
    of two scalars back onto the |sources|-row plan — nothing else moves."""
    if alpha != 0.5:
        raise ValueError("alpha != 0.5 needs a pow() fold; only sqrt is wired")
    cnt = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count("*").alias("__n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("__tok"),
    )
    scalars = cnt.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__g"),
                            F.sqrt(F.col("__tok").cast("double")).alias("__s"),
                        )
                    )
                ),
                lambda s: s["__s"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__d"),
        F.sum("__tok").alias("__total"),
    )
    tokd = F.col("__tok").cast("double")
    weight = F.sqrt(tokd) / F.col("__d")
    target = weight * (F.lit(float(budget_multiple)) * F.col("__total").cast("double"))
    raw = target / tokd
    capped = F.least(raw, F.lit(float(max_epochs)))
    return (
        cnt.crossJoin(F.broadcast(scalars))
        .select(
            F.col("__g").alias(group_col),
            F.col("__n_docs").alias("n_docs"),
            F.col("__tok").alias("n_tokens"),
            F.round(weight, 6).alias("weight"),
            F.round(raw, 4).alias("epochs_raw"),
            F.round(capped, 4).alias("epochs"),
            F.round(capped * tokd, 2).alias("realized_tokens"),
            F.round((raw - capped) * tokd, 2).alias("budget_unfilled"),
        )
        .orderBy(group_col)
    )
