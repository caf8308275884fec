"""Round-12 optimization pins: internals changed for performance must be
provably output-identical (the r11 test_round11_optimization convention).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.session import (
    free_local_checkpoints,
    get_spark,
)


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-round12")


# ---------------------------------------------------------------------------
# d16: position-augmented SymSpell — cap accounting must keep the
# distinct-variant semantics of edit_distance_dropped_report
# ---------------------------------------------------------------------------


def test_d16_first_flag_reproduces_distinct_variant_counts(spark):
    """The r12 index keeps every deletion POSITION (duplicate variants from
    character runs included, the substitution pass needs them) and marks
    each variant's first occurrence with __first (a deletion repeats a
    variant exactly when the previous character equals the deleted one).
    Summing __first per bucket must reproduce the distinct-variant index's
    counts EXACTLY — that equality is what keeps the max_bucket cap and the
    dropped report on the same accounting. Runs-heavy corpus on purpose."""
    from guardian_for_apache_kafka_spark.operators.strings import _variant_index

    vals = ["aaa", "aab", "aba", "abb", "zzzz", "zz", "z", "", "xyzzy", "bookkeeper"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])

    names = df.select(F.col("s").alias("__s")).where(F.col("__s").isNotNull()).distinct()
    idx = names.select(
        "__s", F.explode(F.sequence(F.lit(0), F.length("__s"))).alias("__i")
    )
    first = (
        (F.col("__i") == F.length("__s"))
        | (F.col("__i") == 0)
        | (
            F.col("__s").substr(F.col("__i"), F.lit(1))
            != F.col("__s").substr(F.col("__i") + F.lit(1), F.lit(1))
        )
    )
    variant = F.concat(
        F.col("__s").substr(F.lit(1), F.col("__i")),
        F.col("__s").substr(F.col("__i") + F.lit(2), F.length("__s")),
    )
    got = {
        (r["__h"], r["n"])
        for r in idx.select(first.alias("__first"), F.xxhash64(variant).alias("__h"))
        .groupBy("__h")
        .agg(F.sum(F.when(F.col("__first"), 1)).alias("n"))
        .collect()
    }
    want = {
        (r["__h"], r["n"])
        for r in _variant_index(df, "s")
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_d16_position_discipline_is_exact_on_runs(spark):
    """Candidate completeness where duplicate deletions matter: pairs whose
    only same-position shared variant sits INSIDE a character run (e.g.
    'aab'/'abb' share del_1 = 'ab', which for 'aab' is a repeat of del_0)
    must survive the position filter — the index must keep repeated
    variants, not array_distinct them."""
    from guardian_for_apache_kafka_spark.operators.strings import edit_distance_pairs

    vals = ["aab", "abb", "aabb", "abbb", "aaab", "ab"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {(r.s_a, r.s_b) for r in edit_distance_pairs(df, "s").collect()}

    def ed(a: str, b: str) -> int:
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[n]

    want = {
        tuple(sorted((a, b)))
        for i, a in enumerate(vals)
        for b in vals[i + 1 :]
        if ed(a, b) <= 1
    }
    assert ("aab", "abb") in want  # the run case this test exists for
    assert got == want


# ---------------------------------------------------------------------------
# session.free_local_checkpoints: frees exactly the dead blocks
# ---------------------------------------------------------------------------


def test_free_local_checkpoints_counts_and_clears(spark):
    df = spark.range(1000).localCheckpoint(eager=False)
    df.collect()  # materialize the blocks
    freed = free_local_checkpoints(spark)
    assert freed >= 1
    assert free_local_checkpoints(spark) == 0


def test_free_local_checkpoints_keeps_cached_frames_and_persisted_rdds(spark):
    sc = spark.sparkContext
    free_local_checkpoints(spark)  # start from no dead checkpoint blocks

    def persistent_ids():
        return set(sc._jsc.getPersistentRDDs().keys())

    def cached_partitions(rdd_ids):
        return sum(
            info.numCachedPartitions()
            for info in sc._jsc.sc().getRDDStorageInfo()
            if info.id() in rdd_ids
        )

    before = persistent_ids()
    cached = spark.range(1000).selectExpr("id * 2 AS v").cache()
    cached.count()
    cached_ids = persistent_ids() - before
    persisted = sc.parallelize(range(1000), 4).persist()
    persisted.count()
    checkpoint = spark.range(1000).localCheckpoint(eager=False)
    checkpoint.collect()
    checkpoint_ids = persistent_ids() - before - cached_ids - {persisted.id()}
    try:
        assert cached_ids and checkpoint_ids
        kept = cached_ids | {persisted.id()}
        blocks = cached_partitions(kept)
        assert blocks > 0

        assert free_local_checkpoints(spark) == len(checkpoint_ids) == 1
        assert not persistent_ids() & checkpoint_ids
        assert kept <= persistent_ids()
        assert cached_partitions(kept) == blocks
    finally:
        cached.unpersist(True)
        persisted.unpersist(True)


def test_bench_median_is_one_measured_run():
    """bench.py's columns are the median of an odd number of runs. With two
    runs statistics.median returns their mean, which no run measured."""
    import bench

    times = iter([3.0, 1.0, 2.5, 100.0])
    builds = []

    def run(build):
        builds.append(build)
        return next(times)

    assert bench.median_of_runs(run, "plan") == 2.5
    assert builds == ["plan"] * 3
    assert bench.N_RUNS % 2 == 1
