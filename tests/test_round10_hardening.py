"""Round-10 hardening pins: the integer-exact operator variants behind the
p13/p15 rewrite (VERDICT r9 ask #1).

The two driver-red rows were rewritten so that every threshold verdict is
decided by integer arithmetic — cross-multiplied quality rules, a rational
Jaccard test, an isqrt-corrected apportionment weight. These tests pin the
properties the rewrite exists for: exact agreement with the float siblings
away from boundaries, and the RIGHT verdict exactly ON a boundary, where a
rounded float ratio or a one-ulp-low libm sqrt could flip it.
"""

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.operators.dedup import (
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_exact,
)
from guardian_for_apache_kafka_spark.operators.text import (
    gopher_quality_flags,
    gopher_quality_flags_exact,
)
from guardian_for_apache_kafka_spark.plans import REGISTRY
from guardian_for_apache_kafka_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _docs_dir(spark, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    d = tempfile.mkdtemp()
    df.write.parquet(os.path.join(d, "documents.parquet"))
    return d


def test_gopher_exact_boundary_verdicts(spark):
    """Documents sitting EXACTLY on the mean-word-length and alpha-fraction
    thresholds must pass (inclusive bounds), and one character/word past
    must fail — the cases where round(x, 6) could disagree with the true
    rational comparison."""
    docs = [
        # mean word length exactly 3.0: 60 words of len 3 -> sum 180 = 3*60
        (1, " ".join(["abc"] * 60)),
        # just below 3.0: one word shortened -> sum 179 < 180
        (2, " ".join(["abc"] * 59 + ["ab"])),
        # mean exactly 10.0: 60 words of len 10 -> sum 600 = 10*60
        (3, " ".join(["a" * 10] * 60)),
        # just above 10.0: sum 601 > 600
        (4, " ".join(["a" * 10] * 59 + ["a" * 11])),
        # alpha fraction exactly 0.8: 48 alpha / 60 -> 5*48 == 4*60
        (5, " ".join(["word"] * 48 + ["123"] * 12)),
        # just below: 47 alpha / 60 -> 235 < 240
        (6, " ".join(["word"] * 47 + ["123"] * 13)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality_flags_exact(df).collect()}
    assert out[1].mean_word_len_ok and not out[2].mean_word_len_ok
    assert out[3].mean_word_len_ok and not out[4].mean_word_len_ok
    assert out[5].alpha_ok and not out[6].alpha_ok
    # integer accounting columns are the raw counts
    assert out[1].n_words == 60 and out[1].sum_word_len == 180
    assert out[5].n_alpha_words == 48


def test_gopher_exact_agrees_with_float_battery_off_boundary(spark):
    """Away from threshold boundaries (the real-corpus case) the exact
    variant's three flags must equal the published float battery's."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    fl = gopher_quality_flags(d).select(
        "doc_id", "word_count_ok", "mean_word_len_ok", "alpha_ok"
    )
    ex = gopher_quality_flags_exact(d).select(
        "doc_id",
        F.col("word_count_ok").alias("wc"),
        F.col("mean_word_len_ok").alias("mw"),
        F.col("alpha_ok").alias("al"),
    )
    j = fl.join(ex, "doc_id")
    assert (
        j.where(
            (F.col("word_count_ok") != F.col("wc"))
            | (F.col("mean_word_len_ok") != F.col("mw"))
            | (F.col("alpha_ok") != F.col("al"))
        ).count()
        == 0
    )


def test_jaccard_exact_matches_float_sibling_on_fixture(spark):
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    float_pairs = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs_exact(
            d, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert float_pairs == exact_pairs and len(exact_pairs) > 0


def test_jaccard_exact_boundary_pair_included(spark):
    """A pair whose 3-gram Jaccard is EXACTLY 1/2 (c=2, |A|=|B|=3, union=4)
    must be returned — the verdict a double division could miss by one ulp."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    rows = {
        (r.id_a, r.id_b): r
        for r in ngram_jaccard_pairs_exact(df, n=3).collect()
    }
    assert (1, 2) in rows
    assert rows[(1, 2)].n_common == 2 and rows[(1, 2)].n_union == 4
    assert all(k == (1, 2) for k in rows)  # doc 3 shares nothing


def test_p15_isqrt_correction_on_perfect_square_census(spark):
    """Plant per-source token totals T where T*1e6 is a PERFECT square —
    exactly where a one-ulp-low libm sqrt would floor to w-1 and shift a
    quota. The query's corrected weights must reproduce the pure-Python
    largest-remainder apportionment computed with math.isqrt."""
    rows = []
    did = 0
    # source totals: 49 and 64 (perfect squares -> t6 = (7000)^2, (8000)^2),
    # 50 (not a square), built from docs of 7/8/10 tokens
    for src, n_tok, n_docs in (("sq49", 7, 7), ("sq64", 8, 8), ("ns50", 10, 5)):
        for _ in range(n_docs):
            rows.append((did, " ".join(["w"] * n_tok), "en", src, 0))
            did += 1
    d = _docs_dir(spark, rows)
    got = {
        r.source: (r.tokens, r.quota, r.share_ppm)
        for r in REGISTRY["p15_budget_apportionment"].builder(spark, d).collect()
    }
    # independent replay with math.isqrt
    totals = {"sq49": 49, "sq64": 64, "ns50": 50}
    w = {s: math.isqrt(t * 1_000_000) for s, t in totals.items()}
    assert w == {"sq49": 7000, "sq64": 8000, "ns50": 7071}
    tw, budget = sum(w.values()), 1_000_000
    base = {s: budget * w[s] // tw for s in w}
    rem = {s: budget * w[s] % tw for s in w}
    leftover = budget - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    quota = {s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)}
    for s in totals:
        assert got[s][0] == totals[s]
        assert got[s][1] == quota[s]
        # share_ppm is the integer ppm of the budget (r12 quantization:
        # the DOUBLE quota/1e6 column was the last float in the output)
        assert got[s][2] == quota[s]
    assert sum(q for _, q, _ in got.values()) == budget


def test_p15_share_ppm_follows_a_budget_other_than_one_million(spark):
    """share_ppm is quota * 1e6 div budget. At the registry's budget of 1e6
    it equals quota, so only another budget can tell the two apart."""
    from guardian_for_apache_kafka_spark.operators.sampling import token_budget_quotas

    rows = [
        (i, " ".join(["w"] * n_tok), "en", src, 0)
        for i, (src, n_tok) in enumerate(
            [("a", 7)] * 7 + [("b", 8)] * 8 + [("c", 10)] * 5
        )
    ]
    docs = spark.read.parquet(os.path.join(_docs_dir(spark, rows), "documents.parquet"))
    budget = 777
    got = {r.source: r for r in token_budget_quotas(docs, budget=budget).collect()}
    w = {"a": math.isqrt(49 * 10**6), "b": math.isqrt(64 * 10**6), "c": math.isqrt(50 * 10**6)}
    tw = sum(w.values())
    base = {s: budget * w[s] // tw for s in w}
    order = sorted(w, key=lambda s: (-(budget * w[s] % tw), s))
    leftover = budget - sum(base.values())
    quota = {s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)}
    assert {s: r.quota for s, r in got.items()} == quota
    assert sum(quota.values()) == budget
    assert {s: r.share_ppm for s, r in got.items()} == {
        s: q * 1_000_000 // budget for s, q in quota.items()
    }


def test_exact_flags_null_on_empty_docs(spark):
    """r10 advisor: n_words == 0 must yield NULL ratio flags (matching the
    float battery's divide-by-zero NULLs), never a vacuous 0<=0 pass."""
    from guardian_for_apache_kafka_spark.operators.text import (
        gopher_quality_flags_exact,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "solid words of reasonable length here")],
        "doc_id INT, text STRING",
    )
    # the tokenizer never yields empty tokens; "" tokenizes to zero words
    rows = {r.doc_id: r for r in gopher_quality_flags_exact(df).collect()}
    if rows[1].n_words == 0:
        assert rows[1].mean_word_len_ok is None
        assert rows[1].alpha_ok is None
    assert rows[1].word_count_ok is False  # the composition gate still holds
    assert rows[2].mean_word_len_ok is True
    assert rows[2].alpha_ok is True


def test_jaccard_exact_rejects_degenerate_threshold(spark):
    """r10 advisor: den=0 / negative rationals must fail loudly, not return
    all (or inverted) candidate pairs."""
    import pytest as _pytest

    from guardian_for_apache_kafka_spark.operators.dedup import (
        ngram_jaccard_pairs_exact,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id INT, text STRING"
    )
    for num, den in ((1, 0), (1, -2), (-1, 2)):
        with _pytest.raises(ValueError):
            ngram_jaccard_pairs_exact(df, threshold_num=num, threshold_den=den)


def test_dsir_vocab_never_enters_cache_manager(spark, sf_dir):
    """r11 (replacing the r10 one-slot persist cache): the DSIR vocab is
    materialized via a lazy localCheckpoint, so repeated calls leak no
    persisted frames AND nothing lands in Spark's logical-plan-keyed cache
    manager (where an identical later call could silently serve the
    previous call's materialization)."""
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.operators.text import (
        dsir_importance_weights,
    )
    from guardian_for_apache_kafka_spark.sources.tables import load_table

    spark.catalog.clearCache()
    docs1 = load_table(spark, sf_dir, "documents").limit(200)
    target = F.col("doc_id") % 5 == 0
    r1 = dsir_importance_weights(docs1, target)
    n1 = r1.count()
    # identical second call: must recompute from its own inputs, not a cache
    r2 = dsir_importance_weights(docs1, target)
    assert r2.count() == n1
    # nothing was registered with the cache manager by either call
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # and the first returned frame still computes correctly
    assert r1.count() == n1
