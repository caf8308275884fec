"""Deduplication operators for large-scale training-data pipelines.

Five families (BASELINE.json north star), all partition-parallel, no driver-side
record materialization:

- exact:        hash-groupBy on the content column, keep lowest id.
- ngram-jaccard: exact word-shingle Jaccard via an inverted-index self-join
                (explode shingles -> equi-join on shingle -> count / union).
- minhash-LSH:  signature -> bands -> bucket equi-join -> candidate pairs;
                Jaccard estimated from signature agreement. The scale path:
                candidate generation never compares non-colliding pairs.
- simhash:      fingerprints bucketed by a (k+1)-way block split of the
                fingerprint — generalized pigeonhole guarantees any pair
                within hamming distance k collides on some block.
- embedding:    cosine near-dup over embedding vectors (see similarity.py for
                the ANN machinery it shares).

At 100 TB: every family is (explode -> shuffle on a key -> bounded-bucket
join). Bucket skew (a shingle shared by millions of docs) is the real risk —
``max_bucket`` caps pathological buckets exactly like production LSH dedup
pipelines drop stop-shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from guardian_for_apache_kafka_spark.functions.columns import (
    cosine_similarity,
    hamming_distance64,
    minhash_signature_udf,
    ngram_shingles,
    portable_hash64,
    simhash_words_udf,
    tokens_col,
)
from guardian_for_apache_kafka_spark.operators.layout import spread_narrow_scan


def content_digest(content_col: str = "text") -> F.Column:
    """sha2-256 digest as the exact-identity key: grouping/partitioning on
    the 64-hex digest instead of raw content keeps shuffle keys and sort
    comparators fixed-width regardless of document size (collision odds
    ~n^2/2^256 — zero in practice, unlike 64-bit hashes)."""
    return F.sha2(F.col(content_col), 256)


def dedup_exact(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content value (one shuffle, keyed by
    digest so the sort never compares multi-KB texts)."""
    w = Window.partitionBy(content_digest(content_col)).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def _shingled_hashes(
    df: DataFrame, id_col: str, content_col: str, n: int, sort: bool = False
) -> DataFrame:
    """(__id, __h: array<long>) — the distinct n-gram shingles hashed to
    int64 in ONE projection. Every consumer of ``_shingled`` hashes
    immediately (the index joins on identity only), so the materialization
    barrier should hold the 8-byte hashes, not the ~3-word shingle strings:
    xxhash64 evaluates once instead of once per consumer and the
    checkpointed bytes shrink several-fold (r11). ``sort=True`` for the
    prefix-filter variant, which needs canonical hash order.

    Documents with fewer than n tokens keep a row with an EMPTY array:
    every consumer explodes ``__h`` (an empty array explodes to nothing) or
    joins on ids that came out of that explode, so the rows drop
    downstream. A ``size(__h) > 0`` filter here would be pushed below the
    spread exchange and run the shingle kernel twice (see
    :func:`~guardian_for_apache_kafka_spark.operators.layout.spread_narrow_scan`)."""
    hashes = F.transform(ngram_shingles(tokens_col(content_col), n),
                         lambda c: F.xxhash64(c))
    if sort:
        hashes = F.array_sort(hashes)
    return spread_narrow_scan(df).select(F.col(id_col).alias("__id"), hashes.alias("__h"))


def _hashed_grams(th: F.Column, n: int) -> F.Column:
    """Distinct n-gram identities as int64 hashes computed from a TOKEN-HASH
    array (multi-arg xxhash64 over the n window lookups — the d4 verify
    idiom): identical distinctness to word-string shingles modulo 64-bit
    collisions (~n_grams^2/2^64), with zero string building — no array_join,
    no multi-word string allocation, and any downstream explode/join carries
    8-byte longs. Empty when the document has fewer than n tokens.

    r12 note: the t41 multi-arg digest (``xxhash64(th[i+1], .., th[i+n])``,
    which avoids the per-gram slice allocation and won −41% there) was
    TESTED here and measured 2x SLOWER (interleaved 10x A/B: slice 1.53 s
    vs multi-arg 3.12 s median) — under ``array_distinct`` the slice form
    wins, under t41's struct-emitting transform the multi-arg form wins.
    Kept per measurement; the two digests never meet (each consumer family
    derives both sides from its own function)."""
    return F.when(
        F.size(th) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(th) - n),
                lambda i: F.xxhash64(F.slice(th, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))


def _common_shingle_counts(
    df: DataFrame,
    n: int,
    id_col: str,
    content_col: str,
    max_bucket: int | None,
) -> DataFrame:
    """Shared inverted-index core for the exact set-overlap measures: returns
    (id_a, id_b, __common, __na, __nb) for every candidate pair with at least
    one shared shingle, id_a < id_b.

    ``max_bucket`` caps CANDIDATE GENERATION only: shingles held by more than
    ``max_bucket`` documents (stop-shingles — boilerplate headers, license
    text) are dropped from the pair-proposing self-join, which is what turns
    quadratic; the intersection count for surviving candidates is then
    computed exactly from the FULL shingle sets (array_intersect over the
    attached hash arrays, the d4-verify pattern), so hot shingles still count
    toward overlap and capped results equal uncapped results for every pair
    that shares at least one non-hot shingle. The only semantic loss is
    recall on pairs whose entire overlap is stop-shingles — the pairs the cap
    exists to not compare."""
    # materialized once (lazy local checkpoint): the HASHED shingle arrays
    # feed sizes + both inverted-index join sides + the exact verify —
    # without the barrier the (expensive, string-building) shingle
    # expression re-runs once per branch. The index joins on shingle
    # IDENTITY only, so the barrier holds int64 hashes, never the ~3-word
    # strings: the explode+shuffle carries 8-byte longs (2-3x less shuffle
    # volume at scale) and the join compares longs. A 64-bit collision
    # would need two distinct shingles in the same bucket —
    # ~n_shingles^2 / 2^64, negligible.
    sh = _shingled_hashes(df, id_col, content_col, n).localCheckpoint(eager=False)
    sizes = sh.select("__id", F.size("__h").alias("__n"))
    inv = sh.select("__id", F.explode("__h").alias("__s"))
    if max_bucket is None:
        a = inv.select(F.col("__id").alias("id_a"), "__s")
        b = inv.select(F.col("__id").alias("id_b"), "__s")
        common = (
            a.join(b, "__s")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("__common"))
        )
    else:
        hot = inv.groupBy("__s").count().where(F.col("count") > max_bucket).select("__s")
        cold = inv.join(F.broadcast(hot), "__s", "left_anti")
        a = cold.select(F.col("__id").alias("id_a"), "__s")
        b = cold.select(F.col("__id").alias("id_b"), "__s")
        cand = (
            a.join(b, "__s")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        ha = sh.select(F.col("__id").alias("id_a"), F.col("__h").alias("__ha"))
        hb = sh.select(F.col("__id").alias("id_b"), F.col("__h").alias("__hb"))
        common = (
            cand.join(ha, "id_a")
            .join(hb, "id_b")
            .select(
                "id_a", "id_b",
                F.size(F.array_intersect("__ha", "__hb")).alias("__common"),
            )
        )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return common.join(na, "id_a").join(nb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from an inverted index.

    |A∩B| comes from the per-shingle join; |A∪B| = |A|+|B|-|A∩B|. Returns
    (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    pairs = _common_shingle_counts(df, n, id_col, content_col, max_bucket)
    return (
        pairs.select(
            "id_a",
            "id_b",
            (
                F.col("__common")
                / (F.col("__na") + F.col("__nb") - F.col("__common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_exact(
    df: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """INTEGER-EXACT n-gram Jaccard threshold pairs: the same inverted-index
    plan as :func:`ngram_jaccard_pairs`, but the threshold is a rational
    num/den and the test J(A,B) = c/(|A|+|B|-c) >= num/den is decided by the
    cross-multiplication ``den*c >= num*(|A|+|B|-c)`` — no division, no
    float, so the verdict is bit-identical across engines and rounding
    modes (the property the externally hash-attested p13 funnel needs; the
    float-returning sibling keeps its published jaccard-score API).
    Returns (id_a, id_b, n_common, n_union), all BIGINT, for pairs at or
    above the threshold."""
    if threshold_den <= 0 or threshold_num < 0:
        # den=0 or negative would silently return all (or inverted)
        # candidate pairs via the cross-multiplied test (r10 advisor)
        raise ValueError(
            f"threshold must be a nonnegative rational with positive "
            f"denominator, got {threshold_num}/{threshold_den}"
        )
    pairs = _common_shingle_counts(df, n, id_col, content_col, max_bucket)
    c = F.col("__common")
    union = F.col("__na") + F.col("__nb") - c
    return pairs.where(
        F.lit(threshold_den) * c >= F.lit(threshold_num) * union
    ).select(
        "id_a",
        "id_b",
        c.cast("bigint").alias("n_common"),
        union.cast("bigint").alias("n_union"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact n-gram *containment* pairs: |A∩B| / min(|A|,|B|) — the
    asymmetric-length near-dup case (a short document wholly contained in a
    longer one) that symmetric Jaccard dilutes toward zero. Same
    inverted-index plan as :func:`ngram_jaccard_pairs` (one extra column in
    the final projection, no extra shuffle). Returns
    (id_a, id_b, containment), id_a < id_b, containment >= threshold."""
    pairs = _common_shingle_counts(df, n, id_col, content_col, max_bucket)
    return (
        pairs.select(
            "id_a",
            "id_b",
            (F.col("__common") / F.least(F.col("__na"), F.col("__nb"))).alias(
                "containment"
            ),
        )
        .where(F.col("containment") >= threshold)
    )


def _band_pairs(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """Banded-LSH candidate generation over a materialized signature frame
    (columns ``__id``, ``__sig``): explode (band, band-hash) keys, self-join
    on them carrying ids ONLY (signatures would multiply the shuffle by
    bands x), distinct pairs with id_a < id_b."""
    banded = sig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.hash(F.slice("__sig", bi * r + 1, r), F.lit(42)).alias("bh"),
                ),
            )
        ).alias("__b"),
    ).select("__id", "__b.band", "__b.bh")
    left = banded.select(F.col("__id").alias("id_a"), "band", "bh")
    right = banded.select(F.col("__id").alias("id_b"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """MinHash + banded LSH candidate pairs.

    Signature (num_hashes positions) is split into ``bands``; a pair is a
    candidate iff some band's sub-signature hashes equal — the classic
    s-curve with collision prob 1-(1-j^r)^b, r = num_hashes/bands. Returns
    (id_a, id_b, est_jaccard) where est_jaccard = fraction of agreeing
    signature positions (unbiased Jaccard estimator).
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    # JVM side hashes tokens only (one xxhash64 per token); shingling and the
    # signature happen vectorized in Arrow batches, and the UDF output is a
    # physically materialized column — banding slices a concrete array rather
    # than re-evaluating a giant HOF expression per band.
    hashed = spread_narrow_scan(df).select(
        F.col(id_col).alias("__id"),
        F.transform(tokens_col(content_col), lambda t: F.xxhash64(t)).alias("__th"),
    )
    sig = hashed.select(
        "__id", minhash_signature_udf(num_hashes, n)("__th").alias("__sig")
    ).where(F.col("__sig").isNotNull())
    # The signature frame feeds four plan branches (two self-join sides, two
    # candidate re-attachments); without a materialization barrier each branch
    # re-runs the scan + UDF. Lazy local checkpoint (r11, was persist()) —
    # |docs| x num_hashes longs, orders of magnitude smaller than the corpus;
    # instance-scoped, so nothing enters the plan-keyed cache manager (where
    # an identical later plan would silently reuse this materialization) and
    # the blocks are GC'd with the frame instead of leaking per call.
    sig = sig.localCheckpoint(eager=False)
    pairs = _band_pairs(sig, bands, r)
    sa = sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa"))
    sb = sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb"))
    agree = F.aggregate(
        F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (agree / F.lit(num_hashes)).alias("est_jaccard"))
    )


def dedup_minhash_lsh(
    df: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Near-dedup: drop every row whose estimated Jaccard to a LOWER-id row is
    >= threshold (the standard keep-first policy; transitive chains collapse
    toward the smallest id without an iterative connected-components pass —
    at massive scale swap in a CC iteration if cluster-exact grouping matters)."""
    cand = minhash_lsh_candidates(df, n, num_hashes, bands, id_col, content_col)
    doomed = (
        cand.where(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(doomed, id_col, "left_anti")


def minhash_verified_dedup(
    df: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Two-stage near-dedup: MinHash-LSH candidate generation, EXACT n-gram
    Jaccard verification on the candidates, keep-first drop policy — the
    production shape (candidates cheap and recall-oriented, the exact measure
    decides).

    Statistical contract (what makes this exactly checkable): a pair with
    true Jaccard j collides in some band with p = 1-(1-j^r)^b (r =
    num_hashes/bands). Verification then filters by exact Jaccard, so the
    output equals the exact all-pairs result unless LSH *misses* a true
    pair — probability (1-j^r)^b per pair, e.g. <= 4e-8 at j >= 0.9 with the
    r=4, b=16 default. With the deterministic xxhash64 hash family the
    outcome is also reproducible run-to-run: recall failures are code
    regressions, not flakes.

    Scale shape: ONE corpus pass computes both the LSH signature and the
    exact shingle-hash set (n-gram over per-token xxhash64s — identical set
    cardinalities to word-string shingles modulo 64-bit collisions, so
    identical Jaccard) into one materialized feature frame; the candidate join
    carries ids only; exact verification joins the (small) candidate set
    against the per-doc shingle arrays (8-byte elements), never all pairs
    and never raw text."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    th = F.transform(tokens_col(content_col), lambda t: F.xxhash64(t))
    shingle_hashes = _hashed_grams(F.col("__th"), n)
    feat = (
        spread_narrow_scan(df)
        .select(F.col(id_col).alias("__id"), th.alias("__th"))
        .select(
            "__id",
            minhash_signature_udf(num_hashes, n)("__th").alias("__sig"),
            shingle_hashes.alias("__sh"),
        )
        .where(F.col("__sig").isNotNull())
        .localCheckpoint(eager=False)
    )
    cand = _band_pairs(feat, bands, r)
    sa = feat.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"))
    sb = feat.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("__sa", "__sb"))
                / F.size(F.array_union("__sa", "__sb"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    doomed = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(doomed, id_col, "left_anti")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    content_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates with GUARANTEED recall at the requested
    radius: the fingerprint is split into ``max_hamming + 1`` equal-width
    blocks (generalized pigeonhole — a pair within hamming distance k
    differs in at most k blocks, so at least one of k+1 blocks matches
    exactly), pairs bucket by (block index, block value), and the exact
    hamming distance verifies each collision. Fingerprint width =
    blocks * floor(64 / blocks) bits (e.g. 64 at k=3, 63 at k=6) — both
    sides of every comparison use the same split, so the distance is
    well-defined.

    Tighter radii use fewer, wider blocks (larger bucket space, fewer
    accidental collisions); looser radii trade candidate volume for the
    recall guarantee — the standard simhash dedup trade.

    ``token_hash`` selects the per-token hash primitive: ``"xxhash64"``
    (default, fastest) or ``"md5"``
    (:func:`~guardian_for_apache_kafka_spark.functions.columns.portable_hash64`,
    bit-reproducible in DuckDB so the whole fingerprint+hamming pipeline can
    be differentially oracled — the d5 registry entry uses it). Everything
    downstream of the token-hash array is hash-agnostic."""
    words = max_hamming + 1
    bits_per_word = 64 // words
    if bits_per_word < 4:
        raise ValueError(f"max_hamming={max_hamming} leaves <4-bit blocks; use minhash instead")
    if token_hash == "xxhash64":
        tok_hash = F.xxhash64
    elif token_hash == "md5":
        tok_hash = portable_hash64
    else:
        raise ValueError(f"token_hash must be 'xxhash64' or 'md5', got {token_hash!r}")
    hashed = spread_narrow_scan(df).select(
        F.col(id_col).alias("__id"),
        F.transform(tokens_col(content_col), lambda t: tok_hash(t)).alias("__th"),
    )
    # materialized once (lazy local checkpoint): feeds both join sides and both re-attachments
    fp = (
        hashed.select("__id", simhash_words_udf(words, bits_per_word)("__th").alias("__fp"))
        .where(F.col("__fp").isNotNull())
        .localCheckpoint(eager=False)
    )
    blocks = fp.select("__id", F.posexplode("__fp").alias("q", "qv"))
    l = blocks.select(F.col("__id").alias("id_a"), "q", "qv")
    rt = blocks.select(F.col("__id").alias("id_b"), "q", "qv")
    pairs = (
        l.join(rt, ["q", "qv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fa = fp.select(F.col("__id").alias("id_a"), F.col("__fp").alias("__fa"))
    fb = fp.select(F.col("__id").alias("id_b"), F.col("__fp").alias("__fb"))
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", hamming_distance64(F.col("__fa"), F.col("__fb")).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    tables: int = 1,
    sign_hash: str = "xxhash64",
) -> DataFrame:
    """Embedding-cosine near-dup via random-hyperplane LSH.

    Bucket = the ``planes``-bit sign pattern of projections onto pseudo-random
    hyperplanes (derived deterministically from xxhash64 of
    (dimension, plane, table) — no stored model); ``tables`` independent hash
    tables OR-amplify recall (a pair is a candidate if it collides in ANY
    table). Exact cosine verifies within buckets. Recall ≈
    1-(1-p^planes)^tables with p = 1 - angle/pi.

    The sign pattern is computed by the Arrow-batched
    :func:`~guardian_for_apache_kafka_spark.functions.columns.hyperplane_buckets_udf`
    (one matrix op per batch; bit-identical to the pure-JVM
    ``hyperplane_buckets_expr`` twin, parity-tested) — the interpreted-HOF fix
    already applied to minhash/simhash. The sign tensor is derived once
    driver-side (dim x planes x tables, a few KB) and shipped in the UDF
    closure."""
    from guardian_for_apache_kafka_spark.functions.columns import (
        cosine_similarity,
        hyperplane_buckets_udf,
        hyperplane_signs,
    )

    dim_row = emb.agg(F.max(F.size(vec_col)).alias("d")).first()
    dim = int(dim_row["d"] or 0)
    if dim == 0:
        empty = emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
        return empty
    bk_udf = hyperplane_buckets_udf(
        hyperplane_signs(emb.sparkSession, dim, planes, tables, sign_hash=sign_hash)
    )

    # materialized once (lazy local checkpoint): the bucket UDF runs one
    # corpus pass and the barrier holds (id, tbl, bk) INTS ONLY — tables x
    # corpus small rows. Holding the vector here would materialize every
    # embedding ``tables`` times and force two sort-aggregate dedups to
    # undo the explode (the r11 tier-4 finding: that shape tripled d6);
    # the exact-verify vectors re-attach from the source scan instead —
    # a pruned columnar read, the s7/s15 rerank idiom.
    b = (
        spread_narrow_scan(emb).select(
            F.col(id_col).alias("__id"),
            F.posexplode(bk_udf(F.col(vec_col).cast("array<double>"))).alias("tbl", "bk"),
        )
        .localCheckpoint(eager=False)
    )
    l = b.select(F.col("__id").alias("id_a"), "tbl", "bk")
    rt = b.select(F.col("__id").alias("id_b"), "tbl", "bk")
    pairs = (
        l.join(rt, ["tbl", "bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    # exact verify via the Arrow cosine kernel: the candidate set is
    # pair-scale (quadratic in bucket density), and the interpreted JVM fold
    # was measured at ~60% of the whole query's wall at the 10x corpus;
    # cumsum association makes the kernel bit-identical to the fold
    # (parity-pinned in tests/test_round11_optimization.py)
    from guardian_for_apache_kafka_spark.functions.columns import (
        cosine_similarity_udf,
    )

    # The verified rows end behind a lazy local checkpoint. They are
    # pair-scale (id_a, id_b, cosine) rows, never vectors. Without it a
    # consumer's global sort runs the cosine stage twice: the range
    # exchange's sampling job evaluates its input stage, then the map stage
    # evaluates it again (d6's orderBy: two single-task cosine passes).
    # With it the sampling job fills the blocks and the map stage reads
    # them. No barrier-free shape exists: Catalyst drops a sort placed
    # under the vector joins, and an ArrowEvalPython node does not pass a
    # range partitioning through. A/B on the 2k-doc/800-vector benchmark
    # corpus (4 cores, 7 alternating pairs): d6 faster with the barrier in
    # 6 of 7, median paired saving 0.24 s of 3.7 s.
    cos = cosine_similarity_udf()
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos(F.col("__va"), F.col("__vb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .localCheckpoint(eager=False)
    )


def cross_jaccard_pairs(
    new: DataFrame,
    ref: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs BETWEEN two corpora (new x reference only —
    no new-new or ref-ref comparisons): the incremental-ingest shape, where a
    fresh batch is deduplicated against an existing corpus whose inverted
    index is orders of magnitude larger but already on disk.

    Same inverted-index core as :func:`ngram_jaccard_pairs`; ``max_bucket``
    caps candidate generation on the REFERENCE side's bucket sizes (the side
    that scales), with the exact intersection then computed from full shingle
    sets. Returns (new_id, ref_id, jaccard >= threshold).

    Without a bucket cap the inverted-index join itself yields the exact
    intersection — shingles are distinct within a doc, so count(*) per
    (new_id, ref_id) collision group == |intersection| — and the pair frame
    only ever carries ids + integer counts (the d4/d32 count formulation).
    The array re-attachment path (full shingle arrays broadcast back onto
    the candidates, array_intersect per pair) runs only when ``max_bucket``
    drops hot postings and the collision count undercounts."""
    # hashed at the barrier (see _shingled_hashes): both inverted indexes
    # and (on the capped path) both exact-verify re-attachments read 8-byte
    # hash arrays
    sn = _shingled_hashes(new, id_col, content_col, n).localCheckpoint(eager=False)
    sr = _shingled_hashes(ref, id_col, content_col, n).localCheckpoint(eager=False)
    inv_n = sn.select(F.col("__id").alias("new_id"), F.explode("__h").alias("__s"))
    inv_r = sr.select(F.col("__id").alias("ref_id"), F.explode("__h").alias("__s"))
    if max_bucket is None:
        # exact count path: never re-shuffles shingle arrays, one aggregate
        # over the collision stream; division arithmetic identical to the
        # array path (int/long difference widened to double the same way)
        counted = (
            inv_n.join(inv_r, "__s")
            .groupBy("new_id", "ref_id")
            .agg(F.count("*").alias("__common"))
        )
        na = sn.select(F.col("__id").alias("new_id"), F.size("__h").alias("__nn"))
        nb = sr.select(F.col("__id").alias("ref_id"), F.size("__h").alias("__nr"))
        return (
            counted.join(na, "new_id")
            .join(nb, "ref_id")
            .select(
                "new_id", "ref_id",
                (
                    F.col("__common")
                    / (F.col("__nn") + F.col("__nr") - F.col("__common"))
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    hot = inv_r.groupBy("__s").count().where(F.col("count") > max_bucket).select("__s")
    inv_n = inv_n.join(F.broadcast(hot), "__s", "left_anti")
    inv_r = inv_r.join(F.broadcast(hot), "__s", "left_anti")
    cand = inv_n.join(inv_r, "__s").select("new_id", "ref_id").distinct()
    hn = sn.select(
        F.col("__id").alias("new_id"),
        F.col("__h").alias("__hn"),
        F.size("__h").alias("__nn"),
    )
    hr = sr.select(
        F.col("__id").alias("ref_id"),
        F.col("__h").alias("__hr"),
        F.size("__h").alias("__nr"),
    )
    common = F.size(F.array_intersect("__hn", "__hr"))
    return (
        cand.join(hn, "new_id")
        .join(hr, "ref_id")
        .select(
            "new_id", "ref_id",
            (common / (F.col("__nn") + F.col("__nr") - common)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def incremental_dedup(
    new: DataFrame,
    ref: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Drop every NEW document that near-duplicates (exact n-gram Jaccard >=
    ``threshold``) any REFERENCE document; the reference corpus is never
    modified. The anti-join ships only doomed ids — new-batch survivors keep
    their full rows without reshuffling content."""
    doomed = (
        cross_jaccard_pairs(new, ref, n, threshold, id_col, content_col, max_bucket)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new.join(doomed, id_col, "left_anti")


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.3,
    nlist: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means the embedding corpus
    (``similarity.kmeans_assign`` — deterministic seed + Lloyd refinement),
    then within each cluster drop every vector whose exact cosine to a
    LOWER-id cluster-mate reaches ``threshold``. Returns surviving
    (vec_id, cluster) rows.

    This is the cluster-pruned scale path for embedding dedup (Abbas et al.,
    "SemDeDup", arXiv:2303.09540): the quadratic pair scan runs per cluster,
    so total candidate work is sum(|cluster|^2) instead of |corpus|^2 — pick
    ``nlist`` ~ sqrt(corpus/target_cluster_size) to bound it. Complements
    ``embedding_near_dup_pairs`` (hyperplane-LSH buckets, d6): LSH bounds by
    hash collision, SemDeDup by cluster geometry and catches lower-cosine
    semantic redundancy that LSH recall decays on.

    Scale shape: assignment is vectorized projection work (see
    ``kmeans_assign`` — no corpus shuffle); the pair scan is ONE
    ``applyInPandas`` over the cluster groups — each cluster's vectors
    cross the Arrow boundary once (O(corpus) transfer, never O(pairs)) and
    the within-cluster pairwise cosines are a single numpy matmul, with
    the n^2 term bounded per cluster (pick nlist ~ sqrt(corpus /
    target_cluster_size); chunk the matmul for outlier clusters). The
    threshold decision is protected by an asserted corpus margin (no pair
    within 1e-9 of the threshold — tests/test_dedup_similarity), so
    numpy-vs-fold drift (~1e-15) cannot flip it vs the fold-based oracle."""
    import numpy as np
    import pandas as pd

    from guardian_for_apache_kafka_spark.operators.similarity import kmeans_assign

    # materialized once (lazy local checkpoint): the assignment feeds the pair scan and the final anti-join.
    # The frame is (id, cluster): sub-linear in corpus payload.
    assigned = (
        kmeans_assign(emb, nlist, iterations, id_col, vec_col)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=False)
    )
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
    av = assigned.join(vecs, "vec_id")

    def doom(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        V = np.array(pdf["__v"].tolist(), dtype=np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = Vn @ Vn.T
        # doomed: any LOWER-id cluster-mate at >= threshold (strict upper
        # triangle, column j doomed by any row i < j)
        hit = np.triu(S >= threshold, k=1).any(axis=0)
        return pdf.loc[hit, ["vec_id"]]

    doomed = av.groupBy("cluster").applyInPandas(doom, "vec_id long")
    return assigned.join(doomed, "vec_id", "left_anti")


def ngram_contamination_report(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    content_col: str = "text",
    eval_content_col: str = "text",
) -> DataFrame:
    """GPT-3-style n-gram decontamination check: for every corpus document
    that shares at least one word n-gram with ANY eval/benchmark document,
    report (id, n_shared) where n_shared counts the DISTINCT shared n-grams.
    Complements the embedding-space check (similarity.decontaminate): n-gram
    overlap catches verbatim leakage that embedding cosine can blur, and
    vice versa.

    Scale shape: the eval side's distinct n-gram set BROADCASTS (benchmark
    suites are MBs), so the corpus side joins map-side with ZERO shuffle of
    the exploded (id, gram) stream; the per-doc count is a partial-agg
    groupBy on the id. Grams are joined as strings — with a broadcast there
    is no exchange to shrink, so hashing would only trade string equality
    for hash computation. For a huge eval side (shuffle join), pre-hash both
    sides with xxhash64 to cut the exchanged payload 6x."""
    ce = spread_narrow_scan(corpus).select(
        F.col(id_col),
        F.explode(ngram_shingles(tokens_col(content_col), n)).alias("__g"),
    )
    ee = (
        eval_set.select(
            F.explode(ngram_shingles(tokens_col(eval_content_col), n)).alias("__g")
        )
        .distinct()
    )
    return (
        ce.join(F.broadcast(ee), "__g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def ngram_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    content_col: str = "text",
    eval_content_col: str = "text",
) -> DataFrame:
    """Drop every corpus document flagged by ``ngram_contamination_report``
    (any shared word n-gram with the eval set). The anti-join ships only
    flagged ids; survivors keep their rows unshuffled."""
    flagged = ngram_contamination_report(
        corpus, eval_set, n, id_col, content_col, eval_content_col
    ).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


# ---------------------------------------------------------------------------
# bloom-prefiltered decontamination (the huge-blocklist path)
# ---------------------------------------------------------------------------

#: SQL text for the i-th double-hashed bloom probe position of column
#: ``{col}`` in an ``{m}``-bit filter (Kirsch-Mitzenmacher: h1 + i*h2).
#: ONE source of truth used verbatim by BOTH the build side and the probe
#: side, so insertion and membership positions agree by construction.
_BLOOM_POS_SQL = (
    "pmod(pmod(xxhash64({col}), {m})"
    " + {i} * pmod(xxhash64({col}, 'guardian-bloom'), {m}), {m})"
)  # each term reduced mod m first: ANSI mode would overflow h1 + i*h2 raw


def _bloom_probe_sql(p1: str, p2: str, k: int, m_bits: int, filter_col: str) -> str:
    """Conjunction testing all ``k`` probe bits in ``filter_col`` (an
    array<bigint> of m_bits/64 words), over PRE-HOISTED reduced hashes
    ``p1``/``p2`` (columns holding pmod(xxhash64(gram), m)) so each gram is
    hashed twice total, not 2*2*k times. Position arithmetic per probe is
    then integer-only: pos_i = pmod(p1 + i*p2, m). Pure JVM expressions —
    stays inside whole-stage codegen."""
    tests = []
    for i in range(k):
        pos = f"pmod({p1} + {i} * {p2}, {m_bits})"
        tests.append(
            f"(element_at({filter_col}, CAST(({pos}) DIV 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(({pos}) % 64 AS INT))) != 0"
        )
    return " AND ".join(tests)


def build_gram_bloom(
    eval_set: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 16,
    k: int = 3,
    content_col: str = "text",
) -> list[int]:
    """One distributed pass over the eval/blocklist side -> an ``m_bits``-bit
    bloom filter returned as ``m_bits/64`` int64 words. The aggregation is
    (explode probe positions -> groupBy word -> bit_or), i.e. at most
    ``m_bits/64`` rows ever reach the driver regardless of blocklist size.

    Sizing: false-positive rate ~ (1 - e^(-k*n_grams/m))^k; the prefilter's
    FPs only cost wasted exact-join work, never correctness, so m is a
    throughput knob. The 2^16-bit default is 8 KiB and is deliberately
    small for the test corpus; for ~1% FP size m at roughly 10 bits per
    gram (e.g. ~5e4 grams -> m ~= 2^19 bits = 64 KiB).

    Gram identity is the int64 token-hash-window hash (:func:`_hashed_grams`)
    — the probe side (:func:`bloom_contamination_report`) uses the same
    representation, so insertion and membership positions agree by
    construction and neither side ever builds gram strings."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    th = F.transform(tokens_col(content_col), lambda t: F.xxhash64(t))
    grams = (
        eval_set.select(F.explode(_hashed_grams(th, n)).alias("__g")).distinct()
    )
    pos_exprs = [
        _BLOOM_POS_SQL.format(col="__g", i=i, m=m_bits) for i in range(k)
    ]
    words = (
        grams.selectExpr(f"explode(array({', '.join(pos_exprs)})) AS __p")
        .selectExpr(
            "CAST(__p DIV 64 AS INT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT)) AS m",
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[r["w"]] = r["bits"]
    return arr


def bloom_contamination_report(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 16,
    k: int = 3,
    id_col: str = "doc_id",
    content_col: str = "text",
    eval_content_col: str = "text",
) -> DataFrame:
    """``ngram_contamination_report`` for blocklists too big to broadcast as
    strings: a bloom filter over the eval side's n-grams (built in one
    distributed pass, a few KiB) prefilters the corpus gram stream
    MAP-SIDE, so only bloom-hits enter the exact confirm join — the shuffle
    carries the candidate slice, not the full exploded corpus. The result
    is EXACT (bloom false positives die in the confirm join; false
    negatives are impossible for inserted elements), so d15's oracle is the
    same exact SQL join as d14's.

    At 100 TB: the d14 shape (broadcast the gram strings) stops working
    once the blocklist outgrows the broadcast budget; this shape keeps a
    constant-size broadcast (the filter words) and turns the decontamination
    join's dominant cost — exchanging every corpus gram — into an exchange
    of the ~FP+true-hit slice. The same operator serves URL/domain
    blocklist filtering with ``n=1`` over a url column.

    Grams are identified by int64 hashes of n-token-hash windows
    (:func:`_hashed_grams`, the d3/d4 discipline) on BOTH the build and the
    probe/confirm sides: no 3-word gram strings are ever materialized, the
    bloom positions hash one long instead of a ~20-byte string, the exploded
    stream and the confirm join carry 8-byte keys. Exactness caveat is the
    registry-standard one: a 64-bit collision between two distinct grams
    (~n_grams^2/2^64) could merge identities — the same budget d3/d4/d12
    already carry, differentially attested per scale."""
    filter_words = build_gram_bloom(eval_set, n, m_bits, k, eval_content_col)
    th = F.transform(tokens_col(content_col), lambda t: F.xxhash64(t))
    ce = spread_narrow_scan(corpus).select(
        F.col(id_col),
        F.explode(_hashed_grams(th, n)).alias("__g"),
    ).withColumn("__bloom", F.lit(filter_words).cast("array<long>"))
    ce = ce.withColumns(
        {
            "__p1": F.expr(f"pmod(xxhash64(__g), {m_bits})"),
            "__p2": F.expr(f"pmod(xxhash64(__g, 'guardian-bloom'), {m_bits})"),
        }
    )
    candidates = ce.where(
        F.expr(_bloom_probe_sql("__p1", "__p2", k, m_bits, "__bloom"))
    ).drop("__bloom", "__p1", "__p2")
    eth = F.transform(tokens_col(eval_content_col), lambda t: F.xxhash64(t))
    ee = eval_set.select(F.explode(_hashed_grams(eth, n)).alias("__g")).distinct()
    return (
        candidates.join(ee, "__g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Exact Jaccard pairs with PREFIX FILTERING (the AllPairs/PPJoin
    family): instead of indexing EVERY shingle (the d3 inverted index),
    each document indexes only the first ``|A| - ceil(t*|A|) + 1``
    shingles under a global canonical order — if J(A,B) >= t, the two
    prefixes MUST share an element (pigeonhole: fewer than that many
    misses can't push the intersection below t), so recall is guaranteed,
    not probabilistic. Precision comes from the exact verify: candidates
    re-check the full intersection from the attached hash arrays (the d4
    pattern), making the result IDENTICAL to :func:`ngram_jaccard_pairs`.

    Scale effect: the candidate-proposing index shrinks by roughly the
    threshold factor (t=0.9 indexes ~10% of shingles; t=0.5 ~50%) and
    the self-join's quadratic bucket terms shrink with the square of
    that — the textbook set-similarity join optimization, with the
    canonical order here being plain hash order (frequency order would
    shrink buckets further but costs a global df pass; the ``max_bucket``
    cap in d3 remains the stop-shingle valve for that regime)."""
    # the barrier holds the SORTED hash arrays (canonical order is what the
    # prefix filter slices), so the transform + sort run once, not once per
    # consumer (prefix index, both verify re-attachments)
    hashes = _shingled_hashes(df, id_col, content_col, n, sort=True).localCheckpoint(
        eager=False
    )
    sizes = hashes.select("__id", F.size("__h").alias("__n"))
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ).cast("int")
    pref = hashes.withColumn("__n", F.size("__h")).select(
        "__id", F.explode(F.slice("__h", 1, prefix_len)).alias("__s")
    )
    a = pref.select(F.col("__id").alias("id_a"), "__s")
    b = pref.select(F.col("__id").alias("id_b"), "__s")
    cand = (
        a.join(b, "__s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = hashes.select(F.col("__id").alias("id_a"), F.col("__h").alias("__ha"))
    hb = hashes.select(F.col("__id").alias("id_b"), F.col("__h").alias("__hb"))
    verified = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__ha", "__hb")).alias("__common"),
            F.size("__ha").alias("__na"),
            F.size("__hb").alias("__nb"),
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        (
            F.col("__common")
            / (F.col("__na") + F.col("__nb") - F.col("__common"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def _positional_shingles(
    df: DataFrame,
    id_col: str,
    content_col: str,
    n: int,
    max_bucket: int | None,
) -> DataFrame:
    """Positional n-gram hashes: (__id, __p, __s) with __s = xxhash64 of the
    raw n-token window at 0-based token offset __p. NO array_distinct —
    positions matter for span reconstruction. ``max_bucket`` drops shingles
    appearing in more than that many docs (stop-shingles), the same recall
    contract as :func:`ngram_jaccard_pairs`."""
    df = spread_narrow_scan(df)
    toks = tokens_col(content_col)
    make = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, n), " ")),
    )
    pos = (
        df.where(F.size(toks) >= n)
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(make).alias("__p", "__s"),
        )
    )
    if max_bucket is not None:
        hot = (
            pos.groupBy("__s")
            .agg(F.count_distinct("__id").alias("__df"))
            .where(F.col("__df") > max_bucket)
            .select("__s")
        )
        pos = pos.join(F.broadcast(hot), "__s", "left_anti")
    return pos


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_span_tokens: int | None = None,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Maximal cross-document duplicated TOKEN SPANS — substring-level dedup.

    The doc-level measures (d1-d4) say *that* two documents overlap;
    training-data curation also needs *where*: the exact copied passages
    (boilerplate, syndicated paragraphs, license blocks) so they can be cut
    from otherwise-unique documents instead of dropping whole docs — the
    substring-deduplication regime of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022), re-expressed relationally.

    Plan (all built-in exprs, zero UDFs):

    1. positional n-gram shingles (NO array_distinct — positions matter),
       hashed to int64 so the explode/shuffle carries (id, pos, hash64);
    2. inverted-index self-join on the shingle hash -> match points
       (id_a, id_b, pos_a, pos_b), id_a < id_b;
    3. gaps-and-islands per anti-diagonal: within (id_a, id_b,
       diag = pos_a - pos_b), consecutive pos_a values are one run
       (pos_a - row_number() is constant on a run — the standard islands
       trick); a run of c matched shingles is a duplicated span of
       c + n - 1 tokens.

    Runs shorter than ``min_span_tokens`` (default ``2*n``) are noise-level
    and dropped. Returns (id_a, id_b, start_a, start_b, span_tokens) with
    0-based token offsets — one row per maximal span per diagonal (a passage
    repeated twice in doc_b yields two rows, by design).

    Scale posture: the only quadratic risk is hot shingles, capped by
    ``max_bucket`` exactly like :func:`ngram_jaccard_pairs` (docs-per-shingle
    cap on the pair-proposing join). The islands window partitions by
    (pair, diagonal) — millions of tiny partitions, no skew; the shuffle
    rows are four longs wide.
    """
    if min_span_tokens is None:
        min_span_tokens = 2 * n
    pos = _positional_shingles(df, id_col, content_col, n, max_bucket)
    # both self-join sides consume pos, and the planner builds them as
    # separate subtrees (the broadcast side cannot reuse the other side's
    # exchange) — without a barrier the corpus-scale tokenize+posexplode+
    # hash runs once PER SIDE (r11, guide §5)
    pos = pos.localCheckpoint(eager=False)
    a = pos.select(F.col("__id").alias("id_a"), F.col("__p").alias("__pa"), "__s")
    b = pos.select(F.col("__id").alias("id_b"), F.col("__p").alias("__pb"), "__s")
    m = (
        a.join(b, "__s")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("__pa").cast("long").alias("__pa"),
            F.col("__pb").cast("long").alias("__pb"),
        )
        .withColumn("__diag", F.col("__pa") - F.col("__pb"))
    )
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("__pa")
    isl = m.withColumn("__grp", F.col("__pa") - F.row_number().over(w))
    return (
        isl.groupBy("id_a", "id_b", "__diag", "__grp")
        .agg(
            F.min("__pa").alias("start_a"),
            F.min("__pb").alias("start_b"),
            (F.count("*") + F.lit(n - 1)).alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_span_tokens)
        .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
    )


def excise_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_span_tokens: int | None = None,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Cut :func:`duplicate_spans` passages out of the HIGHER-id copy.

    First-writer-wins at passage granularity (the d2 keep-lowest-id rule
    moved from documents to substrings): every duplicated span stays in
    ``id_a`` and is excised from ``id_b``, so the corpus keeps exactly one
    copy of each passage while both documents' unique text survives — the
    cut step of the Lee-et-al. substring-dedup regime, where doc-level
    dedup would wrongly drop whole near-unique documents.

    No interval merging is needed: a token is dropped iff ANY collected
    span covers it (`exists` over the per-doc interval array — union
    semantics for free, overlap-safe). The interval arrays are per-doc and
    span-count-bounded, so the membership probe is a tiny JVM-side nested
    higher-order function, not a join; the only shuffles are the ones
    :func:`duplicate_spans` already does plus one id-keyed join of the
    interval table (vastly smaller than the corpus) back onto ``df``.

    Returns one row per MODIFIED document: (``id_col``, n_before, n_after,
    n_spans_cut, cleaned_text) with token counts before/after excision.
    Untouched documents don't appear (callers union them back unchanged).
    """
    spans = duplicate_spans(
        df,
        n=n,
        min_span_tokens=min_span_tokens,
        id_col=id_col,
        content_col=content_col,
        max_bucket=max_bucket,
    )
    ivs = spans.groupBy(F.col("id_b").alias(id_col)).agg(
        F.collect_list(
            F.struct(
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("span_tokens")).alias("e"),
            )
        ).alias("__ivs"),
        F.count("*").alias("n_spans_cut"),
    )
    toks = tokens_col(content_col)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__ivs"), lambda iv: (i >= iv["s"]) & (i < iv["e"])
        ),
    )
    return (
        df.join(ivs, id_col)
        .select(
            id_col,
            F.size(toks).cast("int").alias("n_before"),
            kept.alias("__kept"),
            "n_spans_cut",
        )
        .select(
            id_col,
            "n_before",
            F.size("__kept").cast("int").alias("n_after"),
            "n_spans_cut",
            F.concat_ws(" ", "__kept").alias("cleaned_text"),
        )
    )


def cross_duplicate_spans(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    min_span_tokens: int | None = None,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Verbatim token spans SHARED between a training corpus and a benchmark
    set — the locate step of exact-substring decontamination (the GPT-3 /
    PaLM appendix regime: overlaps with evaluation data are cut from
    TRAINING documents at passage granularity, never the reverse).

    Same gaps-and-islands construction as :func:`duplicate_spans` but over
    two corpora: the match-point join is train-positions x bench-positions
    on the shingle hash with no id ordering constraint (the frames are
    assumed id-disjoint; a doc present in both matches itself end-to-end,
    which IS the correct decontamination verdict). Returns
    (train_id, bench_id, start_train, start_bench, span_tokens).

    Scale posture: the bench side is benchmark-sized (millions of tokens,
    not TB) — its positional index is small and reused across the whole
    train scan; match points are bounded by true contamination, not corpus
    size. ``max_bucket`` caps shingles appearing in more than that many
    BENCH docs (boilerplate prompts shared by every eval doc), the stop-
    shingle recall contract of d3/d25.
    """
    if min_span_tokens is None:
        min_span_tokens = 2 * n
    t = _positional_shingles(train, id_col, content_col, n, None).select(
        F.col("__id").alias("train_id"), F.col("__p").alias("__pt"), "__s"
    )
    b = _positional_shingles(bench, id_col, content_col, n, max_bucket).select(
        F.col("__id").alias("bench_id"), F.col("__p").alias("__pb"), "__s"
    )
    m = t.join(b, "__s").select(
        "train_id",
        "bench_id",
        F.col("__pt").cast("long").alias("__pt"),
        F.col("__pb").cast("long").alias("__pb"),
    ).withColumn("__diag", F.col("__pt") - F.col("__pb"))
    w = Window.partitionBy("train_id", "bench_id", "__diag").orderBy("__pt")
    isl = m.withColumn("__grp", F.col("__pt") - F.row_number().over(w))
    return (
        isl.groupBy("train_id", "bench_id", "__diag", "__grp")
        .agg(
            F.min("__pt").alias("start_train"),
            F.min("__pb").alias("start_bench"),
            (F.count("*") + F.lit(n - 1)).alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_span_tokens)
        .select("train_id", "bench_id", "start_train", "start_bench", "span_tokens")
    )


def decontaminate_spans(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    min_span_tokens: int | None = None,
    id_col: str = "doc_id",
    content_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Cut benchmark-overlapping passages out of TRAINING documents — the
    excision step of exact-substring decontamination. Where d14/d15 REPORT
    contaminated documents and s4 DROPS them, this keeps the document and
    removes only the leaked passage, preserving the unique remainder
    (dropping whole web documents for one quoted benchmark question wastes
    real data at 100 TB).

    Mechanics mirror :func:`excise_duplicate_spans`: collect the per-train-
    doc interval array from :func:`cross_duplicate_spans` (union membership
    via a JVM-side nested ``exists`` — overlap-safe, no interval merging),
    one id-keyed join of the interval table (contamination-sized, vastly
    smaller than the corpus) onto the train scan. Returns one row per
    MODIFIED training document: (``id_col``, n_before, n_after,
    n_spans_cut, cleaned_text); untouched docs don't appear.
    """
    spans = cross_duplicate_spans(
        train,
        bench,
        n=n,
        min_span_tokens=min_span_tokens,
        id_col=id_col,
        content_col=content_col,
        max_bucket=max_bucket,
    )
    ivs = spans.groupBy(F.col("train_id").alias(id_col)).agg(
        F.collect_list(
            F.struct(
                F.col("start_train").alias("s"),
                (F.col("start_train") + F.col("span_tokens")).alias("e"),
            )
        ).alias("__ivs"),
        F.count("*").alias("n_spans_cut"),
    )
    toks = tokens_col(content_col)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__ivs"), lambda iv: (i >= iv["s"]) & (i < iv["e"])
        ),
    )
    return (
        train.join(ivs, id_col)
        .select(
            id_col,
            F.size(toks).cast("int").alias("n_before"),
            kept.alias("__kept"),
            "n_spans_cut",
        )
        .select(
            id_col,
            "n_before",
            F.size("__kept").cast("int").alias("n_after"),
            "n_spans_cut",
            F.concat_ws(" ", "__kept").alias("cleaned_text"),
        )
    )


def eval_contamination_report(
    eval_set: DataFrame,
    corpus: DataFrame,
    n: int = 8,
    dirty_threshold: float = 0.0,
    id_col: str = "doc_id",
    content_col: str = "text",
    eval_content_col: str = "text",
) -> DataFrame:
    """Per-EVAL-document contamination: the reverse direction of
    :func:`ngram_contamination_report` and the number papers actually
    publish — for each benchmark document, how many of its distinct word
    n-grams appear ANYWHERE in the training corpus, the contaminated
    fraction, and a ``dirty`` verdict (fraction > ``dirty_threshold``; the
    GPT-3 appendix flags an eval example "dirty" on any collision, i.e.
    threshold 0). Returns (``id_col``, n_grams, n_contaminated,
    contaminated_frac, dirty) with one row per eval doc, including clean
    ones (n_contaminated = 0).

    Scale shape: the eval gram set is benchmark-sized, so it BROADCASTS
    against the corpus scan (semi-join filters the corpus gram stream
    map-side to eval-relevant grams only — corpus-size-independent output);
    the distinct + count aggregates then run on benchmark-sized frames. The
    corpus is never shuffled, mirroring d14's posture with the report
    direction flipped."""
    toks_e = ngram_shingles(tokens_col(eval_content_col), n)
    eg = (
        eval_set.select(F.col(id_col), F.explode(toks_e).alias("__g"))
        .distinct()
    )
    corpus_grams = spread_narrow_scan(corpus).select(
        F.explode(ngram_shingles(tokens_col(content_col), n)).alias("__g")
    )
    hit = (
        corpus_grams.join(
            F.broadcast(eg.select("__g").distinct()), "__g", "left_semi"
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    frac = F.round(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
        / F.count("*"),
        6,
    )
    return (
        eg.join(hit, "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
            frac.alias("contaminated_frac"),
        )
        .withColumn("dirty", F.col("contaminated_frac") > dirty_threshold)
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    max_df_ratio: float = 0.1,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by WEIGHTED cosine over sparse TF-IDF vectors —
    the real-valued complement of the set-based family (d3 Jaccard, d21
    prefix-filtered): common boilerplate tokens contribute almost nothing
    (low IDF) while rare shared vocabulary dominates, so templated
    documents with different payloads separate where raw token Jaccard
    conflates them.

    Sparse dot products come from the inverted index: join the (doc, token,
    weight) postings on token, sum weight products per pair, divide by the
    precomputed norms. Tokens appearing in more than ``max_df_ratio`` of
    the corpus are dropped from the INDEX entirely — principled (their IDF
    is near zero, so they barely move the cosine) and it is what bounds the
    posting-list self-join at 100 TB, the same hot-bucket discipline as
    d3's ``max_bucket``; RELATIVE to corpus size so the semantics are
    scale-stable (an absolute cap silently empties the index as the corpus
    grows — caught at sf0.1). The oracle replays the same filter, so the
    cut is attested, not hidden. Returns (id_a, id_b, cosine) at or above
    ``threshold``."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(content_col), " ")).alias("t"),
    )
    tf = tok.groupBy("id", "t").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n"))
    w = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") <= F.ceil(F.lit(max_df_ratio) * F.col("n")))
        .select(
            "id",
            "t",
            (F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("id").alias("id_a"), "t", F.col("w").alias("wa"))
    b = w.select(F.col("id").alias("id_b"), "t", F.col("w").alias("wb"))
    dots = (
        a.join(b, "t")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
