"""Column-expression building blocks for the training-data-pipeline operators.

Everything here is built from Spark higher-order functions (transform /
aggregate / zip_with) and JVM hash primitives (xxhash64, bit ops) — no Python
UDFs, so minhash/simhash/cosine all run inside whole-stage codegen and scale
with the executors. The Pandas-UDF path is reserved for genuinely non-SQL work
(multimodal decode, operators/multimodal.py).
"""

from __future__ import annotations

import weakref

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_col(text: str | Column = "text", sep: str = " ") -> Column:
    """Whitespace tokenization (documents.text is space-separated tokens)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, sep)


def portable_hash64(c: Column) -> Column:
    """Dialect-portable 64-bit hash: the first 16 hex chars of md5, read as a
    big-endian unsigned 64-bit value and wrapped to a signed long (two's
    complement). Bit-identical to DuckDB's
    ``CAST('0x' || substring(md5(x), 1, 16) AS UBIGINT)`` — the hash primitive
    oracled queries use when xxhash64 (Spark-only) would make differential
    checking impossible. Pure JVM expressions (md5 / conv / decimal), stays in
    whole-stage codegen; ~2x the cost of xxhash64, so non-oracled hot paths
    keep xxhash64."""
    u = F.conv(F.substring(F.md5(c), 1, 16), 16, 10).cast("decimal(20,0)")
    return (
        F.when(
            u >= F.lit("9223372036854775808").cast("decimal(20,0)"),
            u - F.lit("18446744073709551616").cast("decimal(21,0)"),
        )
        .otherwise(u)
        .cast("long")
    )


def ngram_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array; empty when the document
    has fewer than n tokens (guards Spark's sign-inferring ``sequence``)."""
    make = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.array_join(F.slice(tokens, i + 1, n), " "),
    )
    return F.when(F.size(tokens) >= n, F.array_distinct(make)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: position k = min over shingles of xxhash64(s, k).

    Pure-JVM variant kept for reference/tests; the hot path in
    operators/dedup.py uses :func:`minhash_signature_udf` instead — this
    nested higher-order expression is interpreted (HOFs skip codegen) and,
    worse, gets re-evaluated per band when a downstream explode inlines it,
    turning O(hashes x shingles) into O(bands x hashes x shingles) per row."""
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda k: F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, k))),
    )
    return F.when(F.size(shingles) > 0, sig)


def minhash_signature_udf(num_hashes: int = 64, n: int = 3, seed: int = 0x6A09E667):
    """Arrow-vectorized MinHash over per-token xxhash64s (``array<long>``).

    Returns a pandas_udf that (1) forms word n-gram shingle hashes with a
    rolling polynomial combine over consecutive token hashes (uint64
    wraparound, FNV-prime multiplier — shingle *strings* are never built),
    then (2) computes signature position k = min over shingle hashes h of the
    universal hash (A[k]*h + B[k]) (A odd => bijective). Duplicate shingles
    cannot change a min, so the multiset/set distinction is immaterial and
    the signature is an unbiased Jaccard estimator over distinct shingles
    (modulo 64-bit rolling-hash collisions). Coefficients derive from a fixed
    seed: signatures are deterministic across runs/executors. NULL when the
    document has < n tokens.

    Scale rationale: the ArrowEvalPython node physically materializes the
    signature column, so downstream banding/joins slice a concrete array
    instead of re-inlining a giant expression (see :func:`minhash_signature`,
    whose interpreted HOF tree this replaces at ~100x); JVM-side cost drops
    to one xxhash64 per token.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(seed)
    A = (rng.randint(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.randint(0, 2**63, size=num_hashes, dtype=np.uint64)
    P = np.uint64(1099511628211)  # FNV-1a prime (odd)

    # ~50 MB transient (num_hashes x shingles x 8B) per segment-min block
    _chunk_tokens = 100_000

    @pandas_udf("array<long>")
    def _sig(token_hashes: pd.Series) -> pd.Series:
        out = [None] * len(token_hashes)
        idxs: list[int] = []
        arrs: list[np.ndarray] = []
        for i, th in enumerate(token_hashes):
            if th is not None and len(th) >= n:
                idxs.append(i)
                arrs.append(np.asarray(th, dtype=np.int64).view(np.uint64))
        # batch rows: one rolling-combine + universal-hash matrix + segmented
        # min (np.minimum.reduceat) per block instead of a per-row loop
        start = 0
        while start < len(arrs):
            end = start
            tok = 0
            while end < len(arrs) and (tok == 0 or tok + len(arrs[end]) <= _chunk_tokens):
                tok += len(arrs[end])
                end += 1
            block = arrs[start:end]
            lens = np.array([len(a) for a in block], dtype=np.int64)
            x = np.concatenate(block)
            # rolling polynomial over the concatenated vector; windows that
            # straddle row boundaries are cut when compacting below
            sh_full = x[: len(x) - n + 1].copy()
            for j in range(1, n):
                sh_full = sh_full * P + x[j : len(x) - n + 1 + j]
            tok_offs = np.zeros(len(block), dtype=np.int64)
            np.cumsum(lens[:-1], out=tok_offs[1:])
            n_sh = lens - n + 1
            keep = np.concatenate(
                [np.arange(o, o + s) for o, s in zip(tok_offs, n_sh)]
            )
            sh = sh_full[keep]
            sh_offs = np.zeros(len(block), dtype=np.int64)
            np.cumsum(n_sh[:-1], out=sh_offs[1:])
            h = A[:, None] * sh[None, :] + B[:, None]
            m = np.minimum.reduceat(h, sh_offs, axis=1)  # num_hashes x rows
            sigs = m.T.view(np.int64)
            for j in range(len(block)):
                out[idxs[start + j]] = sigs[j]
            start = end
        return pd.Series(out)

    # asNondeterministic: callers drop the NULL signatures with
    # ``where(__sig IS NOT NULL)``, which the optimizer would otherwise push
    # below the spread exchange, running the whole kernel once serially in
    # the scan task and again in parallel after it. The kernel is
    # deterministic in fact; the marker only forbids copying/reordering.
    return _sig.asNondeterministic()


def simhash64(tokens: Column, words: int = 4, bits_per_word: int = 16) -> Column:
    """64-bit SimHash of a token multiset as an array of ``words`` unsigned
    ``bits_per_word``-bit integers (word w covers bits [w*bpw, (w+1)*bpw)).

    Bit b is set iff the signed sum of bit b over xxhash64(token) is positive.
    The word-array form avoids 64-bit sign/overflow gymnastics AND is exactly
    the shape the pigeonhole LSH bucketing wants (one bucket key per word).
    Pure bit arithmetic in nested higher-order aggregates."""

    # Per-token 64-char two's-complement bit strings, computed once. The
    # PySpark shiftright/shiftleft wrappers take only Python-int shift amounts,
    # so bit b is read via bin()+substr (both Column-parameterized, JVM-side).
    bins = F.transform(tokens, lambda t: F.lpad(F.bin(F.xxhash64(t)), 64, "0"))

    def bit_vote(b: Column) -> Column:  # b = 0 is the least-significant bit
        return F.aggregate(
            bins,
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.when(F.substr(s, F.lit(64) - b, F.lit(1)) == "1", F.lit(1)).otherwise(F.lit(-1)),
        )

    def word(w: Column) -> Column:
        # fold bits high->low within the word: acc*2 + vote(bit)
        return F.aggregate(
            F.reverse(F.sequence(w * bits_per_word, (w + 1) * bits_per_word - 1)),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2 + F.when(bit_vote(b) > 0, 1).otherwise(0),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(words - 1)), word)


def simhash_words_udf(words: int = 4, bits_per_word: int = 16):
    """Arrow-vectorized SimHash over per-token xxhash64s (``array<long>``).

    Same output contract as :func:`simhash64` (word w covers bits
    [w*bpw, (w+1)*bpw), bit b set iff the signed vote over token-hash bit b is
    positive) but computed as one numpy matrix op per row instead of
    64 interpreted higher-order aggregates per row — the same ~100x
    interpreted-HOF fix as :func:`minhash_signature_udf`, and the UDF output
    is a physically materialized column so the 4-way posexplode bucketing and
    the pair join never re-evaluate it.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    total_bits = words * bits_per_word
    bit_idx = np.arange(total_bits, dtype=np.uint64)
    weights = (np.uint64(1) << (bit_idx % np.uint64(bits_per_word))).astype(np.int64)
    word_of_bit = (bit_idx // np.uint64(bits_per_word)).astype(np.int64)

    # ~50 MB of transient bits matrix per segment-sum block (tokens x 64 x 8B)
    _chunk_tokens = 100_000

    @pandas_udf("array<long>")
    def _fp(token_hashes: pd.Series) -> pd.Series:
        out = [None] * len(token_hashes)
        idxs: list[int] = []
        arrs: list[np.ndarray] = []
        for i, th in enumerate(token_hashes):
            if th is not None and len(th) > 0:
                idxs.append(i)
                arrs.append(np.asarray(th, dtype=np.int64).view(np.uint64))
        # one segment-summed matrix op per block of rows (np.add.reduceat over
        # the concatenated token-hash vector) instead of a per-row Python loop
        start = 0
        while start < len(arrs):
            end = start
            tok = 0
            while end < len(arrs) and (tok == 0 or tok + len(arrs[end]) <= _chunk_tokens):
                tok += len(arrs[end])
                end += 1
            block = arrs[start:end]
            x = np.concatenate(block)
            offs = np.zeros(len(block), dtype=np.int64)
            np.cumsum([len(a) for a in block[:-1]], out=offs[1:])
            bits = ((x[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
            votes = np.add.reduceat(2 * bits - 1, offs, axis=0)  # rows x 64
            set_bits = (votes > 0).astype(np.int64)
            wordvals = (
                (set_bits * weights[None, :])
                .reshape(len(block), words, bits_per_word)
                .sum(axis=2)
            )
            for j, row in enumerate(wordvals):
                out[idxs[start + j]] = row
            start = end
        return pd.Series(out)

    # asNondeterministic: keeps the caller's ``__fp IS NOT NULL`` filter
    # above the spread exchange (see minhash_signature_udf)
    return _fp.asNondeterministic()


def hamming_distance64(a: Column, b: Column) -> Column:
    """Hamming distance between two word-array SimHash values: sum of popcounts
    of per-word XORs."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two numeric arrays, computed as sequential
    left-to-right folds in double precision (deterministic, matches an
    equivalent fold in the oracle engine)."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(ad, bd) / (F.sqrt(dot(ad, ad)) * F.sqrt(dot(bd, bd)))


def cosine_similarity_udf():
    """Arrow-vectorized twin of :func:`cosine_similarity` for PAIR-SCALE
    verify stages (millions of candidate rows): the JVM fold is a
    higher-order expression, so it runs interpreted (no codegen) and was
    measured as ~60% of d6's wall at the 10x corpus. Bit-identical by the
    same argument the hyperplane kernel relies on: ``np.cumsum`` performs
    the identical sequential left-to-right additions as the Catalyst
    ``aggregate`` fold (the fold's 0.0 seed adds exactly, float32 inputs
    widen to the same doubles), and the final dot/(sqrt*sqrt) is a single
    expression both sides share — parity-asserted element-for-element in
    tests/test_round11_optimization.py. Null ROWS and length-mismatched
    pairs yield NULL (the fold's zip_with null semantics). Null ELEMENTS
    inside a vector are OUT OF CONTRACT (r12, advisor finding): Arrow
    converts a list<float> null element to NaN in the float ndarray the
    kernel receives, erasing the null-vs-NaN distinction before any
    kernel code runs — so the fold's NULL-element result (NULL, pair
    dropped by a threshold filter) cannot be reproduced without also
    breaking parity for genuine-NaN elements (fold: NaN, pair KEPT under
    Spark's NaN-greatest ordering). Callers must not feed vectors with
    null elements (the embedding fixtures and every operator call site
    are dense float32); a vector-level null or length mismatch remains
    exact. Marked nondeterministic like every expensive kernel so the
    optimizer cannot duplicate it under inferred filters (guide §4.4)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        out = [None] * len(a)
        by_len: dict[int, tuple[list[int], list, list]] = {}
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None or y is None:
                continue
            lx = len(x)
            if lx != len(y):
                # zip_with pads the shorter side with nulls -> fold NULL
                continue
            if lx == 0:
                out[i] = float("nan")  # fold: 0.0/(0*0) = NaN
                continue
            idxs, xs, ys = by_len.setdefault(lx, ([], [], []))
            idxs.append(i)
            xs.append(x)
            ys.append(y)
        for _n, (idxs, xs, ys) in by_len.items():
            X = np.array(xs, dtype=np.float64)
            Y = np.array(ys, dtype=np.float64)
            # cumsum = the fold's sequential left-to-right adds
            dot = np.cumsum(X * Y, axis=1)[:, -1]
            na = np.cumsum(X * X, axis=1)[:, -1]
            nb = np.cumsum(Y * Y, axis=1)[:, -1]
            with np.errstate(divide="ignore", invalid="ignore"):
                c = dot / (np.sqrt(na) * np.sqrt(nb))
            for j, i in enumerate(idxs):
                out[i] = float(c[j])
        return pd.Series(out, dtype="float64")

    return _cos.asNondeterministic()


def rolling_fingerprint(tokens: Column, mod: int = 1_000_000_007) -> Column:
    """Order-sensitive polynomial rolling hash over tokens:
    fold (acc*31 + code(token)) % mod with code = length*17 + ascii(first char).
    Deterministic and dialect-portable (the same fold is expressible in DuckDB
    list_reduce for the oracle)."""
    codes = F.transform(
        tokens, lambda t: (F.length(t) * 17 + F.ascii(t)).cast("long")
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % mod,
    )


def hyperplane_buckets_expr(vec_col: str, planes: int = 16, tables: int = 1) -> Column:
    """Random-hyperplane LSH buckets as a pure-JVM expression: element t is the
    ``planes``-bit sign pattern of projections onto pseudo-random hyperplanes
    u(d, p, t) in {-1, +1}, derived from xxhash64(dim, plane, table) parity —
    no stored model. Reference/parity twin of :func:`hyperplane_buckets_udf`
    (interpreted HOF fold, planes x dim arithmetic per row — the UDF is the
    hot path, same relationship as :func:`minhash_signature` to its UDF)."""
    v = F.col(vec_col).cast("array<double>")

    def plane_bit(p, tbl):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(0), F.size(vec_col) - 1),
                lambda x, d: x
                * F.when(F.xxhash64(d, p, tbl) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (proj > 0).cast("long")

    def bucket(tbl):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            F.lit(0).cast("long"),
            lambda acc, p: acc * 2 + plane_bit(p, tbl),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(tables - 1)), bucket)


# Keyed by the live session object (weakly), like sources.tables._TABLE_CACHE.
_SIGNS_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def hyperplane_signs(spark, dim: int, planes: int = 16, tables: int = 1, sign_hash: str = "xxhash64"):
    """The (tables, planes, dim) ±1 hyperplane sign tensor, computed with the
    SAME JVM parity expression the reference column uses — one tiny Spark job
    (dim*planes*tables rows, driver-collected), so the Arrow UDF is
    bit-compatible with :func:`hyperplane_buckets_expr` by construction.

    ``sign_hash="xxhash64"`` (default): parity of ``xxhash64(d, p, t)``.
    ``sign_hash="md5"``: parity of :func:`portable_hash64` over the string
    ``"d:p:t"`` — reproducible in DuckDB
    (``CAST('0x'||substr(md5(concat(d,':',p,':',t)),1,16) AS UBIGINT) & 1``),
    which lets the d6 oracle recompute the exact same hyperplanes.

    Memoized per (session, dim, planes, tables, sign_hash), the way
    ``sources.tables.load_table`` memoizes its frames: the tensor is a pure
    function of those values, so only a session's first call pays the Spark
    job and the dim*planes*tables driver loop. The returned array is
    read-only because every caller shares it."""
    import numpy as np

    per_session = _SIGNS_CACHE.setdefault(spark, {})
    key = (dim, planes, tables, sign_hash)
    signs = per_session.get(key)
    if signs is not None:
        return signs
    if sign_hash == "xxhash64":
        parity = F.xxhash64("d", "p", "t") % 2 == 0
    elif sign_hash == "md5":
        parity = portable_hash64(F.concat_ws(":", "d", "p", "t")).bitwiseAND(F.lit(1)) == 0
    else:
        raise ValueError(f"sign_hash must be 'xxhash64' or 'md5', got {sign_hash!r}")
    rows = (
        spark.range(dim * planes * tables)
        .select(
            (F.col("id") % dim).cast("int").alias("d"),
            (F.expr(f"id div {dim}") % planes).cast("int").alias("p"),
            F.expr(f"id div {dim * planes}").cast("int").alias("t"),
        )
        .select(
            "d", "p", "t",
            F.when(parity, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("s"),
        )
        .collect()
    )
    signs = np.empty((tables, planes, dim), dtype=np.float64)
    for r in rows:
        signs[r["t"], r["p"], r["d"]] = r["s"]
    signs.setflags(write=False)
    per_session[key] = signs
    return signs


def hyperplane_buckets_udf(signs):
    """Arrow-vectorized hyperplane-LSH buckets (``array<long>``, one bucket per
    table) from a ±1 sign tensor (tables, planes, dim) — see
    :func:`hyperplane_signs`.

    Bit-identical to :func:`hyperplane_buckets_expr`: the projection is summed
    with ``np.cumsum`` along the dimension axis (sequential left-to-right
    additions, the same rounding order as the JVM fold), vectors shorter than
    ``dim`` are zero-padded (adding 0.0 is exact), and the bucket packs sign
    bits high-to-low. Null/empty vectors yield NULL. Replaces planes x dim
    interpreted HOF arithmetic per row with one matrix op per batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    tables, planes, dim = signs.shape
    flat = signs.reshape(tables * planes, dim)  # (P, dim)
    weights = (1 << np.arange(planes - 1, -1, -1, dtype=np.int64))  # high -> low

    _chunk_rows = 2048  # ~ rows x P x dim x 8B transient per block

    @pandas_udf("array<long>")
    def _bk(vecs: pd.Series) -> pd.Series:
        out = [None] * len(vecs)
        idxs: list[int] = []
        arrs: list = []
        for i, v in enumerate(vecs):
            if v is not None and len(v) > 0:
                if len(v) > dim:
                    raise ValueError(f"vector dim {len(v)} exceeds sign tensor dim {dim}")
                idxs.append(i)
                arrs.append(v)
        for start in range(0, len(arrs), _chunk_rows):
            block = arrs[start : start + _chunk_rows]
            m = np.zeros((len(block), dim), dtype=np.float64)
            for j, v in enumerate(block):
                m[j, : len(v)] = v
            # (rows, P, dim) products; cumsum = the JVM fold's rounding order
            proj = np.cumsum(m[:, None, :] * flat[None, :, :], axis=2)[:, :, -1]
            bits = (proj > 0).astype(np.int64).reshape(len(block), tables, planes)
            buckets = (bits * weights[None, None, :]).sum(axis=2)  # (rows, tables)
            for j, row in enumerate(buckets):
                out[idxs[start + j]] = row
        return pd.Series(out)

    # asNondeterministic: the posexplode/joins downstream make the optimizer
    # infer isnotnull/size filters on the bucket column and push them below
    # the spread exchange, evaluating the kernel once per consumer (observed
    # as two _bk nodes in s19/s20's executed plans — optimization guide
    # §4.4). The kernel is deterministic in fact; the marker only forbids
    # the optimizer from duplicating or reordering it.
    return _bk.asNondeterministic()




def contract_violation_aggs() -> "dict[str, Column]":
    """The q100 data-contract expectation suite as named violation-count
    aggregates over the events schema: not-null, enum-membership,
    JSON-shape, time-window and numeric-range checks. ONE dict shared by
    the batch validator (plans q100_contract_checks) and the streaming
    monitor (streaming.pipeline.stream_contract_checks) so the two
    surfaces can never drift apart check-by-check. Adding a check costs
    one more conditional-sum column — never another scan in batch, never
    another stateful operator in streaming."""
    return {
        "event_id_not_null": F.sum(
            F.when(F.col("event_id").isNull(), 1).otherwise(0)
        ),
        "event_type_enum": F.sum(
            F.when(
                ~F.col("event_type").isin(
                    "click", "error", "purchase", "signup", "view"
                ),
                1,
            ).otherwise(0)
        ),
        "props_has_k": F.sum(
            F.when(F.get_json_object("props", "$.k").isNull(), 1).otherwise(0)
        ),
        "ts_in_window": F.sum(
            F.when(
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2024-02-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ),
        "value_range": F.sum(
            F.when((F.col("value") < 0) | (F.col("value") > 1000), 1).otherwise(0)
        ),
    }


def ab_chisquare_readout(u: "DataFrame") -> "DataFrame":
    """2x2 chi-square experiment readout over per-user rows (user_id,
    variant in {0,1}, conv in {0,1}): exact BIGINT cell counts, the closed
    form N(ad-bc)^2 / (r0 r1 c0 c1), and the df=1 alpha=0.05 verdict.
    Shared by the q107 batch query and the streaming A/B monitor
    (streaming/pipeline.stream_ab_activity + ab_rollup) so the two surfaces
    cannot drift formula-by-formula."""
    cells = u.groupBy("variant", "conv").agg(F.count("*").alias("n"))
    tot = cells.agg(
        F.sum("n").alias("total"),
        # .otherwise(0): an all-one-variant (or all-one-outcome) sample must
        # degrade to explicit zeros / significant=false, not a NULL row that
        # downstream alerting silently skips (streaming monitors hit this
        # in their first micro-batches)
        F.sum(F.when(F.col("variant") == 0, F.col("n")).otherwise(0)).alias("r0"),
        F.sum(F.when(F.col("variant") == 1, F.col("n")).otherwise(0)).alias("r1"),
        F.sum(F.when(F.col("conv") == 0, F.col("n")).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("conv") == 1, F.col("n")).otherwise(0)).alias("c1"),
        F.sum(
            F.when((F.col("variant") == 0) & (F.col("conv") == 1), F.col("n")).otherwise(0)
        ).alias("a1"),
        F.sum(
            F.when((F.col("variant") == 1) & (F.col("conv") == 1), F.col("n")).otherwise(0)
        ).alias("b1"),
    )
    # both det factors promoted to DOUBLE BEFORE the multiply: two ~3e9
    # cells make a1*(r1-b1) overflow int64 long before the denominator does
    det = (
        F.col("a1") * F.lit(1.0) * (F.col("r1") - F.col("b1"))
        - F.col("b1") * F.lit(1.0) * (F.col("r0") - F.col("a1"))
    )
    # denominator promoted to DOUBLE before multiplying: four ~1e5 marginals
    # overflow BIGINT (~9.2e18) silently under non-ANSI long arithmetic
    den = (
        F.col("r0") * F.lit(1.0) * F.col("r1") * F.col("c0") * F.col("c1")
    )
    chi2 = F.when(den > 0, F.col("total") * F.pow(det, 2) / den)
    return tot.select(
        F.col("r0").cast("long").alias("n_control"),
        F.col("r1").cast("long").alias("n_treatment"),
        F.round(F.try_divide(F.col("a1") * 1.0, F.col("r0")), 4).alias(
            "conv_rate_control"
        ),
        F.round(F.try_divide(F.col("b1") * 1.0, F.col("r1")), 4).alias(
            "conv_rate_treatment"
        ),
        F.round(chi2, 4).alias("chi2"),
        F.coalesce(chi2 > 3.841458820694124, F.lit(False)).alias("significant"),
    )


def psi_report(cnt: "DataFrame", n_bins: int = 10) -> "DataFrame":
    """Population-stability-index report from per-(period, bin) counts
    (period in {'base', 'current'}): Laplace smoothing (+0.5 per bin over
    +0.5*n_bins total) so empty bins contribute finite terms, per-bin PSI
    terms and the windowed total. Shared by the q109 batch query and the
    streaming drift monitor (streaming/pipeline.stream_psi_activity +
    psi_rollup) so the two surfaces cannot drift formula-by-formula."""
    tot = cnt.groupBy("period").agg(F.sum("n").alias("t"))
    half_bins = 0.5 * n_bins
    # TRUE Laplace for bins absent from one period: the missing count is 0,
    # so its smoothed mass is 0.5/(t + 0.5*n_bins) — sample-size-aware (a
    # fixed floor both skews terms and breaks sum-to-~1; review r6 finding).
    # Build the full bins x periods grid first, then smooth.
    # BOTH grid axes are literals: periods = {base, current} (a stream that
    # has seen no current rows must smooth to the uniform mass and emit a
    # finite PSI, not NULLs alerting silently skips) and bins = the static
    # [0, n_bins) domain the binning contract clamps into (deriving bins
    # from cnt would duplicate the fact-scan lineage — plan-asserted).
    # Never-seen bins get p == q and a zero term; the report is always
    # n_bins rows.
    spark_session = cnt.sparkSession
    periods = spark_session.createDataFrame(
        [("base",), ("current",)], "period string"
    )
    grid = (
        spark_session.range(n_bins).select(F.col("id").alias("bin"))
        .crossJoin(periods)
        .join(tot, "period", "left")
        .withColumn("t", F.coalesce(F.col("t"), F.lit(0)))
    )
    smoothed = grid.join(cnt, ["period", "bin"], "left").select(
        "period",
        "bin",
        (
            (F.coalesce(F.col("n"), F.lit(0)) + 0.5)
            / (F.col("t") + F.lit(half_bins))
        ).alias("prob"),
    )
    terms = smoothed.groupBy("bin").agg(
        F.max(F.when(F.col("period") == "base", F.col("prob"))).alias("p"),
        F.max(F.when(F.col("period") == "current", F.col("prob"))).alias("q"),
    )
    psi = (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))
    from pyspark.sql import Window as _W

    return terms.select(
        F.col("bin").cast("int").alias("bin"),
        F.round("p", 6).alias("p_base"),
        F.round("q", 6).alias("p_current"),
        F.round(psi, 6).alias("psi_term"),
        F.round(F.sum(psi).over(_W.partitionBy()), 4).alias("psi_total"),
    ).orderBy("bin")
