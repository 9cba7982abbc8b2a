"""Deduplication suite for large-scale training-data pipelines.

Four tiers, all expressed Spark-first (no Python in the hot path except
where noted):

- exact: a lag window over xxhash64(text) partitions, verified on the
  real key within each partition — one shuffle.
- MinHash + LSH: word shingles -> P minhash signatures (xxhash64,
  JVM-side) -> banded bucket join -> candidate pairs -> EXACT shingle
  Jaccard verification. The classic near-dup pipeline (Broder '97) with
  the band join replacing an all-pairs comparison; at 10^12 docs the
  bucket join is the only quadratic-avoiding strategy.
- SimHash: token hashes -> per-bit signed sums -> 64-bit signature
  (Charikar '02), banded into 4x16-bit keys for candidate joins +
  exact Hamming verify via bit_count(xor).
- n-gram Jaccard: exact character-3-gram set similarity for candidate
  pairs (the verification kernel, also exposed standalone with a DuckDB
  SQL oracle).

The set-similarity rule has one definition here: ``_jaccard_pairs``
(|A∩B| / (|A|+|B|-|A∩B|) over materialized sizes) verifies both the
MinHash candidates and the n-gram pairs. The embedding near-dup filter
scores pairs with ``similarity.pair_cosine_expr``, the cosine of the
batch ANN joins.

Scale notes: every join here is an equi-join on a computed key (band
hash / simhash band), so Catalyst plans hash joins and AQE handles the
inevitable hot buckets (empty-ish shingle sets collide). Signatures are
fixed-width columns, not variable blobs, so shuffles stay compact.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from pyspark.sql.window import Window


# signature computation, pair fan-out, and candidate verification all
# inherit the input's parallelism — measured: the whole MinHash
# pipeline ran 2-way on 32 cores off a single-split doc table
from geotools_spark.operators.partitioning import spread as _spread


def _pin_small(df: DataFrame, cap_bytes: int = 2 << 30) -> DataFrame:
    """Pin a derived table consumed by BOTH sides of a self-join.

    Spark plans aliased self-join branches as two independent subtrees
    (no cross-branch CSE), so an unpinned signature/shingle table is
    computed once per side. When Catalyst's size estimate says the
    SOURCE is small, a localCheckpoint turns the second computation
    into a cache read; above the cap (or with no estimate) the 100 TB
    behaviour — recompute per branch, no executor-memory
    materialization — is kept unchanged."""
    from geotools_spark.operators.partitioning import plan_size_bytes

    est = plan_size_bytes(df)
    if est is not None and est < cap_bytes:
        return df.localCheckpoint(eager=True)
    return df


def tokens_expr(text_col: str = "text"):
    """whitespace tokens, empties dropped (JVM-side)."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")


def char_ngrams_expr(n: int, text_col: str = "text"):
    """distinct character n-grams."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - (n - 1), F.lit(1))),
            lambda i: F.substring(F.col(text_col), i, n),
        )
    )


def _jaccard_pairs(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(id_a, id_b, jaccard) of the distinct-element arrays ``a`` and
    ``b``: |A∩B| / (|A|+|B|-|A∩B|), the formula the SQL oracles share.
    The sizes are materialized in their own projection first, so
    array_intersect runs once per pair (codegen does not CSE it)."""
    sized = pairs.select(
        "id_a",
        "id_b",
        F.size(a).alias("_sa"),
        F.size(b).alias("_sb"),
        F.size(F.array_intersect(a, b)).cast("double").alias("_si"),
    )
    si = F.col("_si")
    return sized.select(
        "id_a",
        "id_b",
        (si / (F.col("_sa") + F.col("_sb") - si).cast("double")).alias("jaccard"),
    )


def exact_dedup(docs: DataFrame, *, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per key (deterministic winner).

    Shuffle-keyed on ``xxhash64(key)`` — an 8-byte partitioner/
    comparator instead of the full document text (at 100 TB the
    shuffle write would otherwise compare multi-KB strings). Exactness
    is preserved by in-group verification: within each hash partition
    rows sort by (key, id) and a row survives iff its key differs from
    its predecessor's — 64-bit collisions land in the same partition
    and are separated by the real key compare, never merged."""
    kh = F.xxhash64(F.col(key))
    w = Window.partitionBy(kh).orderBy(key, id_col)
    # Partition start must be detected separately from a NULL-key
    # predecessor: lag(key) is NULL in both cases, which would let every
    # NULL-key row survive (ADVICE r04). lag(lit(1)) is NULL only at the
    # partition's first row; elsewhere a row survives iff its key differs
    # from its predecessor's under NULL-safe equality, so NULL keys
    # dedupe like any other key.
    first = F.lag(F.lit(1)).over(w).isNull()
    prev = F.lag(key).over(w)
    return (
        docs.select("*", first.alias("_first"), prev.alias("_prev_key"))
        .filter(F.col("_first") | ~F.col("_prev_key").eqNullSafe(F.col(key)))
        .drop("_first", "_prev_key")
    )


def shingle_sets(
    docs: DataFrame,
    *,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, shingles) — distinct k-token shingles per document.

    Every non-NULL text has at least one shingle (a text with fewer
    than k tokens gives one shorter shingle, an all-blank text the
    empty string); NULL text gives NULL shingles.

    The token split is materialized as a column before the shingle
    transform: a lambda's free reference to the split re-evaluates it
    per array element otherwise (measured 5x on the shingling stage).
    """
    k = shingle_k
    toks = F.col("_toks")
    sh = F.when(F.col(text_col).isNotNull(), F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    ))
    return docs.select(
        id_col, text_col, tokens_expr(text_col).alias("_toks")
    ).select(id_col, sh.alias("shingles"))


def minhash_signatures(
    docs: DataFrame,
    *,
    num_perm: int = 64,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, mh array<long>) — shingles are xxhash64'd ONCE (JVM-side),
    then each permutation is an affine map ``(a_p * h + b_p) mod M``
    over the precomputed longs (the classic MinHash permutation
    family): 1 string hash + num_perm multiply-adds per shingle instead
    of num_perm string hashes.

    The num_perm per-shingle multiply-add-mod-min passes run as ONE
    Arrow hop: the old form (64 interpreted ``array_min(transform(...))``
    higher-order expressions) was CodegenFallback — measured 1.0 s of
    the signature stage at 5.5k docs. NumPy evaluates the identical
    exact int64 arithmetic ((a*h+b) mod M fits int64: a < 2^23,
    h < 2^31) with a segment-min per document — value-identical.

    One output row per input row: ``id_col`` is expected to be unique.
    Repeated ids are not merged; each row gets its own signature row
    from its own text. A NULL text gives a NULL ``mh``."""
    M = 2147483647  # 2^31 - 1 (Mersenne prime)
    with_sh = shingle_sets(docs, shingle_k=shingle_k, id_col=id_col, text_col=text_col)
    hashed = with_sh.select(
        id_col,
        F.transform(
            "shingles", lambda s: F.pmod(F.xxhash64(s), F.lit(M))
        ).alias("_h"),
    )
    # deterministic permutation constants (any fixed odd a works)
    consts = [(2 * p * 40503 + 1, p * 9973 + 7) for p in range(num_perm)]
    a_arr = np.asarray([c[0] for c in consts], dtype=np.int64)
    b_arr = np.asarray([c[1] for c in consts], dtype=np.int64)
    out_schema = StructType(
        [hashed.schema[id_col], StructField("mh", ArrayType(LongType()))]
    )

    def _mh(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            col = b.column(1)
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            # NULL shingle lists (NULL text) get a NULL signature row
            valid = arr.is_valid().to_numpy(zero_copy_only=False)
            lens = arr.value_lengths().fill_null(0).to_numpy().astype(np.int64)
            flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            # every non-NULL doc has >= 1 shingle by construction (the
            # sequence lower bound); reduceat on an empty segment would
            # silently return the next value, so guard loudly
            if np.any(valid & (lens == 0)):
                raise ValueError(
                    "minhash_signatures: empty (non-NULL) shingle set"
                )
            starts = (np.cumsum(lens) - lens)[valid]
            P = len(a_arr)
            mh = np.empty((len(starts), P), dtype=np.int64)
            if len(starts):
                for p in range(P):
                    v = (a_arr[p] * flat + b_arr[p]) % M
                    mh[:, p] = np.minimum.reduceat(v, starts)
            offsets = np.concatenate([[0], np.cumsum(valid * P)]).astype(np.int32)
            yield pa.record_batch(
                [
                    b.column(0),
                    pa.ListArray.from_arrays(
                        pa.array(offsets),
                        pa.array(mh.reshape(-1), type=pa.int64()),
                        mask=pa.array(~valid),
                    ),
                ],
                names=[id_col, "mh"],
            )

    return hashed.mapInArrow(_mh, out_schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) whose EXACT shingle
    Jaccard >= threshold. LSH prunes; Jaccard verifies.

    Shuffle-weight discipline (VERDICT r01 #6): the 16x band explode and
    the bucket equi-join carry ONLY (id, band, bh) — the shingle arrays
    ride along on neither side.  Shingles are re-attached by id AFTER
    the candidate set is deduplicated, so each document's shingle set is
    shipped once per surviving candidate, not once per band per bucket
    collision.  The shingle re-derivation is a cheap tokenize+slice
    branch (no minhash transforms), far cheaper at scale than shipping
    two shingle arrays through every band bucket.
    """
    rows = num_perm // bands
    spread = _spread(docs)
    sig = minhash_signatures(
        spread, num_perm=num_perm, shingle_k=shingle_k,
        id_col=id_col, text_col=text_col,
    )
    # NULL-text docs have no signature and never pair
    sig = _pin_small(sig.filter(F.col("mh").isNotNull()))
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col("mh")[b * rows + r] for r in range(rows)]).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select(id_col, F.explode(band_cols).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    # NOTE a first-matching-band filter (as in simhash_pairs) would
    # drop the dropDuplicates exchange here, but it needs both sides to
    # carry all `bands` band hashes through the bucket join — 16x the
    # shuffle bytes of (id, band, bh) at corpus scale for one less
    # stage of candidate-sized data. Wrong trade at 10^12 docs; the
    # dedup exchange moves only collision-bounded pairs.
    left = buckets.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = buckets.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_tbl = _pin_small(shingle_sets(
        spread, shingle_k=shingle_k, id_col=id_col, text_col=text_col
    ))
    cand = (
        cand.join(
            sh_tbl.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh_tbl.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
    )
    return _jaccard_pairs(cand, "sh_a", "sh_b").filter(
        F.col("jaccard") >= threshold
    )


def simhash(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc: token xxhash64 (JVM) -> per-bit signed
    sums -> sign pack.

    The per-bit sums are PER-DOCUMENT quantities, so they need no
    shuffle at all: the old explode -> groupBy(id) shape moved one row
    per token (3.3M rows at 5.5k bench docs) through an exchange to
    compute sums a narrow map can do. One Arrow hop now computes all
    64 signed sums per doc with a segment-reduce over the token-hash
    array — exact integer arithmetic, value-identical (arithmetic >>
    on int64 matches Java shiftright; the b=63 shiftleft wraps
    two's-complement in both). Docs with zero tokens (or NULL text) are
    dropped, exactly as the explode dropped them.

    One output row per input row: ``id_col`` is expected to be unique.
    Repeated ids are not merged; each row gets its own signature row
    from its own text."""
    hashed = _spread(docs).select(
        F.col(id_col),
        F.transform(tokens_expr(text_col), lambda t: F.xxhash64(t)).alias("_h"),
    ).filter(F.size("_h") > 0)
    out_schema = StructType(
        [hashed.schema[id_col], StructField("simhash", LongType())]
    )

    def _sh(batches):
        import pyarrow as pa

        for b_ in batches:
            if b_.num_rows == 0:
                continue
            col = b_.column(1)
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            off = np.asarray(arr.offsets, dtype=np.int64)
            off = off - off[0]
            flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            n = b_.num_rows
            packed = np.zeros(n, dtype=np.uint64)
            for b in range(64):
                contrib = (((flat >> b) & 1) * 2 - 1).astype(np.int64)
                sums = np.add.reduceat(contrib, off[:-1])
                packed |= (sums > 0).astype(np.uint64) << np.uint64(b)
            yield pa.record_batch(
                [b_.column(0), pa.array(packed.view(np.int64), type=pa.int64())],
                names=[id_col, "simhash"],
            )

    return hashed.mapInArrow(_sh, out_schema)


def simhash_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash: 4x16-bit band join (any shared band)
    then exact Hamming distance <= max_hamming."""
    # no pin here: the Arrow simhash is a cheap narrow map (~0.5 s at
    # bench size), so an eager checkpoint's job barrier costs as much
    # as the duplicate branch it would save (measured both ways)
    sh = simhash(docs, id_col=id_col, text_col=text_col)
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bk")
    left = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "band", "bk")
    right = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "band", "bk")
    # a pair matching in several bands is kept ONLY at its first
    # matching band — a pure codegen filter over the two signatures,
    # replacing the dropDuplicates exchange (same pair set, one less
    # shuffle + stage wave)
    def _chunk(h, b):
        return F.shiftright(h, 16 * b).bitwiseAND(F.lit(0xFFFF))

    dup_before = F.lit(False)
    for b in range(3):
        dup_before = dup_before | (
            (F.col("band") > b)
            & (_chunk(F.col("h_a"), b) == _chunk(F.col("h_b"), b))
        )
    cand = (
        left.join(right, ["band", "bk"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(~dup_before)
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    bits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-bit LSH bucketing
    turns the all-pairs scan into a per-bucket self-join, then the
    exact cosine filter keeps pairs >= threshold. Near-identical
    vectors land in the same bucket with high probability (each
    hyperplane splits them with prob ~ acos(cos)/pi); recall vs the
    brute-force scan is pinned in tests. One shuffle on bucket id;
    bucket sizes stay ~N/2^bits, so the quadratic term is local."""
    from geotools_spark.operators.similarity import (
        bucket_expr,
        hyperplanes,
        norm_expr,
        pair_cosine_expr,
        vector_dim,
    )

    planes = hyperplanes(vector_dim(embeddings, vec_col), bits, seed)
    b = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        bucket_expr(F.col(vec_col), planes).alias("_bkt"),
        norm_expr(F.col(vec_col)).alias("_nrm"),
    )
    lhs = b.select(
        F.col("_bkt"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    rhs = b.select(
        F.col("_bkt"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    pairs = lhs.join(rhs, "_bkt").filter(F.col("id_a") < F.col("id_b"))
    cos = pair_cosine_expr(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    return pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    pair_key: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact char-n-gram Jaccard for all pairs sharing ``pair_key`` —
    the bounded-candidate exact kernel (SQL-oracle-able)."""
    # intersect 64-bit gram hashes instead of strings: the Jaccard VALUE
    # is representation-independent (xxhash64 collisions over ~10^2-10^3
    # grams are negligible) and long-array intersection is far cheaper
    # than string comparison in the pairwise hot loop
    hashed = F.transform(char_ngrams_expr(n, text_col), lambda s: F.xxhash64(s))
    g = docs.select(
        F.col(id_col), F.col(pair_key).alias("_pk"), hashed.alias("grams")
    )
    # Spread the probe side across the cluster BEFORE the pair fan-out:
    # a broadcast pair join would otherwise run the entire quadratic
    # intersect work in the input's few tasks (measured 5x on the
    # bench). The round-robin shuffle moves only one gram array per doc
    # — cheap relative to the O(pairs x grams) work it parallelizes.
    a = _spread(
        g.select(F.col(id_col).alias("id_a"), F.col("_pk"), F.col("grams").alias("g_a")),
        factor=2,
    )
    b = g.select(F.col(id_col).alias("id_b"), F.col("_pk"), F.col("grams").alias("g_b"))
    pairs = a.join(b, "_pk").filter(F.col("id_a") < F.col("id_b"))
    return _jaccard_pairs(pairs, "g_a", "g_b").select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def duplicate_spans(
    docs: DataFrame,
    *,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the substring-level
    dedup modality (suffix-array style, cf. "Deduplicating Training
    Data Makes Language Models Better": repeated token windows across
    documents mark boilerplate/contamination that doc-level exact /
    MinHash / SimHash dedup cannot see).

    Spark-first shape for 10^12 docs:
      1. rolling ``window``-token spans per doc, hashed to 64 bits
         IN the projection — the span STRINGS never reach a shuffle,
         only (doc_id, span_hash) longs do;
      2. groupBy(hash, doc) — map-side combine crushes within-doc
         repeats of hot boilerplate before the wire;
      3. docs-per-hash via a window over the hash partitioning, then
         the per-doc rollup (three balanced, combinable shuffles; no
         join-back, no broadcast of an unbounded dup set).

    Output: (doc_id, n_windows, n_dup_windows, dup_frac) — a window is
    "dup" when its span appears in >= 2 DISTINCT documents. Documents
    with fewer than ``window`` tokens have no spans and are DROPPED
    from the output (explode of an empty array), not emitted with
    n_windows=0 — corpus-level duplication rates over all docs must
    left-join this result back to the doc table. 64-bit span-hash
    collisions are negligible at bench scale and the value is
    representation-independent (same argument as ngram_jaccard's
    hashed grams); the DuckDB oracle groups the literal strings.
    """
    w = int(window)
    toks = tokens_expr(text_col)
    # guard short docs explicitly: sequence(1, 0) would count DOWN
    starts = F.when(
        F.size(toks) >= w, F.sequence(F.lit(1), F.size(toks) - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        starts,
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, w))),
    )
    per_win = docs.select(
        F.col(id_col), F.explode(spans).alias("whash")
    )
    per_doc_hash = per_win.groupBy("whash", id_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("whash"))
    flagged = per_doc_hash.select("*", nd.alias("_nd"))
    dup_c = F.sum(F.when(F.col("_nd") >= 2, F.col("_c")).otherwise(F.lit(0)))
    return flagged.groupBy(id_col).agg(
        F.sum("_c").alias("n_windows"),
        dup_c.alias("n_dup_windows"),
        F.round(
            (dup_c / F.sum("_c").cast("double")), 6
        ).alias("dup_frac"),
    )
