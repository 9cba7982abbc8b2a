"""Similarity search over embedding columns (array<float>).

Operators:

- ``cosine_topk``: brute-force cosine against one query vector as pure
  JVM fold expressions (zip_with + aggregate) — the exactness baseline
  and the re-rank stage of every ANN path below.
- ``lsh_ann_topk`` / ``lsh_ann_join``: random-hyperplane LSH (sign-bit
  buckets with multi-probe) for one query vector / a whole query set.
  Buckets turn the similarity scan into an equi-join; the exact cosine
  runs only inside candidate buckets.
- ``ivf_ann_topk``, ``build_ivf_index``, ``ivf_probe_scan``,
  ``ivf_ann_topk_indexed``: IVF — a coarse quantizer splits the corpus
  into cells and a query scans only its ``nprobe`` nearest cells (in
  memory, or from a cell-partitioned table that prunes at listing).
- ``pq_ann_topk``, ``ivf_pq_ann_topk``, ``ivf_pq_ann_join``: product
  quantization — ADC scores from m one-byte codes, then the exact
  cosine re-ranks the ``rerank * k`` best (optionally behind the IVF
  probe filter, for one query or a query set).

This module is the single home of the vector rules that the Catalyst
expressions, the NumPy Arrow kernels and the DuckDB oracle must all
evaluate identically for the ANN hash gates to hold:

- squared distance is the LEFT-TO-RIGHT fold over the dimension axis
  (``_sq_dist_exprs`` in Catalyst, ``_np_left_fold_sq`` in NumPy);
- argmin is first-min: ties go to the lowest centroid index;
- the quantizer is the affine-mod sample (``sample_centroids``): IVF
  centres are its first ``nlist`` rows and PQ codebooks the sub-slices
  of its first ``ksub`` rows, taken from ONE collect (``_quantizers``);
- a pair's score is ``pair_cosine_expr`` (rounded to 6 dp) and each
  query keeps its top k by (cosine desc, id asc) (``_top_per_query``).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

QUANT_SEED = 1299709


def _lit_array(v):
    return F.array(*[F.lit(float(x)) for x in v])


def _dot_cols_expr(a, b):
    """Dot product of two array columns as a JVM fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(col):
    """Euclidean norm of an array column as a JVM fold."""
    return F.sqrt(F.aggregate(
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    ))


def pair_cosine_expr(a, b, norm_a, norm_b):
    """Cosine of two array columns rounded to 6 dp, given their norms
    (``norm_expr`` or a materialized copy) — the one pair score of the
    batch ANN joins and the embedding near-dup filter."""
    return F.round(_dot_cols_expr(a, b) / (norm_a * norm_b), 6)


def vector_dim(df: DataFrame, vec_col: str) -> int:
    """Length of the first vector of ``vec_col`` (one ``first()`` job);
    0 for an empty frame, which has nothing to bucket."""
    row = df.select(F.size(vec_col).alias("d")).first()
    return 0 if row is None else int(row.d)


def _top_per_query(df: DataFrame, q_id_col: str, order, k: int, rank_col: str):
    """Rows ranked 1..k per query by ``order`` — the window partitions by
    query id, so no single-partition stage."""
    w = Window.partitionBy(q_id_col).orderBy(*order)
    return df.select("*", F.row_number().over(w).alias(rank_col)).filter(
        F.col(rank_col) <= int(k)
    )


def _pair_rank_topk(pairs, *, k, q_id_col, q_vec_col, id_col, vec_col):
    """Exact pair cosine + per-query top-k: the tail of both batch joins."""
    q, v = F.col(q_vec_col), F.col(vec_col)
    scored = pairs.select(
        q_id_col,
        id_col,
        pair_cosine_expr(q, v, norm_expr(q), norm_expr(v)).alias("cosine"),
    )
    return _top_per_query(
        scored, q_id_col, [F.desc("cosine"), F.col(id_col)], k, "rank"
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``; deterministic
    (rounded cosine desc, id asc) ordering."""
    qnorm = float(np.sqrt(np.sum(np.asarray(query_vec, dtype=np.float64) ** 2)))
    cos = _dot_cols_expr(F.col(vec_col), _lit_array(query_vec)) / (
        norm_expr(F.col(vec_col)) * F.lit(qnorm)
    )
    scored = embeddings.select(id_col, F.round(cos, 6).alias("cosine"))
    # orderBy+limit compiles to TakeOrderedAndProject: each partition keeps
    # its local top-k and only k rows per partition reach the driver-side
    # merge — no global single-partition shuffle. The rank window then runs
    # over exactly k rows, so its single partition is intentional and tiny.
    topk = scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.col(id_col))
    return topk.select("*", F.row_number().over(w).alias("rank"))


def hyperplanes(dim: int, bits: int, seed: int = 7) -> np.ndarray:
    """Deterministic random hyperplanes for sign-bit LSH."""
    rs = np.random.RandomState(seed)
    return rs.standard_normal((bits, dim))


def bucket_expr(vec_col, planes: np.ndarray):
    """LSH bucket id = packed sign bits of plane dot products, computed
    as JVM fold expressions (one per plane)."""
    bucket = F.lit(0).cast("long")
    for b in range(planes.shape[0]):
        dot = _dot_cols_expr(vec_col, _lit_array(planes[b]))
        bit = F.when(dot > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, b))
    return bucket


# ---------------------------------------------------------------- Arrow
# NumPy kernels for the PQ/IVF hot path. The Catalyst higher-order
# functions (aggregate / zip_with / transform) these replace are
# CodegenFallback — interpreted per element — and, worse, the nested
# codebook literals make ~10^5-character plans whose analysis/codegen
# costs seconds PER QUERY before a single row moves (measured r6:
# encode-only noop 2.7 s at 2k rows, unchanged when spread over 32
# cores — i.e. all driver-side). The kernels below reproduce the exact
# IEEE arithmetic: every distance is a LEFT-TO-RIGHT sequential fold
# over the dimension axis (the loop is over dims, vectorized over
# rows), argmin is first-min, and the ADC sum is the same left-assoc
# chain — bit-identical to the expression path and to the DuckDB
# oracle replay (parity pinned by tests/test_oracle_parity.py).

def _np_vectors(col) -> np.ndarray:
    """pyarrow (Chunked)ListArray of numbers -> (n, dim) float64.

    Every row must be a non-NULL list of the same length (the list
    offsets must have one fixed stride); anything else raises
    ValueError rather than reshaping rows out of alignment."""
    import pyarrow as pa

    a = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    n = len(a)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    if a.null_count:
        raise ValueError(f"{a.null_count} NULL vector(s) in a vector column")
    lens = np.diff(np.asarray(a.offsets, dtype=np.int64))
    dim = int(lens[0])
    if np.any(lens != dim):
        raise ValueError(
            f"ragged vector column: lengths {int(lens.min())}..{int(lens.max())}"
            " (every vector must have the same dimension)"
        )
    flat = a.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(n, dim)


def _np_left_fold_sq(X: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Per-row squared distance as the sequential dim-axis fold:
    ((0 + d0^2) + d1^2) + ... — the exact operation order of the
    F.aggregate expression and the oracle's list_sum comprehension.
    ``c`` is one vector (broadcast to every row) or one per row."""
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for j in range(X.shape[1]):
        d = X[:, j] - c[..., j]
        acc = acc + d * d
    return acc


def _np_assign(V: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """argmin over per-centroid fold distances, first-min tie-break."""
    D = np.column_stack([_np_left_fold_sq(V, c) for c in centers])
    return D.argmin(axis=1).astype(np.int32)


def _np_codes(V: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """(n, m) int32 PQ codes — per-subspace first-min argmin."""
    sub = books[0].shape[1]
    return np.column_stack([
        _np_assign(V[:, s * sub : (s + 1) * sub], book)
        for s, book in enumerate(books)
    ])


def _np_adc_codes(codes: np.ndarray, tables: np.ndarray) -> np.ndarray:
    """ADC = t0[c0] + t1[c1] + ... (left-assoc, no 0-seed — the order
    the oracle's ADC sum evaluates)."""
    return reduce(np.add, [tables[s][codes[:, s]] for s in range(tables.shape[0])])


def sample_centroids(
    embeddings: DataFrame,
    *,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = QUANT_SEED,
) -> list[list[float]]:
    """Deterministic coarse quantizer (VERDICT r04 #3): the centroids
    are the embeddings of ``nlist`` affine-mod-selected ids — no
    learned state, so centroid choice, cell assignment, and probe
    ranking all replay exactly in ANSI SQL (the ann_ivf oracle). A
    coarse quantizer governs recall through nprobe, not centroid
    optimality (the recall tests pin that)."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy(
            F.pmod(F.col("_id") * 104729 + F.lit(int(seed)), F.lit(999983)),
            "_id",
        )
        .limit(int(nlist))
        .collect()
    )
    return [[float(x) for x in r._v] for r in rows]


def _quantizers(embeddings, *, nlist, m, ksub, id_col, vec_col, seed):
    """(IVF centres, PQ codebooks) from ONE sample collect: the
    affine-mod order is fixed, so the centres are its first ``nlist``
    rows and the m codebooks the sub-slices of its first ``ksub``
    rows. Codebooks are an index-time artifact of the full corpus,
    never of a per-query probe subset."""
    full = sample_centroids(
        embeddings, nlist=max(nlist, ksub), id_col=id_col, vec_col=vec_col,
        seed=seed,
    )
    dim = len(full[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [[c[s * sub : (s + 1) * sub] for c in full[:ksub]] for s in range(m)]
    return full[:nlist], books


def _sq_dist_exprs(vec_col: str, centers: list[list[float]]):
    """Per-centroid squared distances of ``vec_col``, in centroid order:
    each the left-to-right fold that ``_np_left_fold_sq`` and the
    oracle's ``list_sum`` also evaluate, so the three engines rank
    centroids identically."""
    vc = F.col(vec_col).cast("array<double>")
    return [
        F.aggregate(
            F.zip_with(vc, _lit_array(c), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centers
    ]


def assign_cell_expr(vec_col: str, centers: list[list[float]]):
    """JVM-side cell assignment: argmin over per-centroid squared
    distances (first-min tie-break = lowest centroid index).
    Whole-stage-codegen — no Python."""
    darr = F.array(*_sq_dist_exprs(vec_col, centers))
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def probe_cells_expr(vec_col: str, centers: list[list[float]], nprobe: int):
    """Per-ROW nprobe closest centroid indices as an array column —
    the query-set analogue of the driver-side ``_probe_cells``. The
    (distance, index) structs sort lexicographically, giving the same
    first-min tie-break."""
    pairs = F.array(*[
        F.struct(d.alias("d"), F.lit(i).cast("int").alias("i"))
        for i, d in enumerate(_sq_dist_exprs(vec_col, centers))
    ])
    return F.slice(
        F.transform(F.array_sort(pairs), lambda s: s.getField("i")),
        1,
        nprobe,
    )


def _probe_cells(
    centers: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Driver-side nprobe nearest centroid indices, (distance, index)
    ascending."""
    d = _np_left_fold_sq(
        np.asarray(centers, dtype=np.float64),
        np.asarray(query_vec, dtype=np.float64),
    )
    return np.argsort(d, kind="stable")[:nprobe].tolist()


def probe_masks(bits: int, probe_flips: int) -> list[int]:
    """Identity + every <=probe_flips-bit flip mask, ascending flip
    count (itertools over bit positions — shared by the single-vector
    and the batch multi-probe paths)."""
    import itertools

    masks = [0]
    for nf in range(1, probe_flips + 1):
        for combo in itertools.combinations(range(bits), nf):
            m = 0
            for b in combo:
                m |= 1 << b
            masks.append(m)
    return masks


def _assign_cells(embeddings, *, nlist, id_col, vec_col, seed, cell_col):
    """(centres, (id, vec, cell)): the sample quantizer and the cell
    assignment of every vector."""
    centers = sample_centroids(
        embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col, seed=seed
    )
    return centers, embeddings.select(
        id_col, vec_col, assign_cell_expr(vec_col, centers).alias(cell_col)
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 50,
    nlist: int = 16,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = QUANT_SEED,
) -> DataFrame:
    """IVF (inverted-file) ANN: the deterministic ``sample_centroids``
    quantizer (SQL-replayable — the ann_ivf oracle's hash check)
    partitions vectors into nlist cells; queries scan only the nprobe
    closest cells. At serving time the candidate scan is
    ``filter(cell IN probes)`` — partition-prunable when the table is
    written by ``build_ivf_index``. Exact cosine runs on candidates only.
    """
    centers, assigned = _assign_cells(
        embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col, seed=seed,
        cell_col="_cell",
    )
    probes = _probe_cells(centers, query_vec, nprobe)
    cand = assigned.filter(F.col("_cell").isin(probes)).drop("_cell")
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    *,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = QUANT_SEED,
    run_id: str = "ivf-build",
) -> str:
    """Materialize the IVF index as a CELL-PARTITIONED table: vectors
    are written ``partitionBy(cell)`` through the lineage/checkpoint
    machinery (plans/lineage.py), centroids land in a tiny sidecar
    JSON. This is where the 100 TB win lives: a probe scan filters on
    the partition column, so Spark prunes the file listing to the
    nprobe cell directories and the other (nlist - nprobe)/nlist of
    the corpus is never read (PartitionFilters, pinned by
    test_plans.py) — the Spark analogue of the reference's R-tree
    bbox query (include/sqlite.hpp:182). Build is one assignment pass
    + one partitioned write, all distributed; rebuild is resumable
    (checkpointed_write skips committed cells)."""
    import json
    import os

    from ..plans import lineage

    # sidecar JSON uses open()/os.replace — same local-FS constraint as
    # the manifest (VERDICT r04 #9); fail before the expensive build
    path = lineage.require_local_path(path, "build_ivf_index")

    centers, assigned = _assign_cells(
        embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col, seed=seed,
        cell_col="cell",
    )
    lineage.checkpointed_write(assigned, path, part_col="cell", run_id=run_id)
    tmp = os.path.join(path, "_centroids.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(centers, fh)
    os.replace(tmp, os.path.join(path, "_centroids.json"))
    return path


def ivf_probe_scan(
    spark,
    path: str,
    query_vec: list[float],
    *,
    nprobe: int = 3,
):
    """Serving-time probe scan of a ``build_ivf_index`` table: rank
    centroids against the query driver-side (nlist floats — free),
    then scan ONLY the nprobe nearest cell partitions. The isin filter
    is on the partition column, so it prunes at file listing, not as a
    post-scan filter. Returns (candidates DataFrame, probe cell ids)."""
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as fh:
        centers = json.load(fh)
    probes = sorted(_probe_cells(centers, query_vec, nprobe))
    cand = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    return cand, probes


def ivf_ann_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 50,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN against a materialized cell-partitioned index — the
    scale path of ``ivf_ann_topk`` (same semantics, same recall for
    the same quantizer seed; parity pinned by tests). Exact cosine
    runs only on the pruned probe partitions."""
    cand, _ = ivf_probe_scan(spark, path, query_vec, nprobe=nprobe)
    return cosine_topk(
        cand.drop("cell"), query_vec, k=k, id_col=id_col, vec_col=vec_col
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 50,
    bits: int = 8,
    probe_flips: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's bucket plus
    all buckets within ``probe_flips`` bit flips (multi-probe LSH —
    recall/candidate-count dial; bits sizes the bucket count to the
    corpus: ~log2(N / desired_candidates_per_bucket))."""
    planes = hyperplanes(len(query_vec), bits, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qbucket = 0
    for b in range(bits):
        if float(planes[b] @ q) > 0:
            qbucket |= 1 << b
    probes = sorted({qbucket ^ m for m in probe_masks(bits, probe_flips)})
    cand = embeddings.filter(bucket_expr(F.col(vec_col), planes).isin(probes))
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def lsh_ann_join(
    queries: DataFrame,
    embeddings: DataFrame,
    *,
    k: int = 10,
    bits: int = 8,
    probe_flips: int = 2,
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Batch ANN: top-k neighbours for a whole QUERY SET in one job —
    the shape a training-data pipeline needs (dedupe a crawl against a
    corpus, retrieve per-document neighbours), where per-query
    ``cosine_topk`` loops would be one full scan each.

    Multi-probe as a JOIN: the query side explodes to its probe
    buckets (identity + every <=``probe_flips``-bit flip — each
    candidate pair matches through exactly ONE mask, qb^eb, so no
    dedup pass is needed), both sides shuffle once on bucket id, and
    the exact cosine + per-query rank window run inside the join
    output. The window partitions by query id — no single-partition
    stage anywhere. Equivalent by construction to pairing every
    (query, vector) with hamming(buckets) <= probe_flips, which is
    what the DuckDB oracle replays. The planes take their dimension
    from the first query vector."""
    planes = hyperplanes(vector_dim(queries, q_vec_col), bits, seed)
    masks = probe_masks(bits, probe_flips)
    emb_b = embeddings.select(
        id_col, vec_col, bucket_expr(F.col(vec_col), planes).alias("_bucket")
    )
    # the query bucket stays in its own projection: inlined into the
    # explode array it would be re-folded once per mask
    q_exp = queries.select(
        q_id_col, q_vec_col, bucket_expr(F.col(q_vec_col), planes).alias("_qb")
    ).select(
        q_id_col,
        q_vec_col,
        F.explode(
            F.array(*[F.col("_qb").bitwiseXOR(F.lit(int(m))) for m in masks])
        ).alias("_bucket"),
    )
    return _pair_rank_topk(
        q_exp.join(emb_b, "_bucket"), k=k, q_id_col=q_id_col,
        q_vec_col=q_vec_col, id_col=id_col, vec_col=vec_col,
    )


# ------------------------------------------------ product quantization

def pq_codebooks(
    embeddings: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = QUANT_SEED,
) -> list[list[list[float]]]:
    """m per-subspace codebooks of ksub sub-centroids — the sub-slices
    of ksub affine-mod-sampled embeddings (same deterministic
    quantizer as IVF, so codebook choice, encoding, and ADC scoring
    all replay exactly in ANSI SQL). PQ is the 100 TB memory answer:
    a 64-float embedding (256 B) stores as m one-byte codes (8 B),
    and query scoring reads only the codes column."""
    return _quantizers(
        embeddings, nlist=0, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
        seed=seed,
    )[1]


def pq_adc_tables(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """Asymmetric-distance tables: squared distance from each query
    sub-vector to each sub-centroid as the left fold (the values both
    the Spark kernels and the SQL oracle use, so the three engines
    agree bit-for-bit)."""
    q = np.asarray(query_vec, dtype=np.float64)
    sub = len(codebooks[0][0])
    return [
        _np_left_fold_sq(
            np.asarray(book, dtype=np.float64), q[s * sub : (s + 1) * sub]
        ).tolist()
        for s, book in enumerate(codebooks)
    ]


def _adc_rerank_topk(
    embeddings, query_vec, books, *, keep=None, k, rerank, id_col, vec_col
):
    """PQ tail of the single-query paths: ONE Arrow pass encodes each
    batch (after the optional ``keep(V) -> row indices`` filter) and
    scores it by ADC; the ``rerank * k`` best by rounded ADC go to the
    exact ``cosine_topk``."""
    tables = np.asarray(pq_adc_tables(books, query_vec), dtype=np.float64)
    B = [np.asarray(book, dtype=np.float64) for book in books]
    in_df = embeddings.select(id_col, vec_col)
    out_schema = StructType(
        [*in_df.schema.fields, StructField("_adc", DoubleType())]
    )

    def _enc(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            V = _np_vectors(b.column(1))
            if keep is not None:
                rows = keep(V)
                if len(rows) == 0:
                    continue
                b, V = b.take(pa.array(rows)), V[rows]
            adc = _np_adc_codes(_np_codes(V, B), tables)
            yield b.append_column("_adc", pa.array(adc, type=pa.float64()))

    cand = (
        in_df.mapInArrow(_enc, out_schema)
        .select(id_col, vec_col, F.round("_adc", 6).alias("_adc"))
        .orderBy("_adc", id_col)
        .limit(int(rerank * k))
        .drop("_adc")
    )
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def pq_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 50,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = QUANT_SEED,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ ANN with exact re-rank: encode the corpus to m-byte codes,
    score candidates by ADC table lookups (a per-row sum of m table
    reads — no vector math on the scan side), keep the ``rerank * k``
    best by approximate distance, then run the exact cosine top-k on
    the candidates only.

    At scale the codes column is what the probe scan reads (8 B/vector
    vs 256 B) — the classic IVF-PQ serving shape with the IVF stage
    added by ``ivf_pq_ann_topk``."""
    books = codebooks if codebooks is not None else pq_codebooks(
        embeddings, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col, seed=seed
    )
    return _adc_rerank_topk(
        embeddings, query_vec, books, k=k, rerank=rerank, id_col=id_col,
        vec_col=vec_col,
    )


def ivf_pq_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 50,
    nlist: int = 16,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = QUANT_SEED,
) -> DataFrame:
    """IVF-PQ — the standard billion-vector serving shape: the IVF
    coarse quantizer prunes the scan to ``nprobe`` of ``nlist`` cells
    (partition-prunable when the table is written bucketed by cell,
    see ``build_ivf_index``), PQ ADC scores the survivors from their
    m one-byte codes, and the exact cosine re-ranks the ``rerank*k``
    best. Both quantizers are the deterministic sample kind, so the
    whole pipeline replays in SQL. The coarse assignment and probe
    filter run in the same Arrow pass as the encode."""
    centers, books = _quantizers(
        embeddings, nlist=nlist, m=m, ksub=ksub, id_col=id_col,
        vec_col=vec_col, seed=seed,
    )
    C = np.asarray(centers, dtype=np.float64)
    probe_set = np.asarray(sorted(_probe_cells(centers, query_vec, nprobe)))
    return _adc_rerank_topk(
        embeddings, query_vec, books,
        keep=lambda V: np.flatnonzero(np.isin(_np_assign(V, C), probe_set)),
        k=k, rerank=rerank, id_col=id_col, vec_col=vec_col,
    )


def ivf_pq_ann_join(
    queries: DataFrame,
    embeddings: DataFrame,
    *,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 4,
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = QUANT_SEED,
) -> DataFrame:
    """Batch IVF-PQ: top-k for a whole QUERY SET in one job — the
    full billion-vector serving shape (ann_ivfpq is its single-query
    twin, lsh_ann_join its LSH sibling).

    Corpus side carries (cell, m-byte codes) — index-time artifacts,
    computed in one Arrow pass. Queries explode to their nprobe cells
    and equi-join on cell id (a partition-prunable scan when the
    corpus is written bucketed by cell); ADC scores each (query,
    vector) pair from the codes via m sub-distance folds in a second
    Arrow pass; a per-query rank window keeps the rerank*k best; exact
    cosine re-ranks those. Windows partition by query id — no
    single-partition stage."""
    centers, books = _quantizers(
        embeddings, nlist=nlist, m=m, ksub=ksub, id_col=id_col,
        vec_col=vec_col, seed=seed,
    )
    B = [np.asarray(book, dtype=np.float64) for book in books]
    C = np.asarray(centers, dtype=np.float64)
    sub = B[0].shape[1]
    e_in = embeddings.select(id_col, vec_col)
    enc_schema = StructType([
        *e_in.schema.fields,
        StructField("_cell", IntegerType()),
        StructField("_codes", ArrayType(IntegerType())),
    ])

    def _enc(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            V = _np_vectors(b.column(1))
            codes = pa.FixedSizeListArray.from_arrays(
                pa.array(_np_codes(V, B).reshape(-1), type=pa.int32()), m
            ).cast(pa.list_(pa.int32()))
            yield b.append_column(
                "_cell", pa.array(_np_assign(V, C), type=pa.int32())
            ).append_column("_codes", codes)

    q_exp = queries.select(
        q_id_col,
        q_vec_col,
        F.explode(probe_cells_expr(q_vec_col, centers, nprobe)).alias("_cell"),
    )
    j_in = q_exp.join(e_in.mapInArrow(_enc, enc_schema), "_cell").select(
        q_id_col, q_vec_col, id_col, vec_col, "_codes"
    )
    adc_schema = StructType(
        [*j_in.schema.fields[:4], StructField("_adc", DoubleType())]
    )

    # each subspace term is the fold of (query sub-vector - the
    # sub-centroid its stored code picks)^2 — the tables depend on the
    # query vector, so they are not precomputed
    def _adc(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            Q = _np_vectors(b.column(1))
            codes = _np_vectors(b.column(4)).astype(np.int64)
            adc = reduce(np.add, [
                _np_left_fold_sq(Q[:, s * sub : (s + 1) * sub], B[s][codes[:, s]])
                for s in range(m)
            ])
            yield b.drop_columns(["_codes"]).append_column(
                "_adc", pa.array(adc, type=pa.float64())
            )

    rounded = j_in.mapInArrow(_adc, adc_schema).select(
        q_id_col, q_vec_col, id_col, vec_col, F.round("_adc", 6).alias("_adc")
    )
    cand = _top_per_query(
        rounded, q_id_col, ["_adc", F.col(id_col)], rerank * k, "_arank"
    )
    return _pair_rank_topk(
        cand, k=k, q_id_col=q_id_col, q_vec_col=q_vec_col, id_col=id_col,
        vec_col=vec_col,
    )
