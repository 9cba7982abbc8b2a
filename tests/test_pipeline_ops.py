"""Training-data pipeline operators without SQL oracles: MinHash/SimHash
near-dup detection (planted duplicates), LSH ANN recall vs exact, and
the fingerprint kernel vs a pure-Python oracle."""

import pytest
from pyspark.sql import functions as F

from geotools_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
from geotools_spark.operators.similarity import cosine_topk, lsh_ann_topk
from geotools_spark.operators.textstats import fingerprint_py, fingerprints

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(docs):
    dups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", F.concat(F.lit("dup "), F.col("text")))
    )
    return docs.unionByName(dups)


def test_minhash_finds_planted_dups(docs, docs_with_dups):
    planted = {r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 0).collect()}
    pairs = minhash_lsh_pairs(docs_with_dups, num_perm=64, bands=16, threshold=0.5)
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    for pid in planted:
        assert (pid, pid + 1000000) in found, pid
        assert found[(pid, pid + 1000000)] >= 0.5


def test_simhash_finds_planted_dups(docs, docs_with_dups):
    planted = {r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 0).collect()}
    pairs = simhash_pairs(docs_with_dups, max_hamming=6)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    hits = sum((pid, pid + 1000000) in found for pid in planted)
    # one-token prefix flips few sign bits; require near-total recall
    assert hits >= 0.9 * len(planted), (hits, len(planted))


def test_ann_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    exact = {r.vec_id for r in cosine_topk(emb, qvec, k=20).collect()}
    ann = {r.vec_id for r in lsh_ann_topk(emb, qvec, k=20, bits=6).collect()}
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.5, recall  # multiprobe 8-bit LSH on 500 vecs
    assert 0 in ann  # the query vector itself is its own nearest


def test_fingerprint_matches_python_oracle(docs):
    sample = docs.limit(20)
    got = {r.doc_id: r.fingerprint for r in fingerprints(sample).collect()}
    for row in sample.collect():
        assert got[row.doc_id] == fingerprint_py(row.text), row.doc_id


def test_all_queries_execute(spark):
    """Every queries() entry must run and return >= 0 rows at sf0.001
    (the driver's smoke scale)."""
    import __spark_entry__ as m

    for name, fn in m.queries().items():
        assert fn(spark, "/root/testdata/sf0.001").count() >= 0, name


def test_embedding_near_dup_recall(spark):
    """LSH-bucketed embedding near-dup finds the planted duplicates the
    brute-force scan finds (recall pinned at 1.0 for near-identical
    vectors; they differ only in the 8th decimal)."""
    import numpy as np
    from pyspark.sql import functions as F
    from geotools_spark.operators.dedup import embedding_near_dup_pairs

    rs = np.random.RandomState(3)
    base = rs.standard_normal((200, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    for i in range(0, 200, 10):  # plant 20 near-dups
        rows.append((1000 + i, [float(x) + 1e-8 for x in base[i]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.999).collect()
    }
    want = {(i, 1000 + i) for i in range(0, 200, 10)}
    assert want <= got  # all planted dups found
    # and no spurious pairs below the threshold survive the exact filter
    for a, b_ in got - want:
        va = dict(rows)[a]
        vb = dict(rows)[b_]
        cos = float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert cos >= 0.999


def test_ivf_ann_recall(spark):
    """IVF (sample coarse quantizer) ANN recall vs exact top-k."""
    from pyspark.sql import functions as F
    from geotools_spark.operators.similarity import cosine_topk, ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first().embedding]
    exact = {r.vec_id for r in cosine_topk(emb, qvec, k=20).collect()}
    ivf = {r.vec_id for r in ivf_ann_topk(emb, qvec, k=20, nlist=8, nprobe=3).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_indexed_matches_in_memory(spark, tmp_path):
    """The materialized cell-partitioned index serves the SAME top-k
    as the in-memory IVF path (same quantizer seed), and the probe
    scan prunes partitions: only nprobe of nlist cell dirs are read."""
    import os

    from pyspark.sql import functions as F
    from geotools_spark.operators.similarity import (
        build_ivf_index,
        ivf_ann_topk,
        ivf_ann_topk_indexed,
        ivf_probe_scan,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first().embedding]
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, nlist=8)
    # every cell partition landed on disk
    cells = {d for d in os.listdir(idx) if d.startswith("cell=")}
    assert len(cells) == 8
    mem = [(r.vec_id, round(r.cosine, 9)) for r in
           ivf_ann_topk(emb, qvec, k=20, nlist=8, nprobe=3).collect()]
    srv = [(r.vec_id, round(r.cosine, 9)) for r in
           ivf_ann_topk_indexed(spark, idx, qvec, k=20, nprobe=3).collect()]
    assert srv == mem
    # the probe scan touches exactly nprobe cells' rows
    cand, probes = ivf_probe_scan(spark, idx, qvec, nprobe=3)
    assert len(probes) == 3
    assert cand.select("cell").distinct().count() <= 3


def test_duplicate_spans_cross_doc(spark):
    """Substring-level dedup: windows shared across docs are flagged;
    within-doc repeats alone are not; short docs emit nothing."""
    from geotools_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),        # 3 windows of 8
            (2, "x a b c d e f g h i"),        # shares windows with 1
            (3, "p q r s t u v w"),            # unique single window
            (4, "m m m m m m m m m"),          # within-doc repeat only
            (5, "too short"),                  # no window
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_spans(docs, window=8).collect()}
    assert 5 not in out
    # doc1 windows: [a..h],[b..i],[c..j]; doc2: [x..g],[a..h],[b..i]
    assert out[1].n_windows == 3 and out[1].n_dup_windows == 2
    assert out[2].n_windows == 3 and out[2].n_dup_windows == 2
    assert out[1].dup_frac == round(2 / 3, 6)
    assert out[3].n_dup_windows == 0
    # doc4: both windows are 'm m m m m m m m' (same span twice) but no
    # OTHER doc carries it -> not cross-doc duplicated
    assert out[4].n_windows == 2 and out[4].n_dup_windows == 0


def test_exact_dedup_null_keys_dedupe(spark):
    """NULL-text docs must dedupe to one survivor like any other key
    (ADVICE r04: lag(key).isNull() can't tell partition-start from a
    NULL-key predecessor)."""
    from geotools_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None), (5, "b"), (6, None)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [1, 2, 5]


def test_minhash_null_text_gives_null_signature(spark):
    """A NULL-text doc gets a NULL signature row (not the empty text's
    signature), leaves the other rows of its Arrow batch aligned, and
    never pairs."""
    from geotools_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, "the quick brown fox jumps"),
            (3, None),
            (4, "the quick brown fox jumps over"),
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    ).coalesce(1)
    sig = {r.doc_id: r.mh for r in minhash_signatures(docs, num_perm=16).collect()}
    assert sig[1] is None and sig[3] is None and sig[6] is None
    alone = minhash_signatures(docs.filter(F.col("text").isNotNull()), num_perm=16)
    assert {r.doc_id: r.mh for r in alone.collect()} == {
        k: v for k, v in sig.items() if v is not None
    }
    pairs = minhash_lsh_pairs(docs, num_perm=64, bands=16, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(2, 4)]


def test_np_vectors_rejects_ragged_and_null_vectors(spark):
    """Ragged lengths whose total divides evenly ([3, 5] over 2 rows used
    to reshape silently to dim 4) and NULL vectors raise a clear error,
    in the kernel and through a public operator."""
    import pyarrow as pa

    from geotools_spark.operators.similarity import _np_vectors, pq_ann_topk

    assert _np_vectors(pa.array([[1.0, 2.0], [3.0, 4.0]])).tolist() == [
        [1.0, 2.0], [3.0, 4.0],
    ]
    with pytest.raises(ValueError, match="ragged vector column"):
        _np_vectors(pa.array([[1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0, 5.0]]))
    with pytest.raises(ValueError, match="NULL vector"):
        _np_vectors(pa.array([[1.0, 2.0], None]))

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0, 4.0, 5.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    books = [[[0.0, 0.0]], [[0.0, 0.0]]]  # m=2 subspaces of 2 -> dim 4
    with pytest.raises(Exception, match="ragged vector column"):
        pq_ann_topk(emb, [0.0] * 4, k=1, codebooks=books).collect()


def test_pq_ann_recall_and_determinism(spark):
    """PQ ANN (8x one-byte codes + ADC + exact re-rank) recall vs the
    exact top-k, plus rerun determinism (sample codebooks + first-min
    tie-breaks leave nothing engine-ordered)."""
    import pyspark.sql.functions as F

    from geotools_spark.operators.similarity import cosine_topk, pq_ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first().embedding]
    exact = {r.vec_id for r in cosine_topk(emb, qvec, k=20).collect()}
    got = pq_ann_topk(emb, qvec, k=20, m=8, ksub=32, rerank=8).collect()
    ids = [r.vec_id for r in got]
    recall = len(exact & set(ids)) / len(exact)
    assert recall >= 0.7, recall  # 0.9 measured; slack for fixture drift
    assert 0 in ids  # the query vector survives quantization
    again = [
        r.vec_id
        for r in pq_ann_topk(emb, qvec, k=20, m=8, ksub=32, rerank=8).collect()
    ]
    assert ids == again
    # re-rank is exact: the returned cosines equal the brute-force ones
    brute = {
        r.vec_id: r.cosine for r in cosine_topk(emb, qvec, k=500).collect()
    }
    for r in got:
        assert brute[r.vec_id] == r.cosine


def test_ivf_pq_ann_recall(spark):
    """IVF-PQ combined (probe pruning + ADC + exact re-rank) recall vs
    the exact top-k; codebooks are the full-corpus index-time artifact
    (not resampled from the probe subset)."""
    import pyspark.sql.functions as F

    from geotools_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint(
        eager=True
    )
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first().embedding]
    exact = {r.vec_id for r in cosine_topk(emb, qvec, k=20).collect()}
    ids = [
        r.vec_id
        for r in ivf_pq_ann_topk(
            emb, qvec, k=20, nlist=8, nprobe=4, m=8, ksub=32, rerank=8
        ).collect()
    ]
    recall = len(exact & set(ids)) / len(exact)
    assert recall >= 0.6, recall  # 0.8 measured; slack for fixture drift
    assert 0 in ids


def test_lsh_ann_join_batch_recall(spark):
    """Batch LSH join: per-query top-k over a query SET in one bucket
    join. Each query's result matches the per-query multiprobe
    lsh_ann_topk (same planes, same hamming<=probe_flips probe set),
    and every query retrieves itself at rank 1. The second input is a
    16-dim slice of the corpus with one probe flip, where bucket
    pruning changes the top-k: the planes must take the data's
    dimension (64-dim planes over 16-dim vectors put every vector in
    bucket 0, silently turning the join into brute force)."""
    import pyspark.sql.functions as F

    from geotools_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_join,
        lsh_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint(
        eager=True
    )
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    for corpus, flips in ((emb, 2), (emb16, 1)):
        qs = corpus.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        out = lsh_ann_join(qs, corpus, k=10, bits=6, probe_flips=flips).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        assert set(by_q) == {0, 1, 2}
        pruned = False
        for qid, rows in by_q.items():
            rows.sort()
            assert rows[0] == (1, qid)  # self at rank 1
            qvec = [
                float(v)
                for v in corpus.filter(F.col("vec_id") == qid).first().embedding
            ]
            single = [
                (r.rank, r.vec_id)
                for r in lsh_ann_topk(
                    corpus, qvec, k=10, bits=6, probe_flips=flips
                ).collect()
            ]
            assert rows == sorted(single), qid
            exact = [
                (r.rank, r.vec_id)
                for r in cosine_topk(corpus, qvec, k=10).collect()
            ]
            pruned |= rows != sorted(exact)
        if corpus is emb16:
            assert pruned  # the buckets really cut the candidate set
    # an empty query set has no dimension to read and no neighbours
    assert lsh_ann_join(qs.limit(0), corpus, k=10, bits=6).count() == 0


def test_centroid_ties_pick_lowest_index(spark):
    """The first-min rule on exact ties: a vector equidistant from
    several nearest centroids goes to the lowest index in the Catalyst
    ``assign_cell_expr``, the NumPy ``_np_assign`` and the driver-side
    ``_probe_cells``; ``probe_cells_expr`` ranks every row exactly as
    ``_probe_cells`` does, ties included."""
    import numpy as np

    from geotools_spark.operators.similarity import (
        _np_assign,
        _probe_cells,
        assign_cell_expr,
        probe_cells_expr,
    )

    # centroid 4 duplicates centroid 2
    centers = [[1.0, 0.0], [-1.0, 0.0], [0.0, 1.0], [0.0, -1.0], [0.0, 1.0]]
    want = {  # vector -> lowest index among its equidistant nearest
        (0.0, 0.0): 0,  # all five tie
        (0.5, 0.5): 0,  # 0 and 2 (and 4) tie
        (-0.5, -0.5): 1,  # 1 and 3 tie
        (-1.0, -1.0): 1,
        (0.0, 2.0): 2,  # 2 and its duplicate 4 tie
        (0.25, -3.0): 3,  # no tie
    }
    vecs = list(want)
    for v, idx in want.items():
        d = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in centers]
        assert d.index(min(d)) == idx
    df = spark.createDataFrame(
        [(i, list(v)) for i, v in enumerate(vecs)], "i int, v array<double>"
    )
    got = df.select(
        "i",
        assign_cell_expr("v", centers).alias("cell"),
        probe_cells_expr("v", centers, len(centers)).alias("probes"),
    ).collect()
    np_cells = _np_assign(np.asarray(vecs), np.asarray(centers))
    for r in got:
        v = vecs[r.i]
        assert r.cell == want[v] == np_cells[r.i], v
        assert _probe_cells(centers, list(v), 1) == [want[v]], v
        assert list(r.probes) == _probe_cells(centers, list(v), len(centers)), v


def test_probe_masks_generalize_beyond_two_flips():
    from geotools_spark.operators.similarity import probe_masks

    assert len(probe_masks(6, 2)) == 1 + 6 + 15
    assert len(probe_masks(6, 3)) == 1 + 6 + 15 + 20  # not silently capped
    assert len(set(probe_masks(8, 3))) == len(probe_masks(8, 3))


def test_ivf_pq_ann_join_batch(spark):
    """Batch IVF-PQ join: per-query recall vs exact, self at rank 1,
    rerun-deterministic."""
    import pyspark.sql.functions as F

    from geotools_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_ann_join,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint(
        eager=True
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = ivf_pq_ann_join(
        qs, emb, k=10, nlist=8, nprobe=4, m=8, ksub=32, rerank=8
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        rows.sort()
        assert rows[0] == (1, qid)
        qvec = [
            float(v)
            for v in emb.filter(F.col("vec_id") == qid).first().embedding
        ]
        true = {r.vec_id for r in cosine_topk(emb, qvec, k=10).collect()}
        recall = len(true & {v for _, v in rows}) / 10
        assert recall >= 0.5, (qid, recall)  # 0.7-0.9 measured
    out2 = ivf_pq_ann_join(
        qs, emb, k=10, nlist=8, nprobe=4, m=8, ksub=32, rerank=8
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
