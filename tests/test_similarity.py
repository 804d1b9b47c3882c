"""Similarity search: brute-force correctness vs numpy, LSH/IVF recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lyssandra_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    pdf = emb.toPandas().sort_values("vec_id")
    return (
        pdf["vec_id"].to_numpy(),
        np.asarray(pdf["embedding"].tolist(), dtype=np.float64),
    )


def _numpy_topk(ids, X, qids, k=5):
    nrm = np.linalg.norm(X, axis=1)
    out = {}
    for qi in qids:
        q = X[ids == qi][0]
        sims = X @ q / (nrm * np.linalg.norm(q) + 1e-300)
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
        out[qi] = [ids[i] for i in order if ids[i] != qi][:k]
    return out


def test_bruteforce_matches_numpy(spark, emb, emb_np):
    ids, X = emb_np
    q = emb.where(F.col("vec_id") < 8)
    got = S.cosine_topk_bruteforce(emb, q, k=5).toPandas()
    expect = _numpy_topk(ids, X, [i for i in ids if i < 8], k=5)
    for qid, grp in got.groupby("qid"):
        assert grp.sort_values("rk")["vec_id"].tolist() == expect[qid]


def test_lsh_recall(spark, emb, emb_np):
    ids, X = emb_np
    q = emb.where(F.col("vec_id") < 20)
    exact = _numpy_topk(ids, X, [i for i in ids if i < 20], k=5)
    # fixture neighbors are weak (mean top-5 cosine ~0.32 -> theta ~71deg):
    # hyperplane collision prob (1-theta/pi)^planes => 4 planes x 12 tables
    # gives ~0.8 estimated recall on this geometry
    got = S.cosine_topk_lsh(emb, q, k=5, n_planes=4, n_tables=12).toPandas()
    hits = tot = 0
    for qid, true_nn in exact.items():
        found = set(got[got.qid == qid]["vec_id"])
        hits += len(found & set(true_nn))
        tot += len(true_nn)
    recall = hits / tot
    assert recall > 0.5, f"LSH recall@5 too low: {recall}"


def test_ivf_recall(spark, emb, emb_np):
    ids, X = emb_np
    q = emb.where(F.col("vec_id") < 20)
    exact = _numpy_topk(ids, X, [i for i in ids if i < 20], k=5)
    got = S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=4).toPandas()
    hits = tot = 0
    for qid, true_nn in exact.items():
        found = set(got[got.qid == qid]["vec_id"])
        hits += len(found & set(true_nn))
        tot += len(true_nn)
    recall = hits / tot
    assert recall > 0.5, f"IVF recall@5 too low: {recall}"


def test_ivf_deterministic_across_repartition(spark, emb):
    """The IVF index must be stable across partition layouts: the centroid
    sample is ordered (orderBy id + limit), so two runs over differently-
    partitioned corpora return the identical result set."""
    q = emb.where(F.col("vec_id") < 8)
    a = S.ivf_topk(emb.repartition(3), q, k=5, n_cells=8, nprobe=4).toPandas()
    b = S.ivf_topk(emb.repartition(17), q, k=5, n_cells=8, nprobe=4).toPandas()
    key = lambda df: sorted(map(tuple, df[["qid", "vec_id", "rk"]].to_numpy()))  # noqa: E731
    assert key(a) == key(b)


def test_vectorized_matches_bruteforce(spark, emb, emb_np):
    """cosine_topk_vectorized must equal the JVM brute force exactly
    (same top-k sets, same ranks, sims allclose) across partitionings."""
    q = emb.where(F.col("vec_id") < 12)
    a = S.cosine_topk_bruteforce(emb, q, k=5).toPandas()
    b = S.cosine_topk_vectorized(emb.repartition(7), q, k=5).toPandas()
    a = a.sort_values(["qid", "rk"]).reset_index(drop=True)
    b = b.sort_values(["qid", "rk"]).reset_index(drop=True)
    assert a[["qid", "vec_id", "rk"]].values.tolist() == \
        b[["qid", "vec_id", "rk"]].values.tolist()
    np.testing.assert_allclose(a["cos_sim"], b["cos_sim"], rtol=1e-9)


def test_ivf_refined_recall(spark, emb, emb_np):
    """Distributed k-means refinement must keep (or improve) IVF recall;
    refined centroids are trained on the FULL corpus via constant-size
    per-partition sufficient statistics."""
    ids, X = emb_np
    q = emb.where(F.col("vec_id") < 20)
    exact = _numpy_topk(ids, X, [i for i in ids if i < 20], k=5)

    def recall(df):
        got = df.toPandas()
        hits = tot = 0
        for qid, true_nn in exact.items():
            found = set(got[got.qid == qid]["vec_id"])
            hits += len(found & set(true_nn))
            tot += len(true_nn)
        return hits / tot

    base = recall(S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=4))
    refined = recall(S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=4,
                                refine_iters=2))
    assert refined >= base - 0.1, (base, refined)
    assert refined > 0.5


def test_kmeans_refine_moves_toward_cell_means(spark, emb, emb_np):
    """One distributed Lloyd pass == the numpy Lloyd pass on the same data."""
    _, X = emb_np
    rng = np.random.default_rng(5)
    C0 = X[rng.choice(len(X), size=8, replace=False)].copy()
    got = S.kmeans_refine(
        emb.select(F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(5),
        C0, emb_col="emb", n_iter=1,
    )
    d2 = ((X[:, None, :] - C0[None, :, :]) ** 2).sum(-1)
    a = d2.argmin(1)
    exp = C0.copy()
    for j in range(8):
        sel = X[a == j]
        if len(sel):
            exp[j] = sel.mean(0)
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12)


def test_segment_accumulate_empty_and_matches_add_at():
    """An empty assignment array is a no-op (as ``np.add.at`` is), and a
    non-empty one adds the same per-cell sums and counts as ``add.at``."""
    sums, counts = np.ones((3, 2)), np.arange(3)
    S._segment_accumulate(sums, counts, np.array([], dtype=np.int64),
                          np.empty((0, 2)))
    np.testing.assert_array_equal(sums, np.ones((3, 2)))
    np.testing.assert_array_equal(counts, np.arange(3))

    rng = np.random.default_rng(2)
    a, X = rng.integers(0, 3, 20), rng.normal(size=(20, 2))
    exp_s, exp_c = sums.copy(), counts.copy()
    np.add.at(exp_s, a, X)
    np.add.at(exp_c, a, 1)
    S._segment_accumulate(sums, counts, a, X)
    np.testing.assert_allclose(sums, exp_s, rtol=1e-12)
    np.testing.assert_array_equal(counts, exp_c)


def test_assign_cells_arrow_matches_numpy(spark, emb, emb_np):
    """Broadcast-centroid Arrow assignment == numpy argmin/argsort
    (ascending distance, ties by ascending cell id), across partitionings."""
    ids, X = emb_np
    rng = np.random.default_rng(9)
    C = X[rng.choice(len(X), size=12, replace=False)].copy()
    src = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    got = (
        S.assign_cells_arrow(src.repartition(7), C, "e", nprobe=3)
        .select("vec_id", "cells")
        .toPandas()
        .sort_values("vec_id")
    )
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    exp = np.argsort(d2, axis=1, kind="stable")[:, :3]
    order = np.argsort(ids)
    np.testing.assert_array_equal(
        np.asarray(got["cells"].tolist()), exp[order]
    )


def test_ivf_arrow_path_matches_expression_path(spark, emb, monkeypatch):
    """Forcing the mapInArrow assignment (MAX_EXPR_CELLS=0) returns the
    same top-k as the literal-expression path at small n_cells."""
    q = emb.where(F.col("vec_id") < 6)
    base = sorted(
        map(tuple, S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=4)
            .select("qid", "vec_id", "rk").collect())
    )
    monkeypatch.setattr(S, "MAX_EXPR_CELLS", 0)
    arrow = sorted(
        map(tuple, S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=4)
            .select("qid", "vec_id", "rk").collect())
    )
    assert arrow == base


def test_ivf_large_cell_count_bounded_plan(spark, emb, emb_np):
    """n_cells=256 must take the broadcast path: the plan compiles in
    bounded time/size (no O(n_cells x dim) literal unrolling) and recall
    vs brute force stays reasonable."""
    ids, X = emb_np
    q = emb.where(F.col("vec_id") < 6)
    df = S.ivf_topk(emb, q, k=5, n_cells=256, nprobe=32, sample_rows=512)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 2_000_000, "plan string exploded — literal unrolling?"
    got = df.toPandas()
    expect = _numpy_topk(ids, X, [i for i in ids if i < 6], k=5)
    hits = sum(
        len(set(grp["vec_id"]) & set(expect[qid]))
        for qid, grp in got.groupby("qid")
    )
    assert hits / (5 * len(expect)) >= 0.5  # nprobe=32/256 cells probed


def test_hyperplane_buckets_arrow_matches_expression(spark, emb):
    """The broadcast-GEMM bucket path must produce exactly the same
    (id, tbl, bucket) rows as the in-plan expression path."""
    src = emb.select("vec_id", F.col("embedding").cast("array<double>")
                     .alias("emb"))
    planes = np.random.default_rng(13).standard_normal((5, 8, 64))
    expr = S.hyperplane_buckets(
        src, planes, "emb", keep=["vec_id"], max_expr_literals=10**9
    )
    arrow = S.hyperplane_buckets(
        src.repartition(6), planes, "emb", keep=["vec_id"], max_expr_literals=0
    )
    got_e = sorted(map(tuple, expr.collect()))
    got_a = sorted(map(tuple, arrow.collect()))
    assert got_e == got_a
    assert len(got_e) == src.count() * 5


def test_pq_topk_recall_and_shape(spark, emb, emb_np):
    """PQ + ADC + exact re-rank: recall@5 vs brute force must be high at
    m=8 subspaces x 16 codes with rerank=32, and returned cos_sim values
    are EXACT (re-rank computes true cosines, so every returned (qid, id)
    pair's similarity matches the brute-force value)."""
    ids, X = emb_np
    q = emb.where(F.col("vec_id") < 8)
    got = S.pq_topk(emb, q, k=5, m=8, n_codes=64, rerank=64).toPandas()
    expect = _numpy_topk(ids, X, [i for i in ids if i < 8], k=5)
    assert set(got.groupby("qid").size()) == {5}
    hits = sum(
        len(set(grp["vec_id"]) & set(expect[qid]))
        for qid, grp in got.groupby("qid")
    )
    recall = hits / (5 * len(expect))
    assert recall >= 0.9, recall  # measured 0.93 (deterministic seeds);
    # defaults (n_codes=256, 8-bit codes) measure 1.00 on this fixture
    # exactness of the re-ranked similarities
    nrm = np.linalg.norm(X, axis=1)
    for _, r in got.iterrows():
        qv = X[ids == r["qid"]][0]
        cv = X[ids == r["vec_id"]][0]
        true = qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))
        assert abs(r["cos_sim"] - true) < 1e-9


def test_pq_train_shapes_and_determinism():
    rng = np.random.default_rng(0)
    X = rng.standard_normal((500, 64))
    b1 = S.pq_train(X, m=8, n_codes=16)
    b2 = S.pq_train(X, m=8, n_codes=16)
    assert b1.shape == (8, 16, 8)  # explicit small-codebook config
    np.testing.assert_array_equal(b1, b2)
    import pytest as _pt
    with _pt.raises(ValueError, match="divisible"):
        S.pq_train(X, m=7)


def test_pq_refine_beats_sample_training_on_skewed_corpus(spark):
    """pq_refine closes the sample-bias gap: the ordered 2048-row driver
    sample (ids 0..2047) is a TIGHT cluster, the tail (ids 2048..) is a
    different, wide distribution — so sample-trained codebooks
    misrepresent the tail and refined ones must (a) differ, (b) lower
    full-corpus quantization distortion, and (c) not lose recall on
    tail queries."""
    rng = np.random.default_rng(41)
    head = rng.standard_normal((2048, 64)) * 0.05 + rng.standard_normal(64)
    # tail: 256 well-separated clusters x 8 near-dup members — each tail
    # vector's true top-5 are its cluster siblings (cosine ~0.99), which a
    # tail-representative codebook finds and a head-only codebook cannot
    centers = rng.standard_normal((256, 64)) * 3.0
    tail = (np.repeat(centers, 8, axis=0)
            + rng.standard_normal((2048, 64)) * 0.05)
    # shuffle the tail so cluster siblings are NOT id-adjacent (otherwise
    # the approx-score id-ascending tie-break finds siblings by accident
    # even with a useless codebook)
    tail = tail[rng.permutation(2048)]
    X = np.concatenate([head, tail])
    ids = np.arange(len(X))
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)],
        "vec_id long, embedding array<double>",
    ).repartition(8).cache()
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def distortion(books):
        m, n_codes, dsub = books.shape
        S = Xn.reshape(len(Xn), m, dsub)
        tot = 0.0
        for j in range(m):
            Cj = books[j]
            d2 = ((S[:, j, :, None] - Cj.T[None, :, :]) ** 2).sum(1)
            tot += d2.min(1).sum()
        return tot / len(Xn)

    sample_books = S.pq_train(
        Xn[:2048], m=8, n_codes=16, seed=29
    )
    refined_books = S.pq_refine(
        df.select("vec_id", F.col("embedding").alias("emb")),
        sample_books, emb_col="emb", n_iter=2,
    )
    assert not np.array_equal(sample_books, refined_books)
    assert distortion(refined_books) < distortion(sample_books)

    # end-to-end: recall@5 on tail queries, refined >= sample-trained
    qids = [2048, 2300, 2600, 3000, 3500]
    q = df.where(F.col("vec_id").isin(qids))
    expect = _numpy_topk(ids, X, qids, k=5)

    def recall(res):
        hits = sum(
            len(set(grp["vec_id"]) & set(expect[qid]))
            for qid, grp in res.groupby("qid")
        )
        return hits / (5 * len(qids))

    kw = dict(k=5, m=8, n_codes=16, rerank=8, sample_rows=2048, seed=29)
    r_sample = recall(S.pq_topk(df, q, **kw).toPandas())
    r_refined = recall(S.pq_topk(df, q, refine_iters=2, **kw).toPandas())
    assert r_refined >= r_sample, (r_refined, r_sample)
    assert r_refined >= 0.5, r_refined
    df.unpersist()


def test_pq_refine_ignores_null_and_ragged_embeddings(spark):
    """A null / wrong-dim / null-element embedding row must not reach the
    Arrow pass: flatten+reshape would silently misalign every later row
    in the batch (corrupting the per-subspace sum/count statistics) or
    NaN-poison them. pq_refine filters those rows, so refined books must
    be IDENTICAL to refining on the clean subset alone."""
    rng = np.random.default_rng(17)
    X = rng.standard_normal((512, 16))
    clean_rows = [(int(i), [float(v) for v in x]) for i, x in enumerate(X)]
    dirty_rows = [
        (10_001, None),                            # null embedding
        (10_002, [float(v) for v in X[0][:7]]),    # wrong dimension
        (10_003, [None] + [float(v) for v in X[1][1:]]),  # null element
        (10_004, [float("nan")] * 16),             # NaN elements
        # inf -> L2 norm inf -> normalized NaN: poisons like literal NaN
        (10_005, [float("inf")] + [float(v) for v in X[2][1:]]),
    ]
    schema = "vec_id long, emb array<double>"
    # NO repartition: keep list order so both frames stream the clean
    # rows in the same sequence — float summation order is then
    # identical and the codebook comparison can be exact
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(clean_rows + dirty_rows, schema)
    books0 = S.pq_train(
        X / np.linalg.norm(X, axis=1, keepdims=True), m=4, n_codes=8, seed=3
    )
    # single partition on both sides: float summation order is then
    # identical, so the comparison can be exact
    b_clean = S.pq_refine(clean.coalesce(1), books0, emb_col="emb", n_iter=1)
    b_dirty = S.pq_refine(dirty.coalesce(1), books0, emb_col="emb", n_iter=1)
    assert np.array_equal(b_clean, b_dirty)
    assert np.isfinite(b_dirty).all()


def test_pq_topk_empty_corpus_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="non-empty corpus"):
        S.pq_topk(empty, q, k=5)
