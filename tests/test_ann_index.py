"""Persisted ANN indexes (operators/ann_index.py): indexed results must
equal the per-call operators bit-for-bit under the same artifacts,
incremental delta assignment must equal a full rebuild when the trained
artifacts coincide, and the serving plans must never re-scan or
re-train over the corpus."""

import json
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lyssandra_spark.operators import similarity as S
from lyssandra_spark.operators.ann_index import (
    ivf_topk_indexed,
    pq_topk_indexed,
    refresh_ivf_index,
    refresh_ivfpq_index,
    refresh_pq_index,
)
from lyssandra_spark.sources.catalog import ParquetCatalog


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _sorted(df):
    return (
        df.toPandas().sort_values(["qid", "rk"]).reset_index(drop=True)
    )


def _hash_ranked_ids(emb):
    """vec_ids in the trainers' hash-sample order (xxhash64 asc) — the
    incremental==rebuild equality tests need the bootstrap batch to
    CONTAIN the full corpus's training sample, so batches are cut along
    this order instead of raw id ranges."""
    return [
        r["vec_id"]
        for r in emb.select("vec_id")
        .orderBy(F.xxhash64("vec_id"), "vec_id").collect()
    ]


def test_ivf_indexed_matches_per_call(spark, emb, tmp_path):
    """ivf_topk_indexed == ivf_topk bit-for-bit: identical hash-ordered
    sample (the full 500-row table fits under sample_rows) -> identical
    centroids -> identical cells, probes, and rankings. refine_iters=0
    on both sides — bit-exact parity is only CONTRACTED at refine 0
    (distributed refinement sums floats in partition order; see
    kmeans_refine); the refine default is covered by
    test_refresh_defaults_refine_and_record_drift. The serving plan
    reads the index table only — the source table never appears."""
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb, "vecs", mode="overwrite")
    sid = refresh_ivf_index(cat, "vecs", "ivf", refine_iters=0)
    q = emb.where(F.col("vec_id") < 6)

    got = _sorted(ivf_topk_indexed(cat, "ivf", q, k=5, nprobe=4))
    want = _sorted(S.ivf_topk(emb, q, k=5, nprobe=4))
    pd.testing.assert_frame_equal(got, want)

    # no new source snapshot -> refresh is a no-op (same index snapshot)
    assert refresh_ivf_index(cat, "vecs", "ivf", refine_iters=0) == sid

    # catalog scans carry the snap partition column; the index scan is
    # recognizable by its cell column, the source table by label. (Path
    # substrings are unreliable: Location strings truncate at
    # spark.sql.maxMetadataStringLength.)
    plan = (
        ivf_topk_indexed(cat, "ivf", q, k=5, nprobe=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    cat_scans = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "snap#" in ln
    ]
    assert len(cat_scans) == 1 and "cell#" in cat_scans[0]  # index only —
    # the source table (label column) is never re-scanned at query time
    assert not any("label#" in ln for ln in cat_scans)

    # divergent refresh spec fails loudly instead of mixing cell spaces
    with pytest.raises(ValueError, match="spec"):
        refresh_ivf_index(cat, "vecs", "ivf", n_cells=8)


def test_ivf_incremental_equals_full_rebuild(spark, emb, tmp_path):
    """Delta snapshots assigned under the FROZEN centroids == one-shot
    rebuild over the full corpus, provided both train on the same
    sample (batch 1 holds the first `sample_rows` ids in HASH order —
    the trainers draw by xxhash64(id), so containment is arranged along
    that order). refine_iters=0: refinement would train over each
    table's own corpus, which differs by construction. Also pins the
    re-ingest guard (appending old rows advances the watermark without
    duplicating index rows)."""
    ranked = _hash_ranked_ids(emb)
    b1 = emb.where(F.col("vec_id").isin(ranked[:250]))
    b2 = emb.where(~F.col("vec_id").isin(ranked[:250]))
    kw = dict(n_cells=8, sample_rows=64, seed=23, refine_iters=0)

    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(b1, "vecs", mode="overwrite")
    s1 = refresh_ivf_index(cat, "vecs", "ivf", **kw)
    cat.write(b2, "vecs", mode="append")
    s2 = refresh_ivf_index(cat, "vecs", "ivf", **kw)
    assert s2 > s1

    cat.write(emb, "vecs_full", mode="overwrite")
    refresh_ivf_index(cat, "vecs_full", "ivf_full", **kw)

    ci = cat.latest_meta("ivf", "centroids")["centroids"]
    cf = cat.latest_meta("ivf_full", "centroids")["centroids"]
    assert ci == cf  # same ordered sample -> identical training

    gi = (
        cat.read("ivf").select("vec_id", "cell").toPandas()
        .sort_values("vec_id").reset_index(drop=True)
    )
    gf = (
        cat.read("ivf_full").select("vec_id", "cell").toPandas()
        .sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(gi, gf)

    # re-ingesting batch 1 wholesale: watermark advances, no dup rows
    n_rows = cat.read("ivf").count()
    cat.write(b1, "vecs", mode="append")
    s3 = refresh_ivf_index(cat, "vecs", "ivf", **kw)
    assert s3 > s2
    assert cat.read("ivf").count() == n_rows

    q = emb.where(F.col("vec_id") % 97 == 0)
    pd.testing.assert_frame_equal(
        _sorted(ivf_topk_indexed(cat, "ivf", q, k=5, nprobe=3)),
        _sorted(ivf_topk_indexed(cat, "ivf_full", q, k=5, nprobe=3)),
    )


def test_pq_indexed_matches_per_call(spark, emb, tmp_path):
    """pq_topk_indexed == pq_topk bit-for-bit under identical codebooks
    (refine_iters=0 on both sides — the bit-exact-parity setting, as in
    the IVF twin above), and the ADC scan's parquet read prunes to
    (id, code) — the true vectors never cross that scan (the
    64x-bandwidth point of PQ)."""
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb, "vecs", mode="overwrite")
    sid = refresh_pq_index(cat, "vecs", "pq", m=8, n_codes=32,
                           refine_iters=0)
    q = emb.where(F.col("vec_id") < 6)

    got = _sorted(pq_topk_indexed(cat, "pq", q, k=5, rerank=48))
    want = _sorted(S.pq_topk(emb, q, k=5, rerank=48, m=8, n_codes=32))
    pd.testing.assert_frame_equal(got, want)

    assert refresh_pq_index(cat, "vecs", "pq", m=8, n_codes=32,
                            refine_iters=0) == sid

    plan = (
        pq_topk_indexed(cat, "pq", q, k=5, rerank=48)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # an over-large query table can't silently OOM the driver LUT build:
    # distributed=False restores the loud refusal (the default now ROUTES
    # the overflow to the no-collect distributed plan instead — covered
    # by test_pq_distributed_serve_matches_collected)
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk_indexed(cat, "pq", emb, k=5, max_queries=100,
                        distributed=False)
    cat_scans = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "snap#" in ln
    ]
    # both catalog scans hit the index table (code column present as a
    # read or pruned column); the raw source (label) never re-scanned
    assert cat_scans and not any("label#" in ln for ln in cat_scans)
    # the scan feeding the ADC mapInArrow reads code WITHOUT embedding —
    # the columnar prune PQ exists for
    code_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "code:array<int>" in ln
        and "embedding" not in ln
    ]
    assert code_scans, "no column-pruned (id, code) scan in the plan"


def test_pq_incremental_equals_full_rebuild(spark, emb, tmp_path):
    """Frozen-codebook delta quantization == one-shot rebuild when both
    train on the same hash-ordered sample (batch 1 = the hash-first 250
    ids, so it contains the full table's 64-row draw); indexed rankings
    coincide."""
    ranked = _hash_ranked_ids(emb)
    b1 = emb.where(F.col("vec_id").isin(ranked[:250]))
    b2 = emb.where(~F.col("vec_id").isin(ranked[:250]))
    kw = dict(m=8, n_codes=16, sample_rows=64, seed=29, refine_iters=0)

    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(b1, "vecs", mode="overwrite")
    refresh_pq_index(cat, "vecs", "pq", **kw)
    cat.write(b2, "vecs", mode="append")
    refresh_pq_index(cat, "vecs", "pq", **kw)

    cat.write(emb, "vecs_full", mode="overwrite")
    refresh_pq_index(cat, "vecs_full", "pq_full", **kw)

    assert (
        cat.latest_meta("pq", "codebooks")["codebooks"]
        == cat.latest_meta("pq_full", "codebooks")["codebooks"]
    )
    gi = (
        cat.read("pq").select("vec_id", "code").toPandas()
        .sort_values("vec_id").reset_index(drop=True)
    )
    gf = (
        cat.read("pq_full").select("vec_id", "code").toPandas()
        .sort_values("vec_id").reset_index(drop=True)
    )
    assert gi.vec_id.tolist() == gf.vec_id.tolist()
    assert [list(c) for c in gi.code] == [list(c) for c in gf.code]

    q = emb.where(F.col("vec_id") % 97 == 0)
    pd.testing.assert_frame_equal(
        _sorted(pq_topk_indexed(cat, "pq", q, k=5, rerank=48)),
        _sorted(pq_topk_indexed(cat, "pq_full", q, k=5, rerank=48)),
    )


def test_ann_index_rebuild_on_source_overwrite(spark, emb, tmp_path):
    """A destructive source overwrite kills the watermark chain: the
    next refresh retrains + reassigns from scratch instead of folding
    deltas onto a stale cell space."""
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb, "vecs", mode="overwrite")
    refresh_ivf_index(cat, "vecs", "ivf", n_cells=8, sample_rows=64)
    c_old = cat.latest_meta("ivf", "centroids")["centroids"]

    # overwrite with a DIFFERENT row subset (shifted ids, so the first
    # sample_rows embeddings change) -> the sample differs -> retrain
    shifted = emb.where(F.col("vec_id") >= 250).withColumn(
        "vec_id", F.col("vec_id") - 250
    )
    cat.write(shifted, "vecs", mode="overwrite")
    refresh_ivf_index(cat, "vecs", "ivf", n_cells=8, sample_rows=64)
    c_new = cat.latest_meta("ivf", "centroids")["centroids"]
    assert c_new != c_old
    assert cat.read("ivf").count() == 250


def test_ivf_missing_index_raises(spark, emb, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb.limit(10), "t", mode="overwrite")
    with pytest.raises(ValueError, match="centroids"):
        ivf_topk_indexed(cat, "nope_" + "t", emb.limit(1))


# per kind: refresh, its kwargs (refine_iters=0: the final assertion
# compares against a one-shot rebuild over the FULL corpus, which
# refinement would train on a different row population than the frozen
# bootstrap artifacts), artifact meta keys, assignment columns
_ANN_KINDS = {
    "ivf": (refresh_ivf_index,
            dict(n_cells=8, sample_rows=64, seed=23, refine_iters=0),
            ("centroids",), ["cell"]),
    "pq": (refresh_pq_index,
           dict(m=8, n_codes=16, sample_rows=64, seed=29, refine_iters=0),
           ("codebooks",), ["code"]),
    "ivfpq": (refresh_ivfpq_index,
              dict(n_cells=8, m=8, n_codes=16, sample_rows=64, seed=31,
                   refine_iters=0),
              ("centroids", "ivfpq_books"), ["cell", "code"]),
}


@pytest.mark.parametrize("kind", list(_ANN_KINDS))
def test_ann_index_survives_audit_compaction(spark, emb, tmp_path, kind):
    """Every branch of the shared refresh state machine, per index kind:
    a no-op refresh writes nothing; re-ingesting already-indexed ids and
    compact()+expire() of already-indexed source snapshots are
    watermark-only appends (no retrain, no reassignment, frozen
    artifacts byte-equal); a later delta still folds incrementally and
    the index equals a one-shot rebuild."""
    refresh, kw, art_keys, assigned = _ANN_KINDS[kind]
    ranked = _hash_ranked_ids(emb)
    b1a = emb.where(F.col("vec_id").isin(ranked[:150]))
    b1b = emb.where(F.col("vec_id").isin(ranked[150:250]))
    b2 = emb.where(~F.col("vec_id").isin(ranked[:250]))

    def artifacts(table):
        return [json.dumps(cat.latest_meta(table, k)[k]) for k in art_keys]

    def assignments(table):
        df = (
            cat.read(table).select("vec_id", *assigned).toPandas()
            .sort_values("vec_id").reset_index(drop=True)
        )
        if "code" in df:
            df["code"] = df["code"].map(tuple)  # arrays compare by value
        return df

    def watermark_only():
        head = cat.snapshots("idx")[-1]
        assert head["mode"] == "append"
        assert set(head["meta"]) == {f"{kind}_spec", f"{kind}_last_snap"}

    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(b1a, "vecs", mode="overwrite")
    cat.write(b1b, "vecs", mode="append")  # a real chain, so compact() rewrites
    s1 = refresh(cat, "vecs", "idx", **kw)
    before = artifacts("idx")

    # no new source snapshot: the head id comes back, nothing is written
    n_snaps = len(cat.snapshots("idx"))
    assert refresh(cat, "vecs", "idx", **kw) == s1
    assert len(cat.snapshots("idx")) == n_snaps

    # wholesale re-ingest of indexed ids: watermark advances, no dup rows
    cat.write(b1a, "vecs", mode="append")
    s2 = refresh(cat, "vecs", "idx", **kw)
    assert s2 > s1
    watermark_only()
    assert cat.read("idx").count() == 250

    cat.compact("vecs")
    cat.expire("vecs")
    s3 = refresh(cat, "vecs", "idx", **kw)
    assert s3 > s2
    watermark_only()  # no rebuild
    assert cat.read("idx").count() == 250
    assert artifacts("idx") == before

    # post-compaction delta folds under the FROZEN artifacts
    cat.write(b2, "vecs", mode="append")
    refresh(cat, "vecs", "idx", **kw)
    assert cat.snapshots("idx")[-1]["mode"] == "append"
    assert artifacts("idx") == before
    assert cat.read("idx").count() == 500

    # and the index still equals a one-shot rebuild over the full corpus
    cat.write(emb, "vecs_full", mode="overwrite")
    refresh(cat, "vecs_full", "idx_full", **kw)
    assert artifacts("idx_full") == before
    pd.testing.assert_frame_equal(assignments("idx"), assignments("idx_full"))


# ------------------------------------------------- round-8: sample bias,
# refine defaults, drift watermark


def _clustered_corpus(spark, n_per=200, n_clusters=4, dim=8, seed=7):
    """A source-clustered, id-sorted corpus: ids 0..n_per-1 are all
    drawn from cluster 0, the next n_per from cluster 1, ... — the
    100 TB-corpus-sorted-by-source shape where a head-of-table training
    sample sees exactly ONE source."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 20.0
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(n_per, dim)) * 0.2
        rows += [
            (c * n_per + i, [float(v) for v in pts[i]]) for i in range(n_per)
        ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_training_sample_unbiased_on_source_clustered_corpus(spark, tmp_path):
    """The regression the hash-ordered sample exists for: on an
    id-sorted corpus whose head is ONE tight source cluster, a
    sample_rows draw smaller than the first cluster must still see
    every cluster — whereas the historical ``orderBy(id).limit`` head
    sample is 100% cluster 0, so its trained centroids subdivide one
    source and quantize the other 3/4 of the corpus badly."""
    from lyssandra_spark.operators.similarity import (
        _lloyd_centroids,
        _training_sample,
    )

    df = _clustered_corpus(spark)  # 4 clusters x 200 rows, ids sorted
    X = np.asarray(
        [r["embedding"] for r in df.orderBy("vec_id").collect()]
    )

    # sample_rows=64 < 200 = head cluster size
    hash_sample = _training_sample(df, "vec_id", "embedding", 64)
    head_sample = np.asarray(
        [r["embedding"]
         for r in df.orderBy("vec_id").limit(64).collect()]
    )

    def clusters_of(sample):
        # nearest true center identifies each sampled row's source
        centers = np.stack([X[c * 200:(c + 1) * 200].mean(0)
                            for c in range(4)])
        d2 = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        return np.bincount(d2.argmin(1), minlength=4)

    head_counts = clusters_of(head_sample)
    hash_counts = clusters_of(hash_sample)
    assert head_counts[0] == 64 and head_counts[1:].sum() == 0  # the bias
    assert (hash_counts > 0).all(), hash_counts  # every source sampled
    assert hash_counts.max() <= 32, hash_counts  # near-uniform draw

    # and the artifact-level consequence: centroids trained on the
    # unbiased sample quantize the FULL corpus strictly better
    def qerr(C):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return d2.min(1).mean()

    q_hash = qerr(_lloyd_centroids(hash_sample, 4, seed=23))
    q_head = qerr(_lloyd_centroids(head_sample, 4, seed=23))
    assert q_hash < 0.25 * q_head, (q_hash, q_head)

    # end-to-end: the refresh builder trains on the unbiased sample, so
    # the drift baseline it records (its own full-corpus mean
    # quantization error) carries the hash sample's quality — far below
    # what head-trained centroids would score. (Exact per-source cell
    # purity is NOT asserted: seeded Lloyd may legitimately merge/split
    # clusters; quantization error is the contract.)
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(df, "vecs", mode="overwrite")
    refresh_ivf_index(cat, "vecs", "ivf", n_cells=4, sample_rows=64,
                      refine_iters=0)
    drift = cat.latest_meta("ivf", "ivf_drift")["ivf_drift"]
    assert drift["mean_qerr"] == pytest.approx(q_hash, rel=1e-9)
    assert drift["mean_qerr"] < 0.25 * q_head


def test_refresh_defaults_refine_and_record_drift(spark, emb, tmp_path):
    """The refresh builders' DEFAULTS now include one full-corpus Lloyd
    pass and drift recording: the frozen centroids differ from the raw
    sample training (refinement actually ran), the manifest carries
    ivf_drift with baseline == first batch's mean_qerr, and a fresh
    index is never 'needs retrain'."""
    from lyssandra_spark.operators.ann_index import needs_retrain
    from lyssandra_spark.operators.similarity import (
        _lloyd_centroids,
        _training_sample,
    )

    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb, "vecs", mode="overwrite")
    refresh_ivf_index(cat, "vecs", "ivf", n_cells=8, sample_rows=64)
    spec = cat.latest_meta("ivf", "ivf_spec")["ivf_spec"]
    assert spec["refine_iters"] == 1
    C = np.asarray(cat.latest_meta("ivf", "centroids")["centroids"])
    raw = _lloyd_centroids(
        _training_sample(
            emb.select("vec_id", F.col("embedding").cast("array<double>")
                       .alias("embedding")),
            "vec_id", "embedding", 64,
        ),
        8, seed=23,
    )
    assert not np.allclose(C, raw)  # the full-corpus pass moved them
    drift = cat.latest_meta("ivf", "ivf_drift")["ivf_drift"]
    assert drift["n"] == emb.count()
    assert drift["mean_qerr"] == drift["baseline_qerr"] > 0
    assert needs_retrain(cat, "ivf") is False

    # indexed queries still return full top-k under refined artifacts
    q = emb.where(F.col("vec_id") < 6)
    got = ivf_topk_indexed(cat, "ivf", q, k=5, nprobe=4).toPandas()
    assert sorted(got.groupby("qid").size()) == [5] * 6


def test_needs_retrain_flips_on_drifted_batch(spark, tmp_path):
    """A second batch drawn FAR from the bootstrap distribution flips
    needs_retrain; a second batch from the SAME distribution does not.
    Covers IVF and PQ (shared drift plumbing, separate error metrics)."""
    from lyssandra_spark.operators.ann_index import needs_retrain

    rng = np.random.default_rng(3)
    # bootstrap distribution: two tight direction clusters (so the
    # trained cells/codebooks SPECIALIZE — the realistic frozen-index
    # state); drifted batch: an orthogonal direction neither artifact
    # ever saw
    d1 = np.array([1.0, 0, 0, 0, 1.0, 0, 0, 0])
    d2 = np.array([0, 1.0, 0, 0, 0, 1.0, 0, 0])
    d3 = np.array([0, 0, 1.0, 0, 0, 0, 1.0, 0])
    base = np.vstack([
        d1 + rng.normal(size=(150, 8)) * 0.05,
        d2 + rng.normal(size=(150, 8)) * 0.05,
    ])
    same = np.vstack([
        d1 + rng.normal(size=(50, 8)) * 0.05,
        d2 + rng.normal(size=(50, 8)) * 0.05,
    ])
    far = d3 + rng.normal(size=(100, 8)) * 0.05

    def _df(mat, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(v) for v in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<double>",
        )

    for kind, refresh in (("ivf", refresh_ivf_index),
                          ("pq", refresh_pq_index)):
        kw = dict(sample_rows=128, refine_iters=1)
        if kind == "pq":
            kw.update(m=4, n_codes=16)
        else:
            kw.update(n_cells=8)
        cat = ParquetCatalog(spark, str(tmp_path / kind))
        cat.write(_df(base, 0), "vecs", mode="overwrite")
        refresh(cat, "vecs", "idx", **kw)
        assert needs_retrain(cat, "idx") is False

        cat.write(_df(same, 1000), "vecs", mode="append")
        refresh(cat, "vecs", "idx", **kw)
        assert needs_retrain(cat, "idx") is False, kind

        cat.write(_df(far, 2000), "vecs", mode="append")
        refresh(cat, "vecs", "idx", **kw)
        assert needs_retrain(cat, "idx") is True, kind
        # the baseline survives across batches (carried forward)
        key = f"{kind}_drift"
        d = cat.latest_meta("idx", key)[key]
        assert d["mean_qerr"] > 1.5 * d["baseline_qerr"]

    with pytest.raises(ValueError, match="drift"):
        cat2 = ParquetCatalog(spark, str(tmp_path / "none"))
        cat2.write(_df(base[:10], 0), "t", mode="overwrite")
        needs_retrain(cat2, "t")


def test_semdedup_online_drift_watermark(spark, tmp_path):
    """Online SemDeDup records semdedup_drift per batch; a batch far
    outside the frozen clustering flips needs_retrain."""
    from lyssandra_spark.operators.ann_index import needs_retrain
    from lyssandra_spark.operators.semdedup import semdedup_new_batch

    rng = np.random.default_rng(9)
    # bootstrap: two tight direction clusters; drifted: an orthogonal
    # direction the frozen centroids never saw (cos to every centroid
    # far below the bootstrap rows' cos to theirs)
    base = np.vstack([
        np.array([1.0, 0, 0, 0]) + rng.normal(size=(60, 4)) * 0.05,
        np.array([0, 1.0, 0, 0]) + rng.normal(size=(60, 4)) * 0.05,
    ])
    far = np.array([0, 0, 1.0, 0]) + rng.normal(size=(60, 4)) * 0.05

    def _df(mat, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(v) for v in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<double>",
        )

    cat = ParquetCatalog(spark, str(tmp_path))
    semdedup_new_batch(cat, "sd", _df(base, 0), n_clusters=8,
                       sample_rows=128, threshold=0.95)
    assert needs_retrain(cat, "sd", threshold=2.0) is False
    d0 = cat.latest_meta("sd", "semdedup_drift")["semdedup_drift"]
    assert d0["mean_qerr"] == d0["baseline_qerr"]

    semdedup_new_batch(cat, "sd", _df(far, 1000), n_clusters=8,
                       sample_rows=128, threshold=0.95)
    assert needs_retrain(cat, "sd", threshold=2.0) is True
    d1 = cat.latest_meta("sd", "semdedup_drift")["semdedup_drift"]
    assert d1["baseline_qerr"] == d0["baseline_qerr"]  # carried forward
    assert d1["mean_qerr"] > d1["baseline_qerr"]


def test_force_rebuild_acts_on_drift_signal(spark, tmp_path):
    """The needs_retrain -> force_rebuild loop: after a drifted batch
    flips the signal, refresh(force_rebuild=True) retrains over the
    FULL chain in place (source untouched), resets the drift baseline,
    and the signal clears. Covers IVF and PQ."""
    from lyssandra_spark.operators.ann_index import needs_retrain

    rng = np.random.default_rng(17)
    d1 = np.array([1.0, 0, 0, 0, 1.0, 0, 0, 0])
    d3 = np.array([0, 0, 1.0, 0, 0, 0, 1.0, 0])
    base = d1 + rng.normal(size=(200, 8)) * 0.05
    far = d3 + rng.normal(size=(100, 8)) * 0.05

    def _df(mat, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(v) for v in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<double>",
        )

    for kind, refresh in (("ivf", refresh_ivf_index),
                          ("pq", refresh_pq_index)):
        kw = dict(sample_rows=128)
        kw.update({"ivf": dict(n_cells=4), "pq": dict(m=4, n_codes=16)}[kind])
        cat = ParquetCatalog(spark, str(tmp_path / kind))
        cat.write(_df(base, 0), "vecs", mode="overwrite")
        refresh(cat, "vecs", "idx", **kw)
        cat.write(_df(far, 1000), "vecs", mode="append")
        refresh(cat, "vecs", "idx", **kw)
        assert needs_retrain(cat, "idx") is True, kind

        n_src_snaps = len(cat.snapshots("vecs"))
        sid = refresh(cat, "vecs", "idx", force_rebuild=True, **kw)
        assert cat.snapshots("idx")[-1]["id"] == sid
        assert cat.snapshots("idx")[-1]["mode"] == "overwrite"  # in place
        assert len(cat.snapshots("vecs")) == n_src_snaps  # source untouched
        assert needs_retrain(cat, "idx") is False, kind  # fresh baseline
        assert cat.read("idx").count() == 300  # full chain reassigned
        key = f"{kind}_drift"
        d = cat.latest_meta("idx", key)[key]
        assert d["mean_qerr"] == d["baseline_qerr"] and d["n"] == 300
        # and the index keeps serving incrementally after the retrain
        cat.write(_df(far + 0.01, 2000), "vecs", mode="append")
        refresh(cat, "vecs", "idx", **kw)
        assert cat.snapshots("idx")[-1]["mode"] == "append"
        assert needs_retrain(cat, "idx") is False, kind
        assert cat.read("idx").count() == 400


def test_mean_quantization_error_matches_numpy(spark):
    """The distributed (sum, n) drift pass == a direct numpy mean, and
    the skip contract holds (rows the error fn drops don't count)."""
    from lyssandra_spark.operators.ann_index import (
        _ivf_row_err,
        _pq_row_err,
        mean_quantization_error,
    )
    from lyssandra_spark.operators.similarity import pq_train

    rng = np.random.default_rng(21)
    X = rng.normal(size=(500, 8))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(7)

    C = rng.normal(size=(6, 8))
    got, n = mean_quantization_error(df, "embedding", _ivf_row_err(C))
    want = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).min(1).mean()
    assert n == 500 and got == pytest.approx(want, rel=1e-12)

    books = pq_train(
        X[:128] / np.linalg.norm(X[:128], axis=1, keepdims=True),
        m=4, n_codes=8, seed=3,
    )
    got_pq, n_pq = mean_quantization_error(df, "embedding",
                                           _pq_row_err(books))
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn.reshape(500, 4, 2)
    want_pq = sum(
        ((S[:, j, :][:, None, :] - books[j][None, :, :]) ** 2)
        .sum(-1).min(1)
        for j in range(4)
    ).mean()
    assert n_pq == 500 and got_pq == pytest.approx(want_pq, rel=1e-12)

    # skip contract: an error fn that drops every row -> (0.0, 0)
    got0, n0 = mean_quantization_error(
        df, "embedding", lambda X: np.empty(0)
    )
    assert (got0, n0) == (0.0, 0)


def test_auto_retrain_rebuilds_within_one_call(spark, tmp_path):
    """auto_retrain closes the drift loop inside the refresh call: a
    drifted delta folds, the signal fires, and the SAME call returns a
    rebuilt (overwrite) index with a fresh baseline; an un-drifted
    delta stays a plain append."""
    from lyssandra_spark.operators.ann_index import needs_retrain

    rng = np.random.default_rng(29)
    d1 = np.array([1.0, 0, 0, 0, 1.0, 0, 0, 0])
    d3 = np.array([0, 0, 1.0, 0, 0, 0, 1.0, 0])
    base = d1 + rng.normal(size=(200, 8)) * 0.05
    same = d1 + rng.normal(size=(50, 8)) * 0.05
    far = d3 + rng.normal(size=(100, 8)) * 0.05

    def _df(mat, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(v) for v in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<double>",
        )

    kw = dict(n_cells=4, sample_rows=128, auto_retrain=1.5)
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(_df(base, 0), "vecs", mode="overwrite")
    refresh_ivf_index(cat, "vecs", "idx", **kw)

    cat.write(_df(same, 1000), "vecs", mode="append")
    refresh_ivf_index(cat, "vecs", "idx", **kw)
    assert cat.snapshots("idx")[-1]["mode"] == "append"  # no drift

    cat.write(_df(far, 2000), "vecs", mode="append")
    refresh_ivf_index(cat, "vecs", "idx", **kw)
    assert cat.snapshots("idx")[-1]["mode"] == "overwrite"  # rebuilt
    assert needs_retrain(cat, "idx") is False  # fresh baseline
    assert cat.read("idx").count() == 350


def test_drift_guards_and_recency(spark, tmp_path):
    """Round-8 review hardening: (a) mean_quantization_error rejects
    null/ragged vectors loudly instead of silently misaligning the
    drift record; (b) auto_retrain without drift_metrics or without a
    baseline errors instead of silently disarming; (c) needs_retrain
    reads the NEWEST drift record of any kind, not a fixed-priority
    stale one."""
    from lyssandra_spark.operators.ann_index import (
        _ivf_row_err,
        mean_quantization_error,
        needs_retrain,
    )

    rng = np.random.default_rng(5)
    C = rng.normal(size=(3, 4))

    # coalesce(1): the guard is per Arrow batch — mixed widths must
    # share a batch to be distinguishable from a consistent narrow
    # batch (cross-batch raggedness still errors, via the dim mismatch
    # in the error fn itself)
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    # Python-worker errors surface as PythonException; match broadly
    with pytest.raises(Exception, match="ragged"):
        mean_quantization_error(ragged, "embedding", _ivf_row_err(C))
    nulled = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, None)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="null, ragged"):
        mean_quantization_error(nulled, "embedding", _ivf_row_err(C))
    # round-9: uniformly EMPTY vectors are as unusable as ragged ones —
    # without the width-0 guard they'd surface as an opaque numpy
    # reshape error (and a width-0 batch would dodge the dim check)
    empty_w = spark.createDataFrame(
        [(0, []), (1, [])], "vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="zero-width"):
        mean_quantization_error(empty_w, "embedding", _ivf_row_err(C))

    df = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=4)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    cat = ParquetCatalog(spark, str(tmp_path))
    with pytest.raises(ValueError, match="drift_metrics"):
        cat.write(df, "vecs", mode="overwrite")
        refresh_ivf_index(cat, "vecs", "idx", n_cells=2, sample_rows=16,
                          drift_metrics=False, auto_retrain=1.5)
    # a chain whose rebuild predates drift metrics has no baseline
    refresh_ivf_index(cat, "vecs", "idx", n_cells=2, sample_rows=16,
                      drift_metrics=False)
    cat.write(df.withColumn("vec_id", F.col("vec_id") + 100), "vecs",
              mode="append")
    with pytest.raises(ValueError, match="baseline"):
        refresh_ivf_index(cat, "vecs", "idx", n_cells=2, sample_rows=16,
                          auto_retrain=1.5)

    # recency + the round-9 mixed-kind guard: within ONE kind the newest
    # record decides; a chain that carries TWO kinds refuses an unpinned
    # read (whichever wrote last would otherwise silently shadow the
    # other) while pinned reads see their own kind's newest record
    cat.write(df.limit(5), "two_kinds", mode="overwrite",
              meta={"ivf_drift": {"mean_qerr": 9.0, "n": 5,
                                  "baseline_qerr": 1.0}})
    assert needs_retrain(cat, "two_kinds") is True  # single kind: fine
    cat.write(df.limit(5), "two_kinds", mode="append",
              meta={"semdedup_drift": {"mean_qerr": 1.0, "n": 5,
                                       "baseline_qerr": 1.0}})
    with pytest.raises(ValueError, match="more than one kind"):
        needs_retrain(cat, "two_kinds")
    assert needs_retrain(cat, "two_kinds", drift_key="ivf_drift") is True
    assert needs_retrain(
        cat, "two_kinds", drift_key="semdedup_drift"
    ) is False
    # a destructive overwrite kills the older kind: unpinned reads work
    # again off the surviving record
    cat.write(df.limit(5), "two_kinds", mode="overwrite",
              meta={"semdedup_drift": {"mean_qerr": 4.0, "n": 5,
                                       "baseline_qerr": 1.0}})
    assert needs_retrain(cat, "two_kinds") is True


def test_pq_distributed_serve_matches_collected(spark, emb, tmp_path):
    """Round-9: the NO-COLLECT distributed ADC plan. (a) bit-identical
    to the collected path on the same index (forced via
    distributed=True, small blocks/chunks so every code path runs);
    (b) a query table 12x over the max_queries guard AUTO-routes to the
    distributed plan instead of refusing, and matches the collected
    path run under a loose guard; (c) the distributed plan never
    touches the driver-collect helper (monkeypatch fence) and its
    physical plan carries the cogrouped Arrow stage."""
    import lyssandra_spark.operators.ann_index as AI

    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb, "vecs", mode="overwrite")
    refresh_pq_index(cat, "vecs", "pq", m=8, n_codes=32, refine_iters=0)

    q = emb.where(F.col("vec_id") < 25)
    want = _sorted(pq_topk_indexed(cat, "pq", q, k=5, rerank=48))
    got = _sorted(pq_topk_indexed(
        cat, "pq", q, k=5, rerank=48, distributed=True,
        corpus_blocks=5, query_chunk=7,
    ))
    pd.testing.assert_frame_equal(got, want)

    # (b) 500 queries against max_queries=40 (12x over): auto-routed
    want_all = _sorted(pq_topk_indexed(cat, "pq", emb, k=3, rerank=32))
    got_all = _sorted(pq_topk_indexed(
        cat, "pq", emb, k=3, rerank=32, max_queries=40, corpus_blocks=3,
    ))
    pd.testing.assert_frame_equal(got_all, want_all)

    # (c) no query-side collect in the forced-distributed path
    fence_df = pq_topk_indexed(
        cat, "pq", q, k=5, rerank=48, distributed=True, corpus_blocks=5,
    )
    orig = AI._collect_bounded_queries
    AI._collect_bounded_queries = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("distributed path collected the query frame")
    )
    try:
        built = pq_topk_indexed(
            cat, "pq", q, k=5, rerank=48, distributed=True,
            corpus_blocks=5,
        )
        assert built.count() == want.shape[0]
    finally:
        AI._collect_bounded_queries = orig
    plan = (
        fence_df._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapCoGroups" in plan  # the executor-side LUT/scan stage
    # and the codes scan is still column-pruned (no embedding column)
    code_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "code:array<int>" in ln
        and "embedding" not in ln
    ]
    assert code_scans, "no column-pruned (id, code) scan in the plan"

    # empty query frame: clean empty result, correct schema
    got_empty = pq_topk_indexed(
        cat, "pq", emb.limit(0), k=5, distributed=True, corpus_blocks=2,
    )
    assert got_empty.count() == 0
    assert got_empty.columns == ["qid", "vec_id", "cos_sim", "rk"]


def test_ann_decontaminate_flags_planted_leakage(spark, emb, tmp_path):
    """ann_decontaminate: planted eval leakage (scaled copies of corpus
    vectors — cosine exactly 1) is flagged with the right audit columns;
    the flag set equals the numpy brute-force >=threshold oracle
    (top-k-capped semantics verified applicable: every eval example has
    fewer than k corpus hits); far eval vectors flag nothing; the
    auto-routed distributed serve returns the identical flag set; the
    anti-join composition removes exactly the flagged rows."""
    from lyssandra_spark.operators.ann_index import ann_decontaminate

    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb, "vecs", mode="overwrite")
    refresh_pq_index(cat, "vecs", "pq", m=8, n_codes=32, refine_iters=0)

    corpus = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    rng = np.random.default_rng(41)
    # the planted eval examples KEEP their corpus ids — the classic
    # carve-out setup; the serve's qid==id self-mask must NOT hide them
    # (round-9 review fix: ann_decontaminate passes exclude_self=False)
    eval_rows = [
        (i, [float(2.0 * v) for v in corpus[i]]) for i in (3, 7, 11)
    ] + [
        (9900 + j, [float(v) for v in rng.normal(size=64)]) for j in range(2)
    ]
    eval_df = spark.createDataFrame(
        eval_rows, "vec_id long, embedding array<double>"
    )

    thr, k = 0.99, 16
    got = ann_decontaminate(
        cat, "pq", eval_df, min_cosine=thr, k=k
    ).toPandas().set_index("vec_id").sort_index()

    # numpy oracle: every corpus doc with cosine >= thr to ANY eval row
    E = np.asarray([r[1] for r in eval_rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    cids = sorted(corpus)
    X = np.stack([corpus[i] for i in cids])
    Xn = X / np.maximum(
        np.linalg.norm(X, axis=1, keepdims=True), 1e-300
    )
    sims = En @ Xn.T  # (n_eval, n_corpus)
    per_eval_hits = (sims >= thr).sum(1)
    assert per_eval_hits.max() < k  # top-k cap provably not binding
    expect = {cids[j] for j in np.where((sims >= thr).any(0))[0]}
    assert {3, 7, 11} <= expect
    assert set(got.index) == expect
    for i in (3, 7, 11):
        assert got.loc[i, "max_sim"] >= 0.999
        assert got.loc[i, "worst_eval_id"] == i  # the colliding-id plant
        assert got.loc[i, "n_eval_hits"] >= 1

    # distributed route (5 eval rows > max_queries=2) — identical flags
    got_dist = ann_decontaminate(
        cat, "pq", eval_df, min_cosine=thr, k=k, max_queries=2,
        corpus_blocks=3,
    ).toPandas().set_index("vec_id").sort_index()
    pd.testing.assert_frame_equal(got.sort_index(), got_dist.sort_index())

    # the composition the operator exists for
    clean = emb.join(
        ann_decontaminate(cat, "pq", eval_df, min_cosine=thr, k=k)
        .select("vec_id"),
        "vec_id", "left_anti",
    )
    assert clean.count() == emb.count() - len(expect)

    with pytest.raises(ValueError, match="min_cosine"):
        ann_decontaminate(cat, "pq", eval_df, min_cosine=1.5)

    # method='ivfpq': the same sweep over the cell-pruned hybrid —
    # nprobe == n_cells makes probing exhaustive, so the flag set must
    # equal the brute-force oracle exactly (and the colliding-id plants
    # again survive the disabled self-mask)
    from lyssandra_spark.operators.ann_index import refresh_ivfpq_index

    refresh_ivfpq_index(cat, "vecs", "hpq", n_cells=8, m=8, n_codes=32,
                        refine_iters=0)
    got_h = ann_decontaminate(
        cat, "hpq", eval_df, min_cosine=thr, k=k, method="ivfpq",
        nprobe=8,
    ).toPandas().set_index("vec_id").sort_index()
    assert set(got_h.index) == expect
    for i in (3, 7, 11):
        assert got_h.loc[i, "worst_eval_id"] == i
    with pytest.raises(ValueError, match="method"):
        ann_decontaminate(cat, "hpq", eval_df, method="hnsw")


def test_ivf_indexed_no_broadcast_path_matches(spark, emb, tmp_path):
    """broadcast_queries=False (the corpus-scale query table setting)
    returns results identical to the default broadcast plan."""
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(emb, "vecs", mode="overwrite")
    refresh_ivf_index(cat, "vecs", "ivf", refine_iters=0)
    q = emb.where(F.col("vec_id") < 12)
    pd.testing.assert_frame_equal(
        _sorted(ivf_topk_indexed(cat, "ivf", q, k=5, nprobe=4,
                                 broadcast_queries=False)),
        _sorted(ivf_topk_indexed(cat, "ivf", q, k=5, nprobe=4)),
    )
