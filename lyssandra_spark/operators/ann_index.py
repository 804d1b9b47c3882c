"""Persisted ANN indexes through the snapshot catalog — the embedding
analogue of :func:`~lyssandra_spark.operators.search.refresh_postings`.

The per-call operators (:func:`~lyssandra_spark.operators.similarity
.ivf_topk` / :func:`~lyssandra_spark.operators.similarity.pq_topk`)
re-train their coarse quantizer / codebooks and re-scan the corpus on
every invocation — correct, but not how a production vector index works.
This module persists the trained artifacts and the per-vector
assignments once, then serves queries from the index alone:

- :func:`refresh_ivf_index` — train IVF centroids once (deterministic
  sample + optional distributed Lloyd refinement), assign every vector
  its cell, and land (id, embedding, cell) as a catalog table sorted by
  cell (parquet row-group min/max stats then prune each query's probe
  scan to its nprobe cells). Delta source snapshots are assigned
  incrementally under the FROZEN centroids — the historical corpus is
  never re-assigned, and the centroids live in the snapshot manifest
  meta (they ARE the index identity, like ``lsh_params``).
- :func:`ivf_topk_indexed` — :func:`ivf_topk` semantics served from the
  persisted table: no training, no corpus re-assignment; the plan is a
  parquet scan joined to the broadcast probed queries.
- :func:`refresh_pq_index` / :func:`pq_topk_indexed` — same shape for
  product quantization: codebooks in the manifest, one persisted
  ``array<int>`` code per vector; the ADC scan reads ONLY (id, code)
  columns (parquet is columnar — the 64x bandwidth win PQ exists for),
  and the exact re-rank touches true vectors for the candidate set
  only.

Freshness semantics: all three refreshes run one private state machine
(``_refresh_index``), and its watermark step is
:class:`~lyssandra_spark.sources.catalog.Watermark` — the same helper
behind :func:`~lyssandra_spark.operators.search.refresh_postings` and
:func:`~lyssandra_spark.operators.incremental.refresh_aggregate`. The
manifest meta records the index spec and the newest source snapshot
folded in (``<kind>_spec`` / ``<kind>_last_snap``); a source overwrite
or an expired delta snapshot routes to a full rebuild; an audit-only
source compaction, and a delta whose ids are all indexed already, only
advance the watermark; meta survives audit-only compaction via
``latest_meta`` and dies at a destructive overwrite. Frozen-artifact
caveat, stated plainly: delta
batches are quantized under the ORIGINAL centroids/codebooks, so if the
embedding distribution drifts, recall decays until a rebuild — exactly
the re-train/re-index cadence real IVF/PQ deployments schedule. That
decay is MEASURED, not assumed: every refresh records its batch's mean
quantization error in the manifest meta (``ivf_drift``/``pq_drift``),
and :func:`needs_retrain` compares the newest batch against the
training-time baseline to trigger the rebuild. The assignments
themselves stay exact (assignment is deterministic given the
artifacts), so indexed results always equal the per-call operator run
with the same artifacts.
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lyssandra_spark.operators.similarity import (
    _as_double,
    _collect_bounded_queries,
    _dot,
    _lloyd_centroids,
    _norm,
    _training_sample,
    kmeans_refine,
    pq_assign_codes,
    pq_refine,
    pq_train,
    tag_cell,
    tag_probe_cells,
)
from lyssandra_spark.sources.catalog import Watermark

__all__ = [
    "refresh_ivf_index", "ivf_topk_indexed",
    "refresh_pq_index", "pq_topk_indexed",
    "refresh_ivfpq_index", "ivfpq_topk_indexed",
    "ann_decontaminate",
    "mean_quantization_error", "needs_retrain", "DRIFT_KEYS",
    "release_serve_caches",
]

# Lineage-preserving caches created by the distributed serves (the probed
# query frame feeds both the bounded probed-cell collect and the cogroup
# job; the serve's result frame is lazy, so there is no safe in-function
# unpersist site). A long-lived serving driver issuing many query batches
# accumulates one cached frame per serve until LRU pressure evicts them —
# the registry mirrors dedup._SPAN_CACHES/release_span_caches so drivers
# can free them eagerly once the serve output is consumed. Lock: same
# concurrent-driver-threads rationale as dedup.py.
_SERVE_CACHES: list[DataFrame] = []
_SERVE_CACHES_LOCK = threading.Lock()


def _register_serve_cache(df: DataFrame) -> None:
    with _SERVE_CACHES_LOCK:
        _SERVE_CACHES.append(df)


def release_serve_caches() -> int:
    """Unpersist every query-frame cache created by the distributed ANN
    serves in this session (safe any time: the caches are lineage-
    preserving, so a still-running consumer just recomputes). Returns the
    number of caches released. Long-running serving drivers should call
    this after each query batch's results have been consumed."""
    n = 0
    while True:
        with _SERVE_CACHES_LOCK:
            if not _SERVE_CACHES:
                return n
            df = _SERVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release


def mean_quantization_error(df: DataFrame, emb_col: str, row_err) -> tuple[float, int]:
    """Distributed mean of a per-row quantization error: ONE map-only
    ``mapInArrow`` pass emitting per-partition (sum, count) — the
    constant-size sufficient-statistics shape of :func:`kmeans_refine`,
    so the pass costs one scan of ``df`` and nothing shuffles.
    ``row_err(X)`` maps an (n, dim) float64 block to a per-row error
    vector (it may return fewer entries than rows to skip some, e.g.
    zero-norm vectors). Returns (mean, n); (0.0, 0) on an empty frame.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("s", T.DoubleType(), False),
        T.StructField("n", T.LongType(), False),
    ])

    def gen(it):
        s, n = 0.0, 0
        for batch in it:
            if batch.num_rows == 0:
                continue
            col = batch.column(0)
            # loud guard: ListArray.flatten() DROPS nulls and happily
            # concatenates ragged lists — reshape would then misalign
            # rows and silently corrupt the drift record
            offs = np.diff(col.offsets.to_numpy(zero_copy_only=False))
            # width 0 is checked too: a batch of uniformly EMPTY arrays
            # passes the ragged test but reshape(n, -1) on a size-0 flat
            # buffer raises an opaque numpy error (and bypasses the
            # caller's dim expectations entirely)
            if col.null_count or (
                len(offs) and ((offs != offs[0]).any() or offs[0] == 0)
            ):
                raise ValueError(
                    "null, ragged, or zero-width embedding arrays in the "
                    "drift pass — every row must carry a fixed-width "
                    "non-empty non-null vector"
                )
            flat = col.flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(batch.num_rows, -1)
            e = row_err(X)
            s += float(e.sum())
            n += int(len(e))
        yield pa.RecordBatch.from_arrays(
            [pa.array([s], pa.float64()), pa.array([n], pa.int64())],
            names=["s", "n"],
        )

    pdf = (
        df.select(F.col(emb_col).cast("array<double>"))
        .mapInArrow(gen, schema).toPandas()
    )
    n = int(pdf["n"].sum())
    return (float(pdf["s"].sum()) / n if n else 0.0, n)


def _ivf_row_err(C: np.ndarray):
    """Per-row squared L2 distance to the assigned (nearest) centroid —
    the k-means objective the frozen centroids minimized at training."""
    Cv = np.ascontiguousarray(C, np.float64)
    cn2 = (Cv * Cv).sum(1)

    def err(X):
        d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ Cv.T) + cn2[None, :]
        return np.maximum(d2.min(1), 0.0)

    return err


def _pq_row_err(books: np.ndarray):
    """Per-row squared PQ reconstruction error of the L2-normalized
    vector (exactly what :func:`pq_assign_codes` quantizes)."""
    bk = np.ascontiguousarray(books, np.float64)
    m, _, dsub = bk.shape

    def err(X):
        n = len(X)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        S = Xn.reshape(n, m, dsub)
        e = np.zeros(n)
        for j in range(m):
            Cj = bk[j]
            d2 = (-2.0 * (S[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :])
            e += d2.min(1) + (S[:, j, :] * S[:, j, :]).sum(1)
        return np.maximum(e, 0.0)

    return err


#: manifest-meta keys that carry per-batch drift records, newest-batch
#: semantics via ``latest_meta`` (IVF / PQ / IVF-PQ indexes, online
#: SemDeDup)
DRIFT_KEYS = ("ivf_drift", "pq_drift", "ivfpq_drift", "semdedup_drift")


def _drift_meta(mean_qerr: float, n: int, baseline: float | None) -> dict:
    return {
        "mean_qerr": float(mean_qerr), "n": int(n),
        "baseline_qerr": float(mean_qerr if baseline is None else baseline),
    }


def needs_retrain(catalog, table: str, threshold: float = 1.5,
                  drift_key: str | None = None) -> bool:
    """True when the NEWEST batch's mean quantization error exceeds
    ``threshold`` x the baseline recorded when the frozen artifacts were
    trained — the drift signal the frozen-centroid/codebook contract
    otherwise lacks. Every refresh/admission records its batch's error
    in the manifest meta for free (one map-only pass over the delta),
    so this reader costs no data access at all: schedule rebuilds on it
    instead of on a blind cadence. ``drift_key`` pins one of
    :data:`DRIFT_KEYS`; without it the chain must carry exactly ONE
    kind of drift record within the live boundary (the normal case —
    one index table, one artifact family) and that kind's newest record
    wins. A chain carrying MORE than one kind with no key pinned raises
    instead of silently following whichever kind wrote last — the
    manifest is scanned newest-first, stopping at a destructive
    overwrite boundary exactly like ``latest_meta``."""
    keys = (drift_key,) if drift_key else DRIFT_KEYS

    def verdict(d: dict) -> bool:
        base = max(float(d.get("baseline_qerr", 0.0)), 1e-12)
        return float(d["mean_qerr"]) > threshold * base

    found: dict[str, dict] = {}  # key -> its NEWEST record in the chain
    for s in reversed(catalog.snapshots(table)):
        meta = s.get("meta", {})
        for key in keys:
            if key in meta and key not in found:
                found[key] = meta[key]
        if s["mode"] == "overwrite" and "compaction_of" not in meta:
            break  # data was replaced: older drift records are dead
    if len(found) > 1:
        raise ValueError(
            f"table {table!r} carries drift records of more than one kind "
            f"({'/'.join(sorted(found))}) — pin drift_key to the one this "
            "caller maintains; an unpinned read would silently follow "
            "whichever kind wrote last"
        )
    if found:
        return verdict(next(iter(found.values())))
    raise ValueError(
        f"no drift metrics ({'/'.join(keys)}) recorded for {table!r} — "
        "refresh the index with drift_metrics=True first"
    )


def _dedup_src(catalog, src_table: str, id_col: str, emb_col: str) -> DataFrame:
    """Full-chain read collapsed to one row per id, deterministically
    (min embedding per id — identity for valid unique-id corpora, the
    refresh_postings convention)."""
    return (
        catalog.read(src_table)
        .select(id_col, F.col(emb_col).cast("array<double>").alias(emb_col))
        .groupBy(id_col)
        .agg(F.min(emb_col).alias(emb_col))
    )


def _refresh_index(catalog, src_table: str, index_table: str, kind: str,
                   spec: dict, keys: tuple, train, assign, row_err, sort_by,
                   drift_metrics: bool, force_rebuild: bool,
                   auto_retrain: float | None) -> int:
    """The one refresh state machine of the persisted ANN indexes; the
    kinds differ only in their artifacts. ``train(corpus, sample)``
    returns the artifacts in ``keys`` order (the manifest-meta keys
    they are recorded under), ``assign(df, *artifacts)`` appends the
    per-vector assignment, ``row_err(*artifacts)`` is the drift measure
    for :func:`mean_quantization_error`, and ``sort_by`` the write's
    sort order. ``spec`` is the index identity (it carries ``id_col``,
    ``emb_col`` and ``sample_rows``); the watermark bookkeeping is
    :class:`~lyssandra_spark.sources.catalog.Watermark`'s."""
    if auto_retrain is not None and not drift_metrics:
        raise ValueError(
            "auto_retrain needs drift_metrics=True — without the drift "
            "record there is no signal to act on"
        )
    id_col, emb_col = spec["id_col"], spec["emb_col"]
    drift_key = f"{kind}_drift"
    wm = Watermark(catalog, src_table, index_table, kind, spec, role="index",
                   remedy="force_rebuild", force=force_rebuild)
    if wm.rebuild:
        # persist: the dedup'd full-chain frame feeds the sample
        # collect, each refine pass, the drift pass, and the final
        # write — without the cache that groupBy-agg over the whole
        # corpus re-runs up to 4x
        corpus = _dedup_src(catalog, src_table, id_col, emb_col).persist()
        try:
            sample = _training_sample(corpus, id_col, emb_col,
                                      spec["sample_rows"])
            if sample.size == 0:
                raise ValueError(
                    f"refresh_{kind}_index requires a non-empty source"
                )
            arts = train(corpus, sample)
            meta = wm.stamp(**{k: a.tolist()
                               for k, a in zip(keys, arts)})
            if drift_metrics:
                q, n = mean_quantization_error(corpus, emb_col,
                                               row_err(*arts))
                meta[drift_key] = _drift_meta(q, n, None)
            return catalog.write(
                assign(corpus, *arts), index_table, mode="overwrite",
                sort_by=sort_by, meta=meta,
            )
        finally:
            corpus.unpersist()
    if wm.noop:
        return wm.snaps[-1]["id"]
    prior_drift = catalog.latest_meta(index_table, drift_key)
    if auto_retrain is not None and prior_drift is None:
        raise ValueError(
            "auto_retrain has no baseline on this chain (it predates "
            "drift metrics) — run once with force_rebuild=True first"
        )
    delta = wm.delta([id_col, emb_col])
    if delta is None:
        return wm.advance()  # audit-only compaction: watermark only
    # persist: the delta plan carries an anti-join whose right side
    # scans the WHOLE index's ids — pay it once for the emptiness
    # probe, the drift pass, AND the write. The try/finally covers the
    # drift pass too: it raises on null/ragged vectors, and a failed
    # pass must not leave the delta cached.
    delta = wm.unindexed(delta, id_col).select(
        id_col, F.col(emb_col).cast("array<double>").alias(emb_col)
    ).persist()
    try:
        if delta.count() == 0:
            return wm.advance()  # all ids re-ingested: watermark only
        arts = [
            np.asarray((catalog.latest_meta(index_table, k) or {})[k],
                       dtype=np.float64)
            for k in keys
        ]
        meta = wm.stamp()
        if drift_metrics and prior_drift is not None:
            # the batch's error under the FROZEN artifacts vs the
            # baseline recorded at training — the drift signal
            # needs_retrain reads
            q, n = mean_quantization_error(delta, emb_col, row_err(*arts))
            meta[drift_key] = _drift_meta(
                q, n, prior_drift[drift_key]["baseline_qerr"]
            )
        sid = catalog.write(
            assign(delta, *arts), index_table, mode="append",
            sort_by=sort_by, meta=meta,
        )
    finally:
        delta.unpersist()
    if auto_retrain is not None and drift_key in meta and needs_retrain(
        catalog, index_table, threshold=auto_retrain, drift_key=drift_key
    ):
        # the batch that just folded drifted past the caller's budget:
        # rebuild NOW (full-chain retrain, fresh baseline) — opt-in
        return _refresh_index(
            catalog, src_table, index_table, kind, spec, keys, train,
            assign, row_err, sort_by, drift_metrics, force_rebuild=True,
            auto_retrain=None,
        )
    return sid


def _train_centroids(corpus: DataFrame, sample: np.ndarray, n_cells: int,
                     seed: int, refine_iters: int, emb_col: str) -> np.ndarray:
    """IVF coarse quantizer: seeded Lloyd on the sample, then
    ``refine_iters`` full-corpus distributed Lloyd passes."""
    C = _lloyd_centroids(sample, n_cells, seed=seed)
    if refine_iters > 0:
        C = kmeans_refine(corpus, C, emb_col=emb_col, n_iter=refine_iters)
    return C


def refresh_ivf_index(
    catalog,
    src_table: str,
    index_table: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int = 16,
    sample_rows: int = 2048,
    seed: int = 23,
    refine_iters: int = 1,
    drift_metrics: bool = True,
    force_rebuild: bool = False,
    auto_retrain: float | None = None,
) -> int:
    """Keep ``index_table`` = (id, embedding, cell) over ``src_table``'s
    full chain, training centroids ONCE (on rebuild) and assigning only
    the delta snapshots since the last refresh. Returns the index
    table's snapshot id. Centroids are the deterministic
    :func:`~lyssandra_spark.operators.similarity.ivf_topk` training
    (unbiased hash-ordered sample + seeded Lloyd; ``refine_iters``
    full-corpus distributed Lloyd passes — DEFAULT 1, so a frozen index
    is never bounded by the driver sample), recorded in the manifest
    meta — delta batches are assigned under them unchanged, so an
    indexed query equals the per-call operator with the same artifacts.
    Rows land sorted by cell (sortWithinPartitions — no extra shuffle)
    so each query's probe scan prunes to its cells' row groups.

    ``drift_metrics`` (default on) additionally records the batch's
    mean squared distance-to-assigned-centroid in the manifest meta
    (``ivf_drift``; one map-only pass over the rebuild corpus / the
    delta): frozen centroids decay silently as the embedding
    distribution drifts, and :func:`needs_retrain` turns this record
    into the rebuild signal. ``force_rebuild=True`` is how a caller
    ACTS on that signal: retrain + reassign over the full chain in
    place (one overwrite snapshot, fresh drift baseline) without
    touching the source table. ``auto_retrain=<threshold>`` closes the
    loop in ONE call: when the delta just folded drifts past
    threshold x baseline, the refresh immediately rebuilds — explicit
    opt-in, because at 100 TB the rebuild is a full-corpus retrain the
    caller must be willing to pay inside this call.
    """
    spec = {"src": src_table, "id_col": id_col, "emb_col": emb_col,
            "n_cells": n_cells, "sample_rows": sample_rows, "seed": seed,
            "refine_iters": refine_iters}
    return _refresh_index(
        catalog, src_table, index_table, "ivf", spec, ("centroids",),
        train=lambda corpus, sample: (_train_centroids(
            corpus, sample, n_cells, seed, refine_iters, emb_col),),
        assign=lambda df, C: tag_cell(df, C, emb_col, out_col="cell"),
        row_err=_ivf_row_err, sort_by=["cell"],
        drift_metrics=drift_metrics, force_rebuild=force_rebuild,
        auto_retrain=auto_retrain,
    )


def ivf_topk_indexed(
    catalog,
    index_table: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str | None = None,
    emb_col: str | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """:func:`~lyssandra_spark.operators.similarity.ivf_topk` semantics
    served from the persisted index: NO training, NO corpus assignment —
    the plan tags the (tiny, broadcast by default) query side with its
    ``nprobe`` probe cells under the manifest centroids, joins it to the index
    parquet on cell (the sort-by-cell layout prunes row groups), and
    exactly re-ranks the probed candidates. Output (qid, id, cos_sim,
    rk), identical to the per-call operator under the same artifacts
    (pytest-pinned)."""
    meta = catalog.latest_meta(index_table, "centroids")
    if meta is None:
        raise ValueError(
            f"index table {index_table!r} has no centroids meta — run "
            "refresh_ivf_index first"
        )
    C = np.asarray(meta["centroids"], dtype=np.float64)
    spec = (catalog.latest_meta(index_table, "ivf_spec") or {}).get(
        "ivf_spec", {}
    )
    id_col = id_col or spec.get("id_col", "vec_id")
    emb_col = emb_col or spec.get("emb_col", "embedding")
    idx = catalog.read(index_table).select(
        id_col, F.col(emb_col).alias("emb"), "cell"
    )
    q = _as_double(queries, id_col, emb_col, "qemb").withColumnRenamed(
        id_col, "qid"
    )
    qtag = tag_probe_cells(q, C, "qemb", nprobe=nprobe, out_col="qcell")
    # broadcast_queries=False: a corpus-scale query table must not be
    # forced through a broadcast — fall back to an equi-join on the cell
    # key (one shuffle each side keyed by cell; AQE may still choose a
    # broadcast if the probed query side turns out small). Results are
    # identical either way (pytest-pinned).
    qside = F.broadcast(qtag) if broadcast_queries else qtag
    cand = idx.join(
        qside.withColumnRenamed("qcell", "cell"),
        "cell",
    ).where(F.col(id_col) != F.col("qid")).select(
        "qid", id_col, "qemb", "emb"
    ).dropDuplicates(["qid", id_col])
    sims = cand.select(
        "qid", id_col,
        (_dot(F.col("qemb"), F.col("emb"))
         / (_norm(F.col("qemb")) * _norm(F.col("emb")))).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def refresh_pq_index(
    catalog,
    src_table: str,
    index_table: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    sample_rows: int = 2048,
    seed: int = 29,
    refine_iters: int = 1,
    drift_metrics: bool = True,
    force_rebuild: bool = False,
    auto_retrain: float | None = None,
) -> int:
    """Keep ``index_table`` = (id, embedding, code) over ``src_table``'s
    chain: codebooks trained once (rebuild) exactly as
    :func:`~lyssandra_spark.operators.similarity.pq_topk` trains them
    (normalized unbiased hash-ordered sample; ``refine_iters``
    full-corpus distributed per-subspace Lloyd passes — DEFAULT 1, so
    the frozen codebooks are never bounded by the driver sample),
    recorded in the manifest meta; deltas are quantized under the frozen
    codebooks. The embedding column rides along ONLY for the exact
    re-rank — parquet's columnar layout means the ADC scan reads just
    (id, code), ~64x less bandwidth than the vectors. Returns the index
    snapshot id. ``drift_metrics`` records the batch's mean squared PQ
    reconstruction error (``pq_drift`` meta, one map-only pass) for
    :func:`needs_retrain`; ``force_rebuild=True`` retrains in place
    when that signal fires (fresh baseline, source untouched), and
    ``auto_retrain=<threshold>`` does so automatically inside this call
    when the just-folded batch drifts past threshold x baseline (opt-in
    — the rebuild is a full-corpus retrain)."""
    spec = {"src": src_table, "id_col": id_col, "emb_col": emb_col,
            "m": m, "n_codes": n_codes, "sample_rows": sample_rows,
            "seed": seed, "refine_iters": refine_iters}

    def train(corpus, sample):
        nrm = np.linalg.norm(sample, axis=1, keepdims=True)
        books = pq_train(sample / np.maximum(nrm, 1e-300), m=m,
                         n_codes=n_codes, seed=seed)
        if refine_iters > 0:
            books = pq_refine(corpus, books, emb_col=emb_col,
                              n_iter=refine_iters)
        return (books,)

    return _refresh_index(
        catalog, src_table, index_table, "pq", spec, ("codebooks",), train,
        assign=lambda df, books: pq_assign_codes(df, books, id_col, emb_col),
        row_err=_pq_row_err, sort_by=None,
        drift_metrics=drift_metrics, force_rebuild=force_rebuild,
        auto_retrain=auto_retrain,
    )


def _rerank_exact(catalog, index_table: str, cand: "DataFrame",
                  qdf: "DataFrame", k: int, id_col: str, emb_col: str,
                  broadcast_small: bool) -> DataFrame:
    """Shared exact-cosine re-rank of ADC candidates: join true vectors
    for the candidate set only, then top-``k`` per query (ties on id).
    ``broadcast_small`` broadcasts the candidate/query sides — right for
    the driver-collected path where both are provably tiny; the
    distributed path leaves join strategy to Catalyst/AQE (a 1M-query
    candidate set must not be forced through a broadcast)."""
    c = catalog.read(index_table).select(
        id_col, F.col(emb_col).alias("emb")
    )
    cand_j = F.broadcast(cand) if broadcast_small else cand
    qdf_j = F.broadcast(qdf) if broadcast_small else qdf
    sims = (
        c.join(cand_j, id_col)
        .join(qdf_j, "qid")
        .select(
            "qid", id_col,
            (_dot(F.col("qemb"), F.col("emb"))
             / (_norm(F.col("qemb")) * _norm(F.col("emb")))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _candidate_topk(partial: DataFrame, id_col: str, rerank: int) -> DataFrame:
    """Global per-query top-``rerank`` over ADC partials — the shared
    candidate window of all four serve plans (ties on id asc, matching
    every scanner's lexsort)."""
    w0 = Window.partitionBy("qid").orderBy(
        F.col("approx_ip").desc(), F.col(id_col).asc()
    )
    return (
        partial.withColumn("crk", F.row_number().over(w0))
        .where(F.col("crk") <= rerank)
        .select("qid", id_col)
    )


def _route_distributed(queries: DataFrame, id_col: str, max_queries: int,
                       distributed: bool | None) -> bool:
    """True when an indexed serve should take its no-collect distributed
    plan: forced via ``distributed=True``, or (the ``None`` default) the
    query table exceeds ``max_queries`` — probed with an IDS-ONLY
    limit+count, so the overflow decision never ships embeddings to the
    driver. ``distributed=False`` skips the probe; the bounded collect
    then raises its loud refusal."""
    if distributed is True:
        return True
    if distributed is False:
        return False
    n = queries.select(F.col(id_col)).limit(max_queries + 1).count()
    return n > max_queries


def _flat_fixed(col, what: str) -> np.ndarray:
    """Arrow list column -> (n, width) float64 block with the same
    null/ragged/zero-width guard as :func:`mean_quantization_error`:
    ``ListArray.flatten()`` silently DROPS nulls and concatenates
    ragged lists, so an unguarded reshape either raises an opaque numpy
    error on an executor or — worse — misaligns every subsequent row.
    User-supplied vectors (the distributed serves' query side) must
    fail loudly instead."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offs = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    if col.null_count or (
        len(offs) and ((offs != offs[0]).any() or offs[0] == 0)
    ):
        raise ValueError(
            f"null, ragged, or zero-width {what} arrays in the "
            "distributed ADC scan — every row must carry a fixed-width "
            "non-empty non-null vector"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(len(offs), -1) if len(offs) else flat.reshape(0, 0)


def _make_adc_block_scanner(bc, id_col: str, m: int, dsub: int,
                            rr_cap: int, qch: int, hybrid: bool,
                            n_cells: int = 0, exclude_self: bool = True):
    """The ONE executor-side ADC block scanner behind both distributed
    serves — flat ADC is exactly the hybrid with zero cell constants
    and no probe mask, so a single implementation keeps the two
    "pytest-pinned identical" plans from silently diverging. Per
    cogroup block: LUT slices of ``qch`` queries at a time (peak LUT
    memory bounded regardless of query count), corpus rows in
    ~64 MB sub-chunks, per-block top-``rr_cap`` per query merged
    before emitting. ``bc`` broadcasts ``books`` (flat) or
    ``(books, unit_anchors)`` (hybrid)."""

    def scan_block(codes_tbl, q_tbl):
        import pyarrow as pa

        payload = bc.value
        books_, A_ = payload if hybrid else (payload, None)
        n, nq = codes_tbl.num_rows, q_tbl.num_rows
        if n == 0 or nq == 0:
            return pa.table(
                {"qid": pa.array([], pa.int64()),
                 id_col: pa.array([], pa.int64()),
                 "approx_ip": pa.array([], pa.float64())}
            )
        ids = codes_tbl.column("vid").to_numpy(zero_copy_only=False)
        codes = (
            codes_tbl.column("code").combine_chunks()
            .flatten().to_numpy(zero_copy_only=False).reshape(n, m)
        )
        cells = (
            codes_tbl.column("cell").to_numpy(zero_copy_only=False)
            if hybrid else None
        )
        qids = q_tbl.column("qid").to_numpy(zero_copy_only=False)
        Q = _flat_fixed(q_tbl.column("qemb"), "query embedding")
        qcells = (
            q_tbl.column("qcells").combine_chunks()
            .flatten().to_numpy(zero_copy_only=False).reshape(nq, -1)
            if hybrid else None
        )
        Qn = Q / np.maximum(
            np.linalg.norm(Q, axis=1, keepdims=True), 1e-300
        )
        out_q, out_i, out_v = [], [], []
        for c0 in range(0, nq, qch):
            Qc = Qn[c0:c0 + qch]
            qids_c = qids[c0:c0 + qch]
            nc = len(Qc)
            # the exact einsum the collected paths run on the driver
            # (per-query-independent, so slicing cannot change a bit)
            luts = np.einsum(
                "ijs,jcs->ijc", Qc.reshape(nc, m, dsub), books_
            )
            if hybrid:
                consts = Qc @ A_.T  # (nc, n_cells): the q_n . a_cell term
                pmat = np.zeros((n_cells, nc), dtype=bool)
                for i in range(nc):
                    pmat[qcells[c0 + i], i] = True
            rch = max(1024, (1 << 23) // max(nc, 1))
            ai_parts, av_parts, ac_parts = [], [], []
            for r0 in range(0, n, rch):
                ids_r = ids[r0:r0 + rch]
                codes_r = codes[r0:r0 + rch]
                nr = len(ids_r)
                if hybrid:
                    cells_r = cells[r0:r0 + rch]
                    approx = consts[:, cells_r].T.copy()
                else:
                    approx = np.zeros((nr, nc))
                for j in range(m):
                    approx += luts[:, j, codes_r[:, j]].T
                if hybrid:
                    approx[~pmat[cells_r]] = -np.inf  # outside probe set
                if exclude_self:
                    approx[ids_r[:, None] == qids_c[None, :]] = -np.inf
                rr = min(rr_cap, nr)
                rows = np.concatenate([
                    np.lexsort((ids_r, -approx[:, i]))[:rr]
                    for i in range(nc)
                ])
                cols = np.repeat(np.arange(nc), rr)
                ai_parts.append(ids_r[rows])
                av_parts.append(approx[rows, cols])
                ac_parts.append(cols)
            # merge this block's sub-chunk partials to ONE top-rerank
            # per query before emitting (bounds candidate traffic at
            # |queries| x rerank per block)
            ai = np.concatenate(ai_parts)
            av = np.concatenate(av_parts)
            ac = np.concatenate(ac_parts)
            order = np.lexsort((ai, -av, ac))  # q asc, val desc, id asc
            oc = ac[order]
            starts = np.flatnonzero(np.r_[True, oc[1:] != oc[:-1]])
            grp_start = np.repeat(
                starts, np.diff(np.r_[starts, len(oc)])
            )
            sel = order[np.arange(len(oc)) - grp_start < rr_cap]
            vals = av[sel]
            keep = np.isfinite(vals)
            out_q.append(qids_c[ac[sel][keep]])
            out_i.append(ai[sel][keep])
            out_v.append(vals[keep])
        return pa.table({
            "qid": pa.array(np.concatenate(out_q), pa.int64()),
            id_col: pa.array(np.concatenate(out_i), pa.int64()),
            "approx_ip": pa.array(np.concatenate(out_v), pa.float64()),
        })

    return scan_block


def pq_topk_indexed(
    catalog,
    index_table: str,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 64,
    id_col: str | None = None,
    emb_col: str | None = None,
    max_queries: int = 10_000,
    distributed: bool | None = None,
    corpus_blocks: int = 32,
    query_chunk: int = 4096,
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`~lyssandra_spark.operators.similarity.pq_topk` semantics
    from the persisted code table: the ADC scan streams ONLY (id, code)
    — never the vectors, never a re-quantization — gathers each query's
    LUT, emits per-batch top-``rerank`` candidates, and the exact cosine
    re-rank joins true vectors for the bounded candidate set alone.
    Identical output to the per-call operator under the same codebooks
    (the per-batch partial top-k union provably contains the global
    top-``rerank`` regardless of partitioning).

    TWO physical plans, one semantics (pytest-pinned bit-identical):

    - collected (small query tables, the low-latency default): the
      query frame is collected to the driver, the per-query ADC lookup
      tables are built there and broadcast, and one ``mapInArrow`` pass
      scans the codes. Bounded by ``max_queries`` (the LUT stack is
      ~16 KB/query of driver memory).
    - distributed (``distributed=True``, or AUTOMATIC when the query
      table exceeds ``max_queries``): no driver collect anywhere — see
      :func:`_pq_topk_distributed`. A corpus-scale query workload (e.g.
      corpus-vs-corpus decontamination by ANN) gets a distributed plan
      instead of an error. ``distributed=False`` restores the round-8
      loud-error-on-overflow behavior for callers who would rather size
      the workload than pay a corpus rescan per ``query_chunk``.
    """
    meta = catalog.latest_meta(index_table, "codebooks")
    if meta is None:
        raise ValueError(
            f"index table {index_table!r} has no codebooks meta — run "
            "refresh_pq_index first"
        )
    books = np.asarray(meta["codebooks"], dtype=np.float64)
    m, n_codes, dsub = books.shape
    spec = (catalog.latest_meta(index_table, "pq_spec") or {}).get(
        "pq_spec", {}
    )
    id_col = id_col or spec.get("id_col", "vec_id")
    emb_col = emb_col or spec.get("emb_col", "embedding")
    if _route_distributed(queries, id_col, max_queries, distributed):
        # forced, or the ids-only probe says the table overflows
        # max_queries: the no-collect plan (no embeddings were shipped
        # to the driver to decide this)
        return _pq_topk_distributed(
            catalog, index_table, queries, books, k=k, rerank=rerank,
            id_col=id_col, emb_col=emb_col, corpus_blocks=corpus_blocks,
            query_chunk=query_chunk, exclude_self=exclude_self,
        )
    q = _collect_bounded_queries(queries, id_col, emb_col, max_queries)
    import pyarrow as pa
    from pyspark.sql import types as T

    if not q:
        return queries.sparkSession.createDataFrame(
            [], f"qid long, {id_col} long, cos_sim double, rk int"
        )
    qids = np.asarray([r[0] for r in q], dtype=np.int64)
    Q = np.asarray([r[1] for r in q], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    luts = np.einsum("ijs,jcs->ijc", Qn.reshape(len(Qn), m, dsub), books)
    bc = queries.sparkSession.sparkContext.broadcast((qids, luts))
    out_schema = T.StructType([
        T.StructField("qid", T.LongType(), False),
        T.StructField(id_col, T.LongType(), False),
        T.StructField("approx_ip", T.DoubleType(), False),
    ])
    # the ADC scan's input: id + code ONLY (columnar prune — the
    # embedding column never leaves the parquet footer here)
    codes_src = catalog.read(index_table).select(
        F.col(id_col).cast("long").alias("vid"), F.col("code")
    )

    def scan(it):
        qids_, luts_ = bc.value
        nq = len(qids_)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            codes = (
                batch.column(1).flatten().to_numpy(zero_copy_only=False)
                .reshape(n, m)
            )
            approx = np.zeros((n, nq))
            for j in range(m):
                approx += luts_[:, j, codes[:, j]].T
            if exclude_self:
                approx[ids[:, None] == qids_[None, :]] = -np.inf
            rr = min(rerank, n)
            rows = np.concatenate([
                np.lexsort((ids, -approx[:, i]))[:rr] for i in range(nq)
            ])
            cols = np.repeat(np.arange(nq), rr)
            vals = approx[rows, cols]
            keep = np.isfinite(vals)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids_[cols[keep]], pa.int64()),
                    pa.array(ids[rows[keep]], pa.int64()),
                    pa.array(vals[keep], pa.float64()),
                ],
                names=["qid", id_col, "approx_ip"],
            )

    cand = _candidate_topk(
        codes_src.mapInArrow(scan, out_schema), id_col, rerank
    )
    qdf = queries.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, Q)],
        "qid long, qemb array<double>",
    )
    return _rerank_exact(catalog, index_table, cand, qdf, k, id_col,
                         emb_col, broadcast_small=True)


def _pq_topk_distributed(
    catalog,
    index_table: str,
    queries: DataFrame,
    books: np.ndarray,
    k: int,
    rerank: int,
    id_col: str,
    emb_col: str,
    corpus_blocks: int,
    query_chunk: int,
    exclude_self: bool = True,
) -> DataFrame:
    """The no-collect ADC serve plan for corpus-scale query tables —
    :func:`pq_topk_indexed` semantics with the query frame never
    touching the driver.

    Shape (a block nested-loop join, the only honest plan for flat ADC
    where EVERY query must meet EVERY code):

    1. the code table is hashed into ``corpus_blocks`` content-keyed
       blocks (``pmod(xxhash64(id))`` — deterministic, layout-free) and
       shuffled ONCE; the scan still reads only (id, code), so the
       shuffle moves ~(8 + 4m) bytes/vector, never embeddings;
    2. the query frame is replicated to every block (small side
       replicated, ``corpus_blocks`` x |queries| rows — queries are the
       side that fits);
    3. one ``cogroup(...).applyInArrow`` pass per block runs the SHARED
       :func:`_make_adc_block_scanner` (executor-side LUT slices of
       ``query_chunk`` queries — peak LUT memory ~16 MB at defaults
       regardless of total query count) and emits each block's
       top-``rerank`` per query;
    4. the shared :func:`_candidate_topk` window keeps the overall
       top-``rerank`` — provably identical to the collected path's
       candidate set (every block partial contains its block's
       top-rerank; ties break on id everywhere) — and the same exact
       re-rank finishes, with join strategy left to AQE instead of a
       forced broadcast.

    Sizing at 100 TB: per-task live memory is (corpus/corpus_blocks)
    codes + one LUT slice, so ``corpus_blocks`` scales with corpus row
    count (rows/blocks ≲ a few million), and candidate traffic into the
    window is |queries| x rerank x corpus_blocks skinny rows — for
    multi-million-query workloads raise ``query_chunk``/lower
    ``corpus_blocks`` accordingly, or pre-filter queries. Total compute
    is the same flops as the collected path; what is REMOVED is the
    driver-memory ceiling, not the inherent cost of flat ADC.
    """
    if corpus_blocks < 1:
        raise ValueError(f"corpus_blocks ({corpus_blocks}) must be >= 1")
    m, n_codes, dsub = books.shape
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(books)

    codes_src = catalog.read(index_table).select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(corpus_blocks))
        .cast("int").alias("part"),
        F.col(id_col).cast("long").alias("vid"),
        F.col("code"),
    )
    qsrc = queries.select(
        F.col(id_col).cast("long").alias("qid"),
        F.col(emb_col).cast("array<double>").alias("qemb"),
    )
    qrep = qsrc.withColumn(
        "part",
        F.explode(F.sequence(F.lit(0), F.lit(int(corpus_blocks) - 1))),
    ).withColumn("part", F.col("part").cast("int"))

    scan_block = _make_adc_block_scanner(
        bc, id_col, m, dsub, rr_cap=int(rerank),
        qch=max(1, int(query_chunk)), hybrid=False,
        exclude_self=exclude_self,
    )
    partial = (
        codes_src.groupBy("part")
        .cogroup(qrep.groupBy("part"))
        .applyInArrow(
            scan_block, f"qid long, {id_col} long, approx_ip double"
        )
    )
    cand = _candidate_topk(partial, id_col, rerank)
    return _rerank_exact(catalog, index_table, cand, qsrc, k, id_col,
                         emb_col, broadcast_small=False)


def ann_decontaminate(
    catalog,
    index_table: str,
    eval_embeddings: DataFrame,
    min_cosine: float = 0.95,
    k: int = 16,
    rerank: int | None = None,
    id_col: str | None = None,
    emb_col: str | None = None,
    method: str = "pq",
    **serve_kwargs,
) -> DataFrame:
    """Embedding-level benchmark decontamination over the persisted PQ
    index — the semantic sibling of :func:`~lyssandra_spark.functions
    .textstats.ngram_contamination` (which catches verbatim n-gram
    overlap; this catches paraphrased/translated eval leakage that
    shares no 8-gram with the benchmark).

    For every eval example, its top-``k`` ADC candidates are exactly
    re-ranked and corpus rows with cosine >= ``min_cosine`` to ANY eval
    example are returned as ``(id_col, n_eval_hits, max_sim,
    worst_eval_id)`` — one row per contaminated CORPUS doc, ready to
    ``join(..., "left_anti")`` out of the training set (and to audit:
    which benchmark item leaked, how hard, how often). Deterministic
    given the index artifacts.

    Scale shape: the eval set is the QUERY side of
    :func:`pq_topk_indexed`, so a benchmark suite of ANY size gets a
    plan — small suites take the driver-LUT path, large ones (HELM-scale
    sweeps, corpus-vs-corpus checks) auto-route to the no-collect
    distributed ADC scan; pass ``distributed``/``corpus_blocks`` etc.
    through ``serve_kwargs``. The corpus side streams (id, code) only.

    Honest bound, stated plainly: a corpus doc is flagged only if it
    enters some eval example's top-``k``. If MORE than ``k`` corpus
    docs sit above ``min_cosine`` of one eval example (mass-duplicated
    contamination), the excess escapes this pass — raise ``k``, or run
    exact dedup first so duplicate mass collapses to one id. ``rerank``
    defaults to ``4 * k`` (the ADC candidate pool the exact re-rank
    sees; the approximation the PQ recall tests gate).
    """
    if not (-1.0 <= min_cosine <= 1.0):
        raise ValueError(f"min_cosine ({min_cosine}) must be in [-1, 1]")
    serves = {"pq": (pq_topk_indexed, "pq_spec"),
              "ivfpq": (ivfpq_topk_indexed, "ivfpq_spec")}
    if method not in serves:
        raise ValueError(f"method {method!r} — pick one of {sorted(serves)}")
    serve, spec_key = serves[method]
    spec = (catalog.latest_meta(index_table, spec_key) or {}).get(
        spec_key, {}
    )
    id_col = id_col or spec.get("id_col", "vec_id")
    # exclude_self=False: the serve's qid==id mask exists so a corpus
    # vector doesn't match ITSELF in similarity search, but here the
    # query side is a DIFFERENT table whose ids may legitimately
    # collide with corpus ids (the classic setup: the benchmark was
    # carved from the corpus keeping its ids) — masking those pairs
    # would hide exactly the most-contaminated docs. method='ivfpq'
    # runs the sweep over the cell-pruned hybrid (~nprobe/n_cells of
    # the flat scan per eval example — pass nprobe via serve_kwargs;
    # its top-k cap then also depends on probe recall).
    hits = serve(
        catalog, index_table, eval_embeddings, k=k,
        rerank=(4 * k if rerank is None else rerank),
        id_col=id_col, emb_col=emb_col, exclude_self=False,
        **serve_kwargs,
    )
    return (
        hits.where(F.col("cos_sim") >= F.lit(float(min_cosine)))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.max("cos_sim").alias("max_sim"),
            F.max_by("qid", F.struct("cos_sim", (-F.col("qid")).alias("q")))
            .alias("worst_eval_id"),
        )
    )


# --------------------------------------------------------------- IVF-PQ
# The production hybrid (Jegou et al. 2011, "Product Quantization for
# Nearest Neighbor Search", Sec. V "IVFADC"): a coarse IVF quantizer
# prunes each query's scan to its nprobe cells, and PQ codes over the
# RESIDUAL (normalized vector minus its cell's unit anchor) compress
# what remains. Flat ADC (refresh_pq_index) scans every code for every
# query; IVF-PQ scans ~nprobe/n_cells of them — the difference between
# O(corpus) and O(corpus / n_cells * nprobe) per query at 100 TB —
# while the residual codebooks spend their 8 bits per subspace on the
# (much smaller) within-cell variation instead of the whole space.


def _unit_anchors(C: np.ndarray) -> np.ndarray:
    """Per-cell unit anchor a_cell = C[cell]/||C[cell]|| — the point the
    residual is taken from. Unit-izing keeps the residual in the same
    scale as the normalized vectors; a zero centroid anchors at 0."""
    nrm = np.linalg.norm(C, axis=1, keepdims=True)
    return np.where(nrm > 0, C / np.maximum(nrm, 1e-300), 0.0)


def _ivfpq_row_err(C: np.ndarray, books: np.ndarray):
    """Per-row squared residual-reconstruction error under the frozen
    (centroids, residual codebooks) — the IVF-PQ drift measure."""
    Cv = np.ascontiguousarray(C, np.float64)
    A = _unit_anchors(Cv)
    cn2 = (Cv * Cv).sum(1)
    bk = np.ascontiguousarray(books, np.float64)
    m, _, dsub = bk.shape

    def err(X):
        n = len(X)
        d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ Cv.T) + cn2[None, :]
        cells = d2.argmin(1)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        R = (Xn - A[cells]).reshape(n, m, dsub)
        e = np.zeros(n)
        for j in range(m):
            Cj = bk[j]
            dj = -2.0 * (R[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :]
            e += dj.min(1) + (R[:, j, :] * R[:, j, :]).sum(1)
        return np.maximum(e, 0.0)

    return err


def _ivfpq_assign(df: DataFrame, C: np.ndarray, books: np.ndarray,
                  id_col: str, emb_col: str) -> DataFrame:
    """ONE mapInArrow pass appending (cell, code) under the frozen
    artifacts: cell by raw-vector expanded-L2 argmin (bit-compatible
    with :func:`~lyssandra_spark.operators.similarity
    .assign_cells_arrow` — numpy argmin takes the FIRST minimum, the
    same lowest-cell tie rule), code by per-subspace argmin over the
    normalized-vector RESIDUAL (the :func:`~lyssandra_spark.operators
    .similarity.pq_assign_codes` tie rule, applied to residuals)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    m, n_codes, dsub = books.shape
    src = df.select(
        F.col(id_col),
        F.col(emb_col).cast("array<double>").alias(emb_col),
    )
    bc = src.sparkSession.sparkContext.broadcast((
        np.ascontiguousarray(C, np.float64),
        np.ascontiguousarray(books, np.float64),
    ))
    out_schema = T.StructType([
        src.schema[id_col],
        T.StructField(emb_col, T.ArrayType(T.DoubleType()), True),
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("code", T.ArrayType(T.IntegerType()), False),
    ])

    def gen(it):
        Cv, bk = bc.value
        A = _unit_anchors(Cv)
        cn2 = (Cv * Cv).sum(1)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ Cv.T) + cn2[None, :]
            cells = d2.argmin(1).astype(np.int32)
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-300
            )
            R = (Xn - A[cells]).reshape(n, m, dsub)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                Cj = bk[j]
                dj = -2.0 * (R[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :]
                codes[:, j] = dj.argmin(1)
            offs = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pa.array(cells, pa.int32()),
                    pa.ListArray.from_arrays(
                        offs, pa.array(codes.ravel(), pa.int32())
                    ),
                ],
                names=[f.name for f in out_schema.fields],
            )

    return src.mapInArrow(gen, out_schema)


def refresh_ivfpq_index(
    catalog,
    src_table: str,
    index_table: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 256,
    sample_rows: int = 2048,
    seed: int = 31,
    refine_iters: int = 1,
    drift_metrics: bool = True,
    force_rebuild: bool = False,
    auto_retrain: float | None = None,
) -> int:
    """Keep ``index_table`` = (id, embedding, cell, code) over
    ``src_table``'s chain — the IVF-PQ hybrid: ONE index whose rows are
    both cell-pruned (sorted by cell, so a probe scan prunes row
    groups AND the code scan carries a static ``cell IN (...)``
    pushdown) and PQ-compressed (residual codes — the ADC scan still
    never reads the vectors).

    Training (rebuild only, frozen thereafter): centroids exactly as
    :func:`refresh_ivf_index` (unbiased hash-ordered sample + seeded
    Lloyd; ``refine_iters`` full-corpus distributed Lloyd passes refine
    the CENTROIDS); residual codebooks are then trained on the SAMPLE's
    normalized-vector residuals under those (refined) centroids —
    sample-trained by design (a full-corpus residual refine would need
    a residual-space Lloyd pass; the exact re-rank bounds the cost of
    the approximation, and the recall gate in pytest measures it).
    Deltas are assigned under the frozen artifacts in one Arrow pass;
    ``drift_metrics`` records the batch's mean squared residual
    reconstruction error (``ivfpq_drift``) for :func:`needs_retrain`;
    ``force_rebuild`` / ``auto_retrain`` behave exactly as in the flat
    twins. Returns the index snapshot id."""
    spec = {"src": src_table, "id_col": id_col, "emb_col": emb_col,
            "n_cells": n_cells, "m": m, "n_codes": n_codes,
            "sample_rows": sample_rows, "seed": seed,
            "refine_iters": refine_iters}

    def train(corpus, sample):
        C = _train_centroids(corpus, sample, n_cells, seed, refine_iters,
                             emb_col)
        A = _unit_anchors(C)
        cn2 = (C * C).sum(1)
        d2 = ((sample * sample).sum(1)[:, None]
              - 2.0 * (sample @ C.T) + cn2[None, :])
        cells = d2.argmin(1)
        Sn = sample / np.maximum(
            np.linalg.norm(sample, axis=1, keepdims=True), 1e-300
        )
        return C, pq_train(Sn - A[cells], m=m, n_codes=n_codes, seed=seed)

    return _refresh_index(
        catalog, src_table, index_table, "ivfpq", spec,
        ("centroids", "ivfpq_books"), train,
        assign=lambda df, C, books: _ivfpq_assign(df, C, books, id_col,
                                                  emb_col),
        row_err=_ivfpq_row_err, sort_by=["cell"],
        drift_metrics=drift_metrics, force_rebuild=force_rebuild,
        auto_retrain=auto_retrain,
    )


def ivfpq_topk_indexed(
    catalog,
    index_table: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 64,
    id_col: str | None = None,
    emb_col: str | None = None,
    max_queries: int = 10_000,
    distributed: bool | None = None,
    corpus_blocks: int = 32,
    query_chunk: int = 4096,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k served from the persisted IVF-PQ index:
    each query probes its ``nprobe`` nearest cells (raw-vector centroid
    distance, the :func:`~lyssandra_spark.operators.similarity
    .tag_probe_cells` tie rules), the ADC scan reads ONLY
    (id, code, cell) rows of the probed cells — a STATIC ``cell IN``
    predicate, so the sort-by-cell parquet layout prunes row groups
    before any compute — scores candidates as
    ``q_n . a_cell + LUT(residual code)`` (the IVFADC decomposition:
    one per-(query, cell) scalar plus the standard per-subspace lookup
    sums), and exactly re-ranks the per-query top-``rerank``. Output
    (qid, id, cos_sim, rk).

    Query LUTs are driver-built and broadcast for query tables under
    ``max_queries``; beyond it (or with ``distributed=True``) the serve
    AUTO-ROUTES to the no-collect plan of :func:`_ivfpq_topk_distributed`
    — the :func:`pq_topk_indexed` routing contract, cell pruning
    included (``distributed=False`` restores the loud refusal).
    Per-query scan cost is
    ~``nprobe / n_cells`` of the flat :func:`pq_topk_indexed` scan —
    the reason this index exists; recall is gated in pytest against
    brute force, and a numpy oracle pins the serve bit-exactly."""
    import pyarrow as pa
    from pyspark.sql import types as T

    meta = catalog.latest_meta(index_table, "ivfpq_books")
    if meta is None:
        raise ValueError(
            f"index table {index_table!r} has no ivfpq_books meta — run "
            "refresh_ivfpq_index first"
        )
    books = np.asarray(meta["ivfpq_books"], dtype=np.float64)
    m, n_codes, dsub = books.shape
    C = np.asarray(
        (catalog.latest_meta(index_table, "centroids") or {})["centroids"],
        dtype=np.float64,
    )
    A = _unit_anchors(C)
    spec = (catalog.latest_meta(index_table, "ivfpq_spec") or {}).get(
        "ivfpq_spec", {}
    )
    id_col = id_col or spec.get("id_col", "vec_id")
    emb_col = emb_col or spec.get("emb_col", "embedding")
    if _route_distributed(queries, id_col, max_queries, distributed):
        return _ivfpq_topk_distributed(
            catalog, index_table, queries, C, books, k=k, nprobe=nprobe,
            rerank=rerank, id_col=id_col, emb_col=emb_col,
            corpus_blocks=corpus_blocks, query_chunk=query_chunk,
            exclude_self=exclude_self,
        )
    q = _collect_bounded_queries(queries, id_col, emb_col, max_queries)
    if not q:
        return queries.sparkSession.createDataFrame(
            [], f"qid long, {id_col} long, cos_sim double, rk int"
        )
    qids = np.asarray([r[0] for r in q], dtype=np.int64)
    Q = np.asarray([r[1] for r in q], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    # probe cells from the RAW query (the IVF convention; stable
    # argsort = ascending distance, ties to the lower cell id)
    dq = ((Q * Q).sum(1)[:, None] - 2.0 * (Q @ C.T)
          + (C * C).sum(1)[None, :])
    p = min(nprobe, len(C))
    probes = np.argsort(dq, axis=1, kind="stable")[:, :p]
    probe_mat = np.zeros((len(C), len(qids)), dtype=bool)
    for i in range(len(qids)):
        probe_mat[probes[i], i] = True
    luts = np.einsum("ijs,jcs->ijc", Qn.reshape(len(Qn), m, dsub), books)
    cell_consts = Qn @ A.T  # (nq, n_cells): the q_n . a_cell term
    bc = queries.sparkSession.sparkContext.broadcast(
        (qids, luts, cell_consts, probe_mat)
    )
    out_schema = T.StructType([
        T.StructField("qid", T.LongType(), False),
        T.StructField(id_col, T.LongType(), False),
        T.StructField("approx_ip", T.DoubleType(), False),
    ])
    probed_cells = sorted(int(c) for c in np.unique(probes))
    codes_src = catalog.read(index_table).select(
        F.col(id_col).cast("long").alias("vid"), F.col("code"),
        F.col("cell"),
    ).where(F.col("cell").isin(probed_cells))

    def scan(it):
        qids_, luts_, consts_, pmat_ = bc.value
        nq = len(qids_)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            codes = (
                batch.column(1).flatten().to_numpy(zero_copy_only=False)
                .reshape(n, m)
            )
            cells = batch.column(2).to_numpy(zero_copy_only=False)
            approx = consts_[:, cells].T.copy()  # (n, nq)
            for j in range(m):
                approx += luts_[:, j, codes[:, j]].T
            approx[~pmat_[cells]] = -np.inf  # not probed by that query
            if exclude_self:
                approx[ids[:, None] == qids_[None, :]] = -np.inf
            rr = min(rerank, n)
            rows = np.concatenate([
                np.lexsort((ids, -approx[:, i]))[:rr] for i in range(nq)
            ])
            cols = np.repeat(np.arange(nq), rr)
            vals = approx[rows, cols]
            keep = np.isfinite(vals)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids_[cols[keep]], pa.int64()),
                    pa.array(ids[rows[keep]], pa.int64()),
                    pa.array(vals[keep], pa.float64()),
                ],
                names=["qid", id_col, "approx_ip"],
            )

    cand = _candidate_topk(
        codes_src.mapInArrow(scan, out_schema), id_col, rerank
    )
    qdf = queries.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, Q)],
        "qid long, qemb array<double>",
    )
    return _rerank_exact(catalog, index_table, cand, qdf, k, id_col,
                         emb_col, broadcast_small=True)


def _ivfpq_topk_distributed(
    catalog,
    index_table: str,
    queries: DataFrame,
    C: np.ndarray,
    books: np.ndarray,
    k: int,
    nprobe: int,
    rerank: int,
    id_col: str,
    emb_col: str,
    corpus_blocks: int,
    query_chunk: int,
    exclude_self: bool = True,
) -> DataFrame:
    """The no-collect IVF-PQ serve for corpus-scale query tables —
    :func:`ivfpq_topk_indexed` semantics with the query frame never
    touching the driver, composed from the SAME block scanner as
    :func:`_pq_topk_distributed` (``hybrid=True`` adds the
    ``q_n . a_cell`` constants and the per-query probe mask) PLUS cell
    pruning:

    1. probe cells are tagged onto the (distributed) query frame by the
       broadcast-centroid Arrow pass (:func:`~lyssandra_spark.operators
       .similarity.assign_cells_arrow` — bit-identical tie rules to the
       collected path's driver-side argsort); the tagged frame is
       PERSISTED, because both the probed-cell collect and the cogroup
       job consume it — without the cache the full query-assignment
       pass runs twice;
    2. the UNION of probed cells — bounded by ``n_cells``, an artifact
       dimension, never data size — is collected and pushed into the
       code scan as a STATIC ``cell IN`` predicate, so the sort-by-cell
       layout still prunes row groups even in the distributed plan;
    3. the surviving (id, code, cell) rows are hashed into
       ``corpus_blocks`` blocks and cogrouped with the replicated query
       frame through the shared scanner;
    4. the shared candidate window + exact re-rank finish (AQE-chosen
       joins, no forced broadcast).

    Identical output to the collected path (pytest-pinned); total scan
    work stays the ~nprobe/n_cells fraction that makes the hybrid
    worth building.
    """
    if corpus_blocks < 1:
        raise ValueError(f"corpus_blocks ({corpus_blocks}) must be >= 1")
    from lyssandra_spark.operators.similarity import assign_cells_arrow

    m, n_codes, dsub = books.shape
    A = _unit_anchors(C)
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((books, A))
    p = min(nprobe, len(C))

    qsrc = queries.select(
        F.col(id_col).cast("long").alias("qid"),
        F.col(emb_col).cast("array<double>").alias("qemb"),
    )
    # persist: consumed by the (bounded) probed-cell collect AND the
    # cogroup job below — lineage-preserving, no safe in-function
    # unpersist site (the result frame is lazy); registered so
    # release_serve_caches() can free it once the serve is consumed
    qprobed = assign_cells_arrow(qsrc, C, "qemb", nprobe=p,
                                 out_col="qcells").persist()
    _register_serve_cache(qprobed)
    # bounded by n_cells — an artifact-sized collect, like the
    # centroids themselves; buys a STATIC pushdown no runtime join can
    probed_cells = sorted(
        r["cell"]
        for r in qprobed.select(
            F.explode("qcells").alias("cell")
        ).distinct().collect()
    )
    qrep = qprobed.withColumn(
        "part",
        F.explode(F.sequence(F.lit(0), F.lit(int(corpus_blocks) - 1))),
    ).withColumn("part", F.col("part").cast("int"))

    codes_src = catalog.read(index_table).select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(corpus_blocks))
        .cast("int").alias("part"),
        F.col(id_col).cast("long").alias("vid"),
        F.col("code"), F.col("cell"),
    ).where(F.col("cell").isin(probed_cells))

    scan_block = _make_adc_block_scanner(
        bc, id_col, m, dsub, rr_cap=int(rerank),
        qch=max(1, int(query_chunk)), hybrid=True, n_cells=len(C),
        exclude_self=exclude_self,
    )
    partial = (
        codes_src.groupBy("part")
        .cogroup(qrep.groupBy("part"))
        .applyInArrow(
            scan_block, f"qid long, {id_col} long, approx_ip double"
        )
    )
    cand = _candidate_topk(partial, id_col, rerank)
    return _rerank_exact(catalog, index_table, cand, qsrc, k, id_col,
                         emb_col, broadcast_small=False)
