"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk_bruteforce` — exact top-k: broadcast the (small) query
  set against the full corpus; JVM-side zip_with/aggregate dot products;
  window top-k. The correctness baseline.
- :func:`cosine_topk_lsh` — the scale path: random-hyperplane LSH with L
  independent tables (seed sweep); candidates = union of same-bucket rows
  across tables; exact cosine re-rank of candidates only. At 10^12 rows the
  join is on (table, bucket) keys — never an all-pairs product — and recall
  is tuned by (n_planes, n_tables).
- :func:`ivf_topk` — IVF variant: k-means-lite centroids (seeded, one
  driver-side Lloyd pass over a sample), probe the nprobe nearest cells;
  :func:`kmeans_refine` trains the cells on the FULL corpus (distributed
  sufficient statistics) and :func:`assign_cells_arrow` keeps the plan
  O(1) in cell count at production index widths.
- :func:`pq_topk` — product quantization: 8-bit per-subspace codes (64x
  smaller than the raw vectors), asymmetric-distance LUT scan, exact
  re-rank of the candidate set. The representation that makes ANN
  feasible at 100 TB.
- :func:`hyperplane_buckets` — multi-table sign-sketch tagging in ONE
  corpus scan (shared by the LSH operators here and in dedup).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["cosine_topk_bruteforce", "cosine_topk_vectorized", "cosine_topk_lsh",
           "ivf_topk", "kmeans_refine", "assign_cells_arrow",
           "tag_cell", "tag_probe_cells",
           "hyperplane_buckets", "hyperplane_bucket_arrays",
           "pq_train", "pq_refine", "pq_topk", "pq_assign_codes"]


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def _as_double(df, id_col, emb_col, out="emb"):
    return df.select(F.col(id_col), F.col(emb_col).cast("array<double>").alias(out))


def _training_sample(df: DataFrame, order_col: str, value_col: str,
                     n: int) -> np.ndarray:
    """Deterministic, UNBIASED driver-side training sample: the first
    ``n`` rows by ``xxhash64(order_col)`` (ties on the raw column).

    ``orderBy(id).limit(n)`` is deterministic but takes the HEAD of the
    id space — on a 100 TB corpus clustered by source/date the first few
    thousand ids are one source, so k-means/PQ artifacts trained on them
    degenerate (skewed cells, quietly degraded recall). Hashing the id
    first keeps the same properties that made the ordered sample right
    (stable across runs and repartitionings, compiles to
    ``TakeOrderedAndProject`` — bounded driver memory, no global sort)
    while drawing uniformly from the WHOLE id population.
    """
    return np.asarray(
        [r[value_col] for r in
         df.orderBy(F.xxhash64(F.col(order_col)), F.col(order_col))
         .limit(n).collect()],
        dtype=np.float64,
    )


def cosine_topk_bruteforce(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", emb_col: str = "embedding",
    qid_col: str = "vec_id", qemb_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self excluded
    when ids collide). Output: (qid, vec_id, cos_sim, rk)."""
    c = _as_double(corpus, id_col, emb_col, "emb")
    q = _as_double(queries, qid_col, qemb_col, "qemb").withColumnRenamed(
        qid_col, "qid"
    ) if qid_col != "qid" else _as_double(queries, qid_col, qemb_col, "qemb")
    q = q.select(F.col(q.columns[0]).alias("qid"), "qemb")
    sims = c.join(F.broadcast(q), F.col(id_col) != F.col("qid")).select(
        "qid", id_col,
        (_dot(F.col("qemb"), F.col("emb")) / (_norm(F.col("qemb")) * _norm(F.col("emb")))
         ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def cosine_topk_vectorized(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k, vectorized: one numpy GEMM per Arrow batch.

    Same result as :func:`cosine_topk_bruteforce` (ties broken by
    ascending id), ~10-50x faster: the query matrix (small by contract)
    is collected and broadcast; each corpus batch computes a (batch, nq)
    similarity GEMM and emits only its per-batch top-k rows per query —
    the exact global top-k is the top-k of the union of per-partition
    top-ks, finished by one tiny window over k * nq * n_partitions rows.
    Map-side reduction => shuffle carries k rows per (query, partition),
    never the corpus.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    q = queries.select(
        F.col(id_col).cast("long"), F.col(emb_col).cast("array<double>")
    ).collect()
    if not q:  # empty query side -> empty result, same as the brute force
        return corpus.sparkSession.createDataFrame(
            [],
            f"qid long, {id_col} long, cos_sim double, rk int",
        )
    qids = np.asarray([r[0] for r in q], dtype=np.int64)
    Q = np.asarray([r[1] for r in q], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Qn))
    src = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(emb_col).cast("array<double>").alias("emb"),
    )
    out_schema = T.StructType([
        T.StructField("qid", T.LongType(), False),
        T.StructField(id_col, T.LongType(), False),
        T.StructField("cos_sim", T.DoubleType(), False),
    ])

    def topk_batches(it):
        qids_, Qn_ = bc.value
        nq = len(qids_)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            S = Xn @ Qn_.T                                   # (n, nq)
            S[ids[:, None] == qids_[None, :]] = -np.inf      # self-match out
            kk = min(k, n)
            # per-query top-k with the GLOBAL tie order (sim desc, id asc):
            # lexsort per query so a k-boundary tie keeps the same row the
            # full sort would — the partial union is then exactly the
            # global top-k under ties too
            rows = np.concatenate([
                np.lexsort((ids, -S[:, j]))[:kk] for j in range(nq)
            ])
            cols = np.repeat(np.arange(nq), kk)
            sims = S[rows, cols]
            keep = np.isfinite(sims)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids_[cols[keep]], pa.int64()),
                    pa.array(ids[rows[keep]], pa.int64()),
                    pa.array(sims[keep], pa.float64()),
                ],
                names=["qid", id_col, "cos_sim"],
            )

    partial = src.mapInArrow(topk_batches, out_schema)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return partial.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _plane_bucket(emb_col, planes: np.ndarray):
    bucket = F.lit(0).cast("long")
    for p in range(planes.shape[0]):
        dot = F.aggregate(
            F.zip_with(
                F.array(*[F.lit(float(v)) for v in planes[p]]), emb_col,
                lambda a, b: a * b,
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        bucket = bucket * 2 + F.when(dot > 0, 1).otherwise(0)
    return bucket


def hyperplane_buckets(
    df: DataFrame, planes: np.ndarray, emb_col: str,
    keep: list[str] | None = None,
    tbl_col: str = "tbl", bucket_col: str = "bucket",
    max_expr_literals: int = 4096,
) -> DataFrame:
    """Tag every row with its sign-sketch bucket for EVERY hyperplane
    table, in ONE scan: one output row per (input row, table).

    ``planes`` is (n_tables, n_planes, dim). The one-scan shape replaces
    the union-of-tagged-scans pattern, which reads the corpus n_tables
    times — at 10^12 rows that multiplier IS the job cost. Two paths:

    - in-plan expressions + posexplode when the total literal budget
      (n_tables * n_planes * dim) is small — bit-exact with the
      historical per-table expressions (same rng stream, same
      bucket = bucket*2 + (dot>0) packing);
    - broadcast mapInArrow beyond: one GEMM per Arrow batch against all
      tables' planes at once, plan size O(1) in the plane budget (the
      same de-literalization as IVF's assign_cells_arrow).

    ``keep`` restricts the carried input columns (the Arrow path pays
    serialization per output column; candidate generation usually only
    needs the id).
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    n_tables, n_planes, dim = planes.shape
    keep = list(df.columns) if keep is None else list(keep)
    if n_tables * n_planes * dim <= max_expr_literals:
        arr = F.array(*[_plane_bucket(F.col(emb_col), planes[t])
                        for t in range(n_tables)])
        return df.select(*keep, F.posexplode(arr).alias(tbl_col, bucket_col))

    src = df.select(*dict.fromkeys(keep + [emb_col]))  # emb needed to hash
    emb_pos = src.columns.index(emb_col)
    keep_pos = [src.columns.index(c) for c in keep]
    bc = src.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(planes.reshape(n_tables * n_planes, dim))
    )
    out_schema = T.StructType(
        [src.schema[c] for c in keep]
        + [T.StructField(tbl_col, T.IntegerType(), False),
           T.StructField(bucket_col, T.LongType(), False)]
    )
    # plane p contributes bit (n_planes-1-p): the expression path packs
    # MSB-first via bucket = bucket*2 + bit
    weights = (np.int64(1) << np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    def gen(it):
        PL = bc.value
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(emb_pos).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            bits = (X @ PL.T > 0).reshape(n, n_tables, n_planes)
            buckets = (bits.astype(np.int64) * weights).sum(-1)  # (n, n_tables)
            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), n_tables))
            cols = [batch.column(j).take(idx) for j in keep_pos]
            yield pa.RecordBatch.from_arrays(
                cols + [
                    pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n),
                             pa.int32()),
                    pa.array(buckets.reshape(-1), pa.int64()),
                ],
                names=[f.name for f in out_schema.fields],
            )

    return src.mapInArrow(gen, out_schema)


def hyperplane_bucket_arrays(
    df: DataFrame, planes: np.ndarray, emb_col: str,
    keep: list[str] | None = None,
    out_col: str = "buckets",
    max_expr_literals: int = 4096,
) -> DataFrame:
    """Append ONE ``array<long>`` column holding every table's sign-
    sketch bucket — the per-ROW form of :func:`hyperplane_buckets`, for
    PERSISTING alongside the vector: the exploded (row, table) form
    would duplicate the embedding ``n_tables`` times in storage, while
    banding this array back out is a pure-JVM ``posexplode`` projection
    over the parquet scan (the ``band_signatures`` trick). Bucket values
    are bit-identical to :func:`hyperplane_buckets` (same rng stream,
    same MSB-first packing); the same two paths apply — in-plan
    expressions under the literal budget, broadcast mapInArrow GEMM
    beyond it.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    n_tables, n_planes, dim = planes.shape
    keep = list(df.columns) if keep is None else list(keep)
    if n_tables * n_planes * dim <= max_expr_literals:
        arr = F.array(*[_plane_bucket(F.col(emb_col), planes[t])
                        for t in range(n_tables)])
        return df.select(*keep, arr.alias(out_col))

    src = df.select(*dict.fromkeys(keep + [emb_col]))
    emb_pos = src.columns.index(emb_col)
    keep_pos = [src.columns.index(c) for c in keep]
    bc = src.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(planes.reshape(n_tables * n_planes, dim))
    )
    out_schema = T.StructType(
        [src.schema[c] for c in keep]
        + [T.StructField(out_col, T.ArrayType(T.LongType()), False)]
    )
    weights = (np.int64(1) << np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    def gen(it):
        PL = bc.value
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(emb_pos).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            bits = (X @ PL.T > 0).reshape(n, n_tables, n_planes)
            buckets = (bits.astype(np.int64) * weights).sum(-1)  # (n, n_tables)
            offs = pa.array(
                np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in keep_pos]
                + [pa.ListArray.from_arrays(
                    offs, pa.array(buckets.ravel(), pa.int64()))],
                names=[f.name for f in out_schema.fields],
            )

    return src.mapInArrow(gen, out_schema)


def cosine_topk_lsh(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", emb_col: str = "embedding",
    dim: int = 64, n_planes: int = 10, n_tables: int = 6, seed: int = 17,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    Output schema matches the brute-force operator; `rk` ranks within the
    candidate set, so recall@k vs brute force is the quality metric
    (tested; raise n_tables for higher recall).
    """
    rng = np.random.default_rng(seed)
    c = _as_double(corpus, id_col, emb_col, "emb")
    q = _as_double(queries, id_col, emb_col, "qemb").withColumnRenamed(id_col, "qid")
    # one stacked draw == the historical per-table sequential draws (the
    # Generator stream is consumed in the same order), so buckets are
    # unchanged; hyperplane_buckets makes tagging ONE scan of the corpus
    # instead of n_tables scans
    planes = rng.standard_normal((n_tables, n_planes, dim))
    c_tagged = hyperplane_buckets(c, planes, "emb", keep=[id_col, "emb"])
    q_tagged = hyperplane_buckets(q, planes, "qemb", keep=["qid", "qemb"],
                                  tbl_col="qtbl", bucket_col="qbucket")
    cand = (
        c_tagged.join(
            F.broadcast(q_tagged),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col(id_col) != F.col("qid")),
        )
        .select("qid", id_col, "qemb", "emb")
        .dropDuplicates(["qid", id_col])
    )
    sims = cand.select(
        "qid", id_col,
        (_dot(F.col("qemb"), F.col("emb")) / (_norm(F.col("qemb")) * _norm(F.col("emb")))
         ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def pq_train(
    X: np.ndarray, m: int = 8, n_codes: int = 256, n_iter: int = 8,
    seed: int = 29,
) -> np.ndarray:
    """Train product-quantization codebooks on a (n, dim) sample.

    Splits dim into ``m`` contiguous subspaces and runs seeded Lloyd
    k-means with ``n_codes`` centroids per subspace. Returns
    (m, n_codes, dim // m) codebooks. Driver-side by design: the sample
    is bounded and the codebooks are tiny (m * n_codes * dsub * 8 B) —
    they broadcast, exactly like the dictionary history.
    """
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(n, size=min(n_codes, n), replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            for c in range(len(C)):
                sel = S[a == c]
                if len(sel):
                    C[c] = sel.mean(0)
        if len(C) < n_codes:  # degenerate tiny sample: pad by repetition
            C = np.concatenate([C] * (n_codes // len(C) + 1))[:n_codes]
        books[j] = C
    return books


def pq_refine(
    corpus: DataFrame, books: np.ndarray,
    emb_col: str = "embedding", n_iter: int = 1,
) -> np.ndarray:
    """Refine PQ codebooks over the FULL corpus, distributed.

    ``pq_train`` sees only a bounded driver sample; at 100 TB a
    head-of-table sample can misrepresent the distribution and recall
    silently drops. This is the same constant-size-sufficient-statistics
    pattern as :func:`kmeans_refine`, run for ALL ``m`` subspaces in one
    pass per Lloyd iteration: each partition emits per-(subspace, code)
    vector sums and counts (m * n_codes * dsub doubles — ~128 KB at
    8x256x8, constant in corpus size), the driver merges them and moves
    each non-empty code to its assigned-subvector mean (empty codes keep
    their old centroid). Vectors are L2-normalized before assignment,
    matching exactly what :func:`pq_topk`'s ADC scan quantizes.

    Note: float summation order varies with partitioning, so refined
    codebooks are deterministic only up to ulps across repartitionings
    (same caveat as kmeans_refine).

    Rows with a null, wrong-dimension, or null-element embedding are
    FILTERED before the Arrow pass (cheap JVM predicate): a ragged row
    would otherwise silently misalign the whole batch after the
    flatten+reshape (corrupting every subspace's sum/count statistics)
    or poison them with NaN.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    m, n_codes, dsub = books.shape
    dim = m * dsub
    # require fully FINITE embeddings: an inf element makes the L2 norm
    # inf, so normalization yields NaN and poisons the codebook sums
    # exactly like a literal NaN element would
    corpus = corpus.where(
        F.col(emb_col).isNotNull()
        & (F.size(emb_col) == dim)
        & ~F.exists(
            emb_col,
            lambda x: x.isNull() | F.isnan(x)
            | (F.abs(x) == F.lit(float("inf"))),
        )
    )
    schema = T.StructType([
        T.StructField("sums", T.ArrayType(T.DoubleType()), False),
        T.StructField("counts", T.ArrayType(T.LongType()), False),
    ])
    for _ in range(n_iter):
        bc = corpus.sparkSession.sparkContext.broadcast(
            np.ascontiguousarray(books)
        )

        def stats(it):
            B = bc.value
            sums = np.zeros((m, n_codes, dsub))
            counts = np.zeros((m, n_codes), dtype=np.int64)
            for batch in it:
                n = batch.num_rows
                if n == 0:
                    continue
                flat = batch.column(0).flatten().to_numpy(zero_copy_only=False)
                X = flat.reshape(n, -1)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                    1e-300)
                S = Xn.reshape(n, m, dsub)
                for j in range(m):
                    Cj = B[j]
                    d2 = -2.0 * (S[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :]
                    a = d2.argmin(1)
                    _segment_accumulate(sums[j], counts[j], a, S[:, j, :])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([sums.ravel()], pa.list_(pa.float64())),
                    pa.array([counts.ravel()], pa.list_(pa.int64())),
                ],
                names=["sums", "counts"],
            )

        pdf = (
            corpus.select(F.col(emb_col).cast("array<double>"))
            .mapInArrow(stats, schema)
            .toPandas()
        )
        S = np.add.reduce(
            [np.asarray(s).reshape(m, n_codes, dsub) for s in pdf["sums"]]
        )
        N = np.add.reduce(
            [np.asarray(c).reshape(m, n_codes) for c in pdf["counts"]]
        )
        books = books.copy()
        nz = N > 0
        books[nz] = S[nz] / N[nz][:, None]
        # the action above consumed this iteration's broadcast; release
        # it now, or n_iter codebook copies accumulate for the app's life
        bc.destroy()
    return books


def _collect_bounded_queries(queries: DataFrame, id_col: str, emb_col: str,
                             max_queries: int) -> list:
    """Collect the query frame to the driver, LOUDLY refusing above
    ``max_queries``. The PQ paths build one (m, n_codes) float64 lookup
    table per query on the driver and broadcast the stack (~16 KB per
    query at m=8, n_codes=256), so an unbounded caller joining a
    corpus-sized "query" table would OOM the driver silently — the
    guard converts that into an actionable error (chunk the query set
    and union the results; every chunk's output is independent). The
    indexed serves route oversized tables to their distributed plans
    BEFORE calling this (an ids-only count probe), so this collect only
    ever runs within the bound — or raises for ``distributed=False``
    callers who asked for the refusal."""
    rows = queries.select(
        F.col(id_col).cast("long"), F.col(emb_col).cast("array<double>")
    ).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"query table exceeds max_queries ({max_queries}): the PQ "
            "LUT broadcast is per-query driver state — chunk the query "
            "set (results are independent per query) or raise "
            "max_queries deliberately"
        )
    return rows


def pq_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", emb_col: str = "embedding",
    m: int = 8, n_codes: int = 256, rerank: int = 64,
    sample_rows: int = 2048, seed: int = 29, refine_iters: int = 0,
    max_queries: int = 10_000,
) -> DataFrame:
    """Approximate cosine top-k via product quantization + ADC scan +
    exact re-rank — the representation that makes ANN feasible at 100 TB.
    (Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011 — public paper; ADC = asymmetric distance
    computation, Sec. IV.A.)

    Rationale at scale: a float64 dim-64 vector is 512 B; its PQ code is
    ``m`` uint8 entries (8 B at m=8) — a 64x storage/bandwidth drop, so
    the candidate scan streams codes, never vectors. Pipeline (all
    map-only until the final tiny top-k window):

    1. train codebooks on a deterministic hash-ordered sample (driver,
       tiny, unbiased — :func:`_training_sample`); ``refine_iters > 0``
       then runs distributed per-subspace Lloyd passes over the FULL
       corpus (:func:`pq_refine`) so codebook quality is not bounded by
       the driver sample;
    2. ONE mapInArrow scan quantizes each (L2-normalized) corpus vector
       and scores ALL queries against it via asymmetric distance — each
       query's (m, n_codes) inner-product lookup table is broadcast, so
       a batch's approximate scores are one LUT-gather + sum, no vector
       arithmetic — emitting only each batch's top-``rerank`` candidate
       ids per query;
    3. the per-batch candidates (rerank rows per query per partition,
       never the corpus) are window-reduced to the global top-``rerank``,
       re-joined to true vectors, exactly re-ranked, and cut to k.

    Output schema matches the other top-k operators: (qid, id, cos_sim,
    rk). Recall is tuned by (m, n_codes, rerank); the pytest gates
    recall@k vs brute force.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    c = _as_double(corpus, id_col, emb_col, "emb")
    sample = _training_sample(c, id_col, "emb", sample_rows)
    if sample.size == 0:
        raise ValueError("pq_topk requires a non-empty corpus")
    nrm = np.linalg.norm(sample, axis=1, keepdims=True)
    books = pq_train(sample / np.maximum(nrm, 1e-300), m=m, n_codes=n_codes,
                     seed=seed)
    if refine_iters > 0:
        # full-corpus per-subspace Lloyd refinement (see pq_refine): index
        # quality reflects all rows, not the head-of-table driver sample
        books = pq_refine(c, books, emb_col="emb", n_iter=refine_iters)
    q = _collect_bounded_queries(queries, id_col, emb_col, max_queries)
    if not q:
        return corpus.sparkSession.createDataFrame(
            [], f"qid long, {id_col} long, cos_sim double, rk int"
        )
    qids = np.asarray([r[0] for r in q], dtype=np.int64)
    Q = np.asarray([r[1] for r in q], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    dim = Qn.shape[1]
    dsub = dim // m
    # per-query LUT: lut[i, j, c] = q_i's subvector j . codebook[j, c]
    luts = np.einsum("ijs,jcs->ijc", Qn.reshape(len(Qn), m, dsub), books)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, luts, books))
    out_schema = T.StructType([
        T.StructField("qid", T.LongType(), False),
        T.StructField(id_col, T.LongType(), False),
        T.StructField("approx_ip", T.DoubleType(), False),
    ])
    src = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(emb_col).cast("array<double>").alias("emb"),
    )

    def scan(it):
        qids_, luts_, books_ = bc.value
        nq = len(qids_)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            S = Xn.reshape(n, m, dsub)
            # quantize: per subspace, nearest codebook entry — expanded
            # form |s|^2 - 2 s.c + |c|^2 (one GEMM, an (n, n_codes) temp)
            # instead of the broadcast-subtract cube, whose
            # (n, n_codes, dsub) float64 temporary is ~160 MB per
            # subspace at a 10k-row batch with 256 codes
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                Cj = books_[j]
                d2 = -2.0 * (S[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :]
                codes[:, j] = d2.argmin(1)  # |s|^2 is constant per row
            # ADC: approx inner product = sum_j lut[q, j, codes[:, j]]
            approx = np.zeros((n, nq))
            for j in range(m):
                approx += luts_[:, j, codes[:, j]].T  # (n, nq)
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

    partial = src.mapInArrow(scan, out_schema)
    w0 = Window.partitionBy("qid").orderBy(
        F.col("approx_ip").desc(), F.col(id_col).asc()
    )
    cand = (
        partial.withColumn("crk", F.row_number().over(w0))
        .where(F.col("crk") <= rerank)
        .select("qid", id_col)
    )
    # exact re-rank of the candidate set only (rerank rows per query).
    # The candidate set is provably tiny (<= rerank * n_queries rows after
    # the window), so BROADCAST it against the corpus — the corpus side
    # stays an unshuffled scan; without the hint this join would shuffle
    # 10^12 corpus rows on id to meet a 640-row table.
    qdf = corpus.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, Q)],
        f"qid long, qemb array<double>",
    )
    sims = (
        c.select(F.col(id_col), F.col("emb"))
        .join(F.broadcast(cand), id_col)
        .join(F.broadcast(qdf), "qid")
        .select(
            "qid", id_col,
            (_dot(F.col("qemb"), F.col("emb"))
             / (_norm(F.col("qemb")) * _norm(F.col("emb")))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def pq_assign_codes(
    df: DataFrame, books: np.ndarray,
    id_col: str = "vec_id", emb_col: str = "embedding",
    code_col: str = "code",
) -> DataFrame:
    """Append each row's PQ code (``array<int>``, one entry per
    subspace) under frozen codebooks — the quantization half of
    :func:`pq_topk`'s fused scan, split out so the persisted PQ index
    can store codes once instead of re-quantizing per query. Vectors
    are L2-normalized before assignment (exactly what the ADC scan
    quantizes); the expanded-form GEMM and argmin tie order match
    :func:`pq_topk` bit-for-bit, so an indexed scan over these codes
    reproduces the per-call operator's candidates exactly.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    m, n_codes, dsub = books.shape
    src = df.select(
        F.col(id_col),
        F.col(emb_col).cast("array<double>").alias("__emb"),
    )
    bc = src.sparkSession.sparkContext.broadcast(np.ascontiguousarray(books))
    out_schema = T.StructType([
        src.schema[id_col],
        T.StructField("__emb", T.ArrayType(T.DoubleType()), False),
        T.StructField(code_col, T.ArrayType(T.IntegerType()), False),
    ])

    def gen(it):
        B = bc.value
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            S = Xn.reshape(n, m, dsub)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                Cj = B[j]
                d2 = -2.0 * (S[:, j, :] @ Cj.T) + (Cj * Cj).sum(1)[None, :]
                codes[:, j] = d2.argmin(1)
            offs = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1),
                 pa.ListArray.from_arrays(offs, pa.array(codes.ravel(),
                                                         pa.int32()))],
                names=[id_col, "__emb", code_col],
            )

    return src.mapInArrow(gen, out_schema).withColumnRenamed("__emb", emb_col)


def _segment_accumulate(
    sums: np.ndarray, counts: np.ndarray, a: np.ndarray, X: np.ndarray
) -> None:
    """``sums[c] += sum of X rows assigned to c; counts[c] += row count``
    via stable sort + ``add.reduceat`` instead of the unbuffered
    element-at-a-time ``np.add.at`` scatter (several times faster). The
    stable sort preserves the original row order within each cluster, so
    each cluster adds the same rows in the same sequence; the only
    difference from ``add.at`` is one association in the running total
    (batch subtotal added to ``sums`` at once), i.e. up-to-ulp — within
    the refine passes' documented determinism contract (float summation
    order already varies with partitioning). An empty ``a`` adds nothing,
    as ``np.add.at`` would."""
    if len(a) == 0:
        return
    order = np.argsort(a, kind="stable")
    a_sorted = a[order]
    seg = np.concatenate(([0], np.nonzero(np.diff(a_sorted))[0] + 1))
    cells = a_sorted[seg]
    sums[cells] += np.add.reduceat(X[order], seg, axis=0)
    counts[cells] += np.diff(np.concatenate((seg, [len(a_sorted)])))


def _lloyd_centroids(X: np.ndarray, n_cells: int, n_iter: int = 5,
                     seed: int = 23) -> np.ndarray:
    """Seeded mini k-means on a driver-side sample (rows = samples)."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)].copy()
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        for j in range(len(C)):
            sel = X[a == j]
            if len(sel):
                C[j] = sel.mean(0)
    return C


def kmeans_refine(
    corpus: DataFrame, C: np.ndarray,
    emb_col: str = "embedding", n_iter: int = 2,
) -> np.ndarray:
    """Refine centroids over the FULL corpus, distributed.

    One Lloyd iteration = one map-only pass emitting constant-size
    per-partition sufficient statistics (per-cell sum + count — the same
    sample-additive pattern as dictionary learning) and a driver-side
    (n_cells, dim) update. Index quality then reflects all 10^12 rows,
    not a driver sample. Note: float summation order varies with
    partitioning, so refined centroids are deterministic only up to ulps
    — use n_iter=0 (the default in :func:`ivf_topk`) where bit-exact
    cross-partitioning reproducibility matters more than recall.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    n_cells, dim = C.shape
    schema = T.StructType([
        T.StructField("sums", T.ArrayType(T.DoubleType()), False),
        T.StructField("counts", T.ArrayType(T.LongType()), False),
    ])
    for _ in range(n_iter):
        bc = corpus.sparkSession.sparkContext.broadcast(C)

        def stats(it):
            Cv = bc.value
            sums = np.zeros((n_cells, dim))
            counts = np.zeros(n_cells, dtype=np.int64)
            for batch in it:
                if batch.num_rows == 0:
                    continue
                flat = batch.column(0).flatten().to_numpy(zero_copy_only=False)
                X = flat.reshape(batch.num_rows, -1)
                # expanded-GEMM distances (the assign_cells_arrow form):
                # the (n, n_cells, dim) broadcast temp of the (X - C)^2
                # form was ~270 MB per 8192-row batch at 64 cells x 64
                # dims — 3 DRAM passes per batch for one argmin. Refined
                # centroids are documented deterministic only up to ulps
                # already (summation order varies with partitioning).
                d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ Cv.T) \
                    + (Cv * Cv).sum(1)[None, :]
                a = d2.argmin(1)
                _segment_accumulate(sums, counts, a, X)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([sums.ravel()], pa.list_(pa.float64())),
                    pa.array([counts], pa.list_(pa.int64())),
                ],
                names=["sums", "counts"],
            )

        pdf = (
            corpus.select(F.col(emb_col).cast("array<double>"))
            .mapInArrow(stats, schema)
            .toPandas()
        )
        S = np.add.reduce([np.asarray(s).reshape(n_cells, dim) for s in pdf["sums"]])
        N = np.add.reduce([np.asarray(c) for c in pdf["counts"]])
        nz = N > 0
        C = C.copy()
        C[nz] = S[nz] / N[nz, None]  # empty cells keep their old centroid
    return C


def assign_cells_arrow(
    df: DataFrame, C: np.ndarray, emb_col: str, nprobe: int = 1,
    out_col: str = "cells",
) -> DataFrame:
    """Append the ``nprobe`` nearest-centroid cell ids as an array<int>
    column, via ONE mapInArrow pass with broadcast centroids.

    This is the production-IVF path: plan size is O(1) in n_cells (the
    centroids travel as a broadcast ndarray, not as Catalyst literals),
    whereas the expression path in :func:`ivf_topk` unrolls
    O(n_cells x dim) literals per distance — a plan-compile/codegen
    killer at real IVF sizes (4k-64k cells). Distances use the expanded
    form |x|^2 - 2 x.C^T + |c|^2 (one GEMM per Arrow batch); ties and
    ordering follow ascending distance then ascending cell id, matching
    the expression path's argmin semantics.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    bc = df.sparkSession.sparkContext.broadcast(np.ascontiguousarray(C, np.float64))
    in_fields = df.schema.fields
    emb_pos = df.schema.fieldNames().index(emb_col)
    out_schema = T.StructType(
        list(in_fields) + [T.StructField(out_col, T.ArrayType(T.IntegerType()), False)]
    )

    def gen(it):
        Cv = bc.value
        cn2 = (Cv * Cv).sum(1)  # (n_cells,)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            flat = batch.column(emb_pos).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1)
            d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ Cv.T) + cn2[None, :]
            p = min(nprobe, len(Cv))
            # ascending distance, ties by ascending cell id. p repeated
            # masked-argmin passes select exactly what a stable argsort's
            # first p entries would (argmin also resolves ties to the
            # lowest id) without sorting all n_cells per row — the same
            # replacement measured ~4x faster in the LLC kernel.
            if p == 1:
                cells = d2.argmin(1).astype(np.int32)[:, None]
            else:
                rows = np.arange(n)
                cells = np.empty((n, p), dtype=np.int32)
                for t in range(p):
                    j = d2.argmin(1)
                    cells[:, t] = j
                    d2[rows, j] = np.inf
            cells = np.ascontiguousarray(cells)
            offs = pa.array(np.arange(0, (n + 1) * p, p, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                list(batch.columns)
                + [pa.ListArray.from_arrays(offs, pa.array(cells.ravel(), pa.int32()))],
                names=[f.name for f in out_schema.fields],
            )

    return df.mapInArrow(gen, out_schema)


# Above this many cells the literal-expression assignment is a plan-size
# hazard (O(n_cells x dim) Catalyst literals per distance); switch to the
# broadcast mapInArrow path. The expression path stays the default for
# small indexes because it is bit-exact with the historical plans (Catalyst
# sums (a-b)^2 sequentially; numpy pairwise-sums — same argmin on real
# data, but ulp-level distance ties could in principle differ). The cutoff
# is deliberately LOW: plan compile cost is super-linear in the literal
# count (measured: 64 cells x 64 dims = ~30 s of Catalyst/codegen before
# the first row moves, vs ~1 s via Arrow), so only genuinely tiny indexes
# earn the expression path. Every registry/test caller uses n_cells <= 16
# or > 64, so the historical plans are unchanged.
MAX_EXPR_CELLS = 16


def tag_cell(df: DataFrame, C: np.ndarray, emb_col: str,
             out_col: str = "cell") -> DataFrame:
    """Append each row's nearest-centroid cell id (int). Expression path
    under :data:`MAX_EXPR_CELLS` (bit-exact with the historical inline
    plans), broadcast :func:`assign_cells_arrow` beyond — the shared
    assignment of :func:`ivf_topk` and the persisted IVF index, which
    MUST assign identically or indexed results drift from per-call ones.
    """
    if len(C) <= MAX_EXPR_CELLS:

        def cell_expr(col):  # argmin distance to centroids, built-in only
            best_id = F.lit(0)
            best_d = F.lit(float("inf"))
            for j in range(len(C)):
                dj = F.aggregate(
                    F.zip_with(F.array(*[F.lit(float(v)) for v in C[j]]), col,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x,
                )
                best_id = F.when(dj < best_d, F.lit(j)).otherwise(best_id)
                best_d = F.least(best_d, dj)
            return best_id

        return df.withColumn(out_col, cell_expr(F.col(emb_col)))
    return assign_cells_arrow(df, C, emb_col, nprobe=1).withColumn(
        out_col, F.element_at("cells", 1)
    ).drop("cells")


def tag_probe_cells(df: DataFrame, C: np.ndarray, emb_col: str,
                    nprobe: int = 1, out_col: str = "qcell") -> DataFrame:
    """EXPLODE each row into its ``nprobe`` nearest cells (query-side
    probing) — same two-path split and tie order as :func:`tag_cell`."""
    if len(C) <= MAX_EXPR_CELLS:

        def probe_cells(col):  # nprobe nearest centroids as an array column
            dists = F.array(*[
                F.struct(
                    F.aggregate(
                        F.zip_with(F.array(*[F.lit(float(v)) for v in C[j]]), col,
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(j).alias("cell"),
                )
                for j in range(len(C))
            ])
            return F.slice(F.transform(F.array_sort(dists), lambda s: s["cell"]),
                           1, nprobe)

        return df.withColumn(out_col, F.explode(probe_cells(F.col(emb_col))))
    return assign_cells_arrow(df, C, emb_col, nprobe=nprobe).withColumn(
        out_col, F.explode("cells")
    ).drop("cells")


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", emb_col: str = "embedding",
    dim: int = 64, n_cells: int = 16, nprobe: int = 4,
    sample_rows: int = 2048, seed: int = 23, refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus to seeded k-means
    cells; each query scans only its `nprobe` nearest cells.
    ``refine_iters > 0`` runs distributed Lloyd passes over the full
    corpus (see :func:`kmeans_refine`) — better cells at scale, at the
    cost of bit-exact cross-partitioning determinism. Cell assignment and
    probe selection use in-plan expressions for n_cells <= MAX_EXPR_CELLS
    and the broadcast :func:`assign_cells_arrow` pass beyond (constant
    plan size at production index widths)."""
    c = _as_double(corpus, id_col, emb_col, "emb")
    # Deterministic centroid sample: a bare limit() picks whichever
    # partitions answer first, making the IVF index (and its recall)
    # unstable across runs/repartitions; _training_sample hash-orders the
    # ids so the draw is ALSO unbiased (not the head of a source-sorted
    # corpus) while still compiling to TakeOrderedAndProject.
    sample = _training_sample(c, id_col, "emb", sample_rows)
    C = _lloyd_centroids(sample, n_cells, seed=seed)
    if refine_iters > 0:
        C = kmeans_refine(c, C, emb_col="emb", n_iter=refine_iters)

    q = _as_double(queries, id_col, emb_col, "qemb").withColumnRenamed(id_col, "qid")

    ctag = tag_cell(c, C, "emb", out_col="cell")
    qtag = tag_probe_cells(q, C, "qemb", nprobe=nprobe, out_col="qcell")
    cand = ctag.join(
        F.broadcast(qtag),
        (F.col("cell") == F.col("qcell")) & (F.col(id_col) != F.col("qid")),
    ).select("qid", id_col, "qemb", "emb").dropDuplicates(["qid", id_col])
    sims = cand.select(
        "qid", id_col,
        (_dot(F.col("qemb"), F.col("emb")) / (_norm(F.col("qemb")) * _norm(F.col("emb")))
         ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
