"""Connected components over near-duplicate pair edges.

The missing last step of every dedup pipeline: pair emitters (MinHash
LSH, SimHash banding, embedding LSH) produce EDGES, but retention
decisions need CLUSTERS — "keep one doc per component". This operator
turns an (id_a, id_b) edge table into (id, component) labels, where the
component id is the minimum vertex id reachable (a deterministic
canonical representative).

Algorithm: contract each partition first, then propagate labels only
between partitions (the contraction idea of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014).

1. **One ``mapInArrow`` pass of per-partition union-find.** Each Python
   worker maps its partition's endpoints to dense ids with ``np.unique``,
   joins them by min-hooking plus pointer jumping, and emits
   ``(id, root)`` for every id the partition saw, ``root`` being the
   minimum id of its local component. The pass keeps the input's
   partitioning, so pairs coming out of a shuffle arrive in AQE-sized
   partitions and a small pair list is a single one. Memory bound: one
   partition's edge ids, as a few numpy arrays of its edge count, in one
   Python worker.
2. **Initial labels** are ``groupBy(id)`` of that output: ``min(root)``
   and the number of partitions that saw the id, checkpointed once. If
   no id was seen by two partitions, the local components are the
   global ones and the labels are returned after ZERO rounds; one
   ``isEmpty`` probe decides. A single-partition edge list always takes
   this path.
3. **Otherwise min-label rounds run on the star graph**: every
   ``(id, root)`` edge in both directions plus a self-loop per labelled
   vertex, materialized once. It has the input's connectivity and at
   most one edge per vertex per partition. A round is ONE join of the
   star graph to the labels and ONE ``groupBy``: the new label is the
   minimum label over the neighbors and the self-loop, and the previous
   label comes out of the same aggregate as the self-loop's label, so
   the convergence probe is a filter + count of the checkpointed round
   (a scalar, never a label collect). Near-dup components are shallow,
   so this converges in a handful of rounds.
4. **Fallback.** A component laid out over the partitions as a deep
   chain (no partition holding two adjacent links) still needs
   O(diameter) rounds. After ``max_iter`` stalled rounds the operator
   switches to the large-star/small-star contraction of the same paper:
   alternating rounds where every vertex hangs its larger neighbors
   (large-star) / its smaller neighbors and itself (small-star) onto its
   minimum neighbor. Both operations preserve connectivity, every
   component contracts to a star centered at its minimum id in
   O(log^2 n) rounds regardless of diameter, and each round is a
   constant number of keyed shuffles over a (shrinking) edge set; its
   fixpoint test is an edge-set count + hash-sum.

Iterative DataFrame loops grow the logical plan without bound;
``localCheckpoint`` truncates lineage each round (on a real cluster with
unreliable executors, set a checkpoint dir and use ``checkpoint``
instead — the loop structure is identical).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "connected_components",
    "retain_best_per_cluster",
    "retain_best_with_labels",
]


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Union-find over dense ids ``0..n-1`` joined by edges
    ``(a[i], b[i])``: every id's root, the minimum id of its component.

    Min-hooking: each edge whose endpoints sit in different trees hooks
    the larger root under the smaller; pointer jumping then flattens
    every tree. ``parent[x] <= x`` throughout, so no cycle can form."""
    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return parent
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _local_stars(batches):
    """``mapInArrow`` body: contract one partition's ``(u, v)`` edges to
    one ``(id, root)`` row per id seen. An edge with a null endpoint
    joins nothing: its other endpoint is still emitted, and the
    partition emits one ``(null, null)`` row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    u = pa.concat_arrays([b.column(0) for b in batches])
    v = pa.concat_arrays([b.column(1) for b in batches])
    full = pc.and_(u.is_valid(), v.is_valid())
    part = pc.invert(full)
    eu, ev = u.filter(full), v.filter(full)
    ends = pa.concat_arrays([eu, ev, u.filter(part).drop_null(),
                             v.filter(part).drop_null()])
    # sorted dense ids, so the min dense id of a component is its min id
    _, first, inv = np.unique(ends.to_numpy(zero_copy_only=False),
                              return_index=True, return_inverse=True)
    m = len(eu)
    ids = ends.take(first)
    out = [ids, ids.take(_min_roots(len(first), inv[:m], inv[m:2 * m]))]
    if u.null_count or v.null_count:
        out = [pa.concat_arrays([c, pa.nulls(1, c.type)]) for c in out]
    yield pa.RecordBatch.from_arrays(out, names=["id", "root"])


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u, v) with u < v, distinct."""
    return (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_components(sym: DataFrame, labels: DataFrame,
                     max_rounds: int = 50) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., SoCC 2014).

    Seeded with the min-label progress: each (id, component) label is an
    edge to an already-known reachable vertex, so prior rounds' work
    shortcuts chains here too. Every component contracts to a star
    centered at its minimum id in O(log^2 n) alternating rounds; the
    fixpoint test is two scalar aggregates (edge count + xxhash64 sum)
    per round — a star graph is a fixpoint of both operations.
    """
    def _digest(edge_df: DataFrame):
        # order-free edge-set fingerprint; the hash sum rides decimal(38,0)
        # so it cannot overflow under ANSI mode at any edge count
        row = edge_df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    verts = labels.select("id")
    e = _canon(
        sym.unionByName(
            labels.select(F.col("id").alias("u"), F.col("component").alias("v"))
        )
    ).localCheckpoint(eager=True)
    before = _digest(e)
    for _ in range(max_rounds):
        # large-star: every vertex u connects its LARGER neighbors to
        # m(u) = min(neighbors(u) + {u})
        s = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = s.groupBy("u").agg(F.min("v").alias("__mn"))
        m = m.select("u", F.least("u", "__mn").alias("m"))
        ls = (
            s.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e = _canon(ls).localCheckpoint(eager=True)
        # small-star: orient edges larger -> smaller; every vertex u
        # connects its smaller neighbors AND itself to their minimum
        o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m2 = o.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            o.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m2.select("u", F.col("m").alias("v")))
        )
        e = _canon(ss).localCheckpoint(eager=True)
        after = _digest(e)
        if before == after:
            # at the star fixpoint each non-center vertex has exactly one
            # (smaller) neighbor: the component center
            nbrs = e.select(F.col("u").alias("id"), F.col("v").alias("nbr")) \
                .unionByName(
                    e.select(F.col("v").alias("id"), F.col("u").alias("nbr"))
                )
            lab = nbrs.groupBy("id").agg(F.min("nbr").alias("__mn"))
            lab = lab.select("id", F.least("id", "__mn").alias("component"))
            # vertices whose component fully contracted away keep self-label
            return verts.join(lab, "id", "left").select(
                "id", F.coalesce("component", F.col("id")).alias("component")
            )
        before = after
    raise RuntimeError(
        f"star contraction did not reach a fixpoint in {max_rounds} rounds"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    fallback: str = "star",
) -> DataFrame:
    """Label every vertex of the (undirected) edge table with the minimum
    vertex id in its connected component.

    Returns (id, component); only vertices that appear in ``edges`` are
    labeled (an isolated doc is its own trivial cluster and never needed
    the graph pass). An edge with a null endpoint labels its other
    endpoint as if the edge were absent and adds one ``(null, null)``
    row. The union-find pass contracts each partition; when no id spans
    two partitions the result needs no min-label round at all (see the
    module docstring). If ``max_iter`` min-label rounds don't reach the
    fixpoint (a component laid out as a deep chain across partitions),
    ``fallback='star'`` (default) switches to the large-star/small-star
    contraction, which finishes in O(log^2 n) further rounds regardless
    of diameter; ``fallback='raise'`` restores the historical
    fail-loudly behaviour. ``max_iter=0`` with the default fallback runs
    star contraction whenever some id spans two partitions.
    """
    if fallback not in ("star", "raise"):
        raise ValueError(f"fallback {fallback!r}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # the endpoints' common type: a union of the two columns widens it
    t = e.select("u").unionByName(e.select(F.col("v").alias("u"))) \
        .schema["u"].dataType
    # a lazy checkpoint, not a cache: AQE still sizes the input's last
    # shuffle (a cached plan must keep its partitioning), and the labels
    # job fills it for the rounds to re-read
    stars = e.select(F.col("u").cast(t), F.col("v").cast(t)).mapInArrow(
        _local_stars,
        T.StructType([T.StructField("id", t), T.StructField("root", t)]),
    ).localCheckpoint(eager=False)
    labels = (
        stars.groupBy("id")
        .agg(F.min("root").alias("component"), F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    if labels.where(F.col("n") > 1).isEmpty():
        return labels.drop("n")  # no id spans partitions: done
    labels = labels.drop("n")
    # materialized once through a shuffle, so AQE packs it into as few
    # partitions as its size needs and a round scans that many, not one
    # per input partition
    star = stars.where(F.col("id") != F.col("root"))
    sym = star.select(F.col("id").alias("u"), F.col("root").alias("v")) \
        .unionByName(star.select(F.col("root").alias("u"),
                                 F.col("id").alias("v"))) \
        .unionByName(labels.select(F.col("id").alias("u"),
                                   F.col("id").alias("v"))) \
        .repartition("v").localCheckpoint(eager=True)
    for _ in range(max_iter):
        # left join: the null id's self-loop matches no label, but its
        # (null, null) row must survive the round
        stepped = (
            sym.join(labels.select(F.col("id").alias("v"),
                                   F.col("component").alias("vcomp")),
                     "v", "left")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("vcomp").alias("component"),
                 F.max(F.when(F.col("u") == F.col("v"), F.col("vcomp")))
                 .alias("prev"))
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        changed = stepped.where(F.col("component") != F.col("prev")).count()
        labels = stepped.drop("prev")
        if changed == 0:
            return labels
    if fallback == "star":
        return _star_components(sym, labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "unexpectedly deep component chain; raise max_iter or use the "
        "default fallback='star' (large-star/small-star contraction)"
    )


def retain_best_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
    src: str = "id_a",
    dst: str = "id_b",
    **cc_kwargs,
) -> DataFrame:
    """The full near-dup retention decision a training pipeline ships:
    pairs -> connected components -> keep the best-scoring doc per
    cluster (ties broken by lowest id, deterministically; the id tie-break
    negates the column, so ids must be numeric — pass a numeric surrogate
    for string ids).

    Docs absent from ``pairs`` are their own singleton cluster and always
    survive. Returns ``docs``' rows (all columns) plus a ``component``
    label, one row per retained cluster. Scale shape: the graph pass
    touches only ids (never text/scores), then ONE keyed window over the
    cluster label — and near-dup clusters are small by construction
    (max_bucket-capped candidate generation upstream), so the window's
    per-key row count is bounded.
    """
    cc = connected_components(pairs, src=src, dst=dst, **cc_kwargs)
    return retain_best_with_labels(docs, cc, id_col=id_col,
                                   score_col=score_col)


def retain_best_with_labels(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Retention decision from PRE-COMPUTED ``(id, component)`` labels —
    the incremental pipeline's last stage: ``dedup_new_batch`` emits the
    batch's pairs, :func:`~lyssandra_spark.operators.incremental.update_components`
    folds them into the persisted label table, and this function turns
    the CURRENT labels into "keep the best doc per cluster" — no graph
    pass at all, so the daily retention refresh costs one broadcast-ish
    join + one bounded keyed window. Semantics are identical to
    :func:`retain_best_per_cluster` (which now delegates here after
    running CC): docs absent from ``labels`` are singleton clusters and
    always survive; ties break deterministically by lowest id (numeric
    ids — same caveat as retain_best_per_cluster).
    """
    from lyssandra_spark.operators.windows import dedup_latest

    labeled = docs.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    ranked = labeled.withColumn("__neg_id", -F.col(id_col))
    return dedup_latest(
        ranked, ["component"], [score_col, "__neg_id"]
    ).drop("__neg_id")
