"""Incremental near-duplicate detection over a persisted signature index.

A production training-data pipeline does NOT recompute 100 TB of minhash
signatures every day: the daily job dedups a NEW shard against the
already-indexed corpus. This module composes the signature operators
(:mod:`~lyssandra_spark.operators.dedup`) with the snapshot catalog
(:mod:`~lyssandra_spark.sources.catalog`):

- the index is ONE catalog table of ``(doc_id, sig)`` rows — band bucket
  keys are a pure-JVM projection of the signature
  (:func:`~lyssandra_spark.operators.dedup.band_signatures`), so they are
  derived on read instead of persisted ``bands``-times over;
- each batch computes signatures ONLY for the new shard (one vectorized
  mapInArrow pass), appends them as a new catalog snapshot, and
  bucket-joins the new shard's bands against the indexed bands
  (new-vs-indexed) plus itself (new-vs-new). The indexed corpus never
  crosses Python again and its text is never re-read;
- the incremental invariant (pinned in ``tests/test_dedup.py``): the
  UNION of every batch's returned pairs equals
  :func:`~lyssandra_spark.operators.dedup.minhash_lsh_pairs` run once over
  the full corpus. It holds because signatures are deterministic in
  (n_perm, ngram_bytes, seed) and every unordered pair {a, b} is emitted
  exactly once — by whichever batch indexed the LATER of the two docs.

LSH parameters are part of the index's identity: they are recorded in the
snapshot manifest ``meta`` on every write and validated against the chain
head on every subsequent batch — mixing signature spaces would silently
produce buckets that never collide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lyssandra_spark.operators.dedup import (
    band_signatures,
    est_jaccard,
    minhash_signatures,
    simhash,
    simhash_bands,
)
from lyssandra_spark.operators.graph import connected_components
from lyssandra_spark.sources.catalog import Watermark

__all__ = [
    "dedup_new_batch", "simhash_new_batch", "embneardup_new_batch",
    "refresh_aggregate", "update_components",
]


def _index_batch_state(catalog, table: str, prior: list, params: dict,
                       params_key: str, batch_id: str | None):
    """Shared head-params validation + retry-replay lookup for the
    signature-index batch operators. Returns (replay_entry_or_None,
    prior_as_of_if_replaying). Params are the index identity
    (signatures from different parameter spaces never collide) and the
    comparison is EXACT — an index written before a key joined the
    identity (e.g. ``text_col``/``emb_col``, added in round 8) fails
    validation on the next batch rather than silently grandfathering a
    column space nobody recorded; the remedy is a rebuild, as the
    error says; a
    stamped ``batch_id`` makes a retried batch find its half-done
    snapshot instead of appending twice (see :func:`dedup_new_batch`'s
    retry-safety contract, which all three generators share)."""
    if prior:
        head = (catalog.latest_meta(table, params_key) or {}).get(params_key)
        if head != params:
            raise ValueError(
                f"{params_key} {params} do not match the index's {head}: "
                "signatures from different parameter spaces never collide — "
                "rebuild the index or reuse its parameters"
            )
    if batch_id is None:
        return None, None
    hits = [s for s in prior if s.get("meta", {}).get("batch_id") == batch_id]
    if len(hits) > 1:
        raise ValueError(
            f"batch_id {batch_id!r} appears on {len(hits)} snapshots — "
            "the index predates the retry guard or ids were reused"
        )
    if not hits:
        return None, None
    snap_id = hits[0]["id"]
    before = [s for s in prior if s["id"] < snap_id]
    return hits[0], (before[-1]["id"] if before else None)


def dedup_new_batch(
    catalog,
    table: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    ngram_bytes: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
    max_bucket: int | None = None,
    batch_id: str | None = None,
) -> tuple[DataFrame, int]:
    """Dedup ``new_docs`` against the signature index in ``catalog[table]``
    (plus within the new shard itself), append the new signatures as a new
    snapshot, and return ``(pairs, snapshot_id)``.

    ``pairs`` is (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard >= threshold — every near-dup pair with at least one end
    in the new shard. The first call on an empty table is the bootstrap:
    it returns exactly ``minhash_lsh_pairs(new_docs)``.

    Scale shape: the new shard's signatures are computed once, WRITTEN
    first, and both sides of every join read persisted parquet — the
    pairs plan never re-runs the Python signature pass, and the indexed
    side is a (doc_id, sig) projection with band keys derived JVM-side.
    The new-vs-indexed join keys on (band, bh); a small daily shard
    against a huge index is exactly the broadcast/AQE-friendly shape.
    ``max_bucket`` (optional) drops candidate buckets whose COMBINED
    (indexed + new) size exceeds the cap — same recall trade-off as
    :func:`~lyssandra_spark.operators.dedup._cap_buckets`, measured on
    the true bucket population rather than per side.

    **Retry safety**: the signature append is EAGER but the returned
    ``pairs`` plan is lazy — a job that dies between the two leaves the
    index holding this batch's signatures. Pass a stable ``batch_id``
    (e.g. the orchestrator's run date) and a retried call finds the
    half-done snapshot by its stamped id, SKIPS the re-append, and pairs
    against the chain as it stood before it — byte-identical output to a
    first-attempt success instead of a permanently doubled signature set.

    **Re-ingest safety**: doc ids already in the index (and duplicate
    ids within the batch) are dropped before signing — the id IS the
    document's identity, so re-feeding an indexed doc is a no-op, never
    a second signature row silently fanning out every future batch's
    verification join. A genuinely REVISED text under an old id needs an
    index rebuild (or a new id): the anti-join keeps the original
    signature by design.
    """
    if n_perm % bands != 0:
        raise ValueError(f"n_perm ({n_perm}) must be divisible by bands ({bands})")
    # text_col is part of the identity: signatures computed from
    # different text columns live in different spaces and must never
    # silently append into one chain
    params = {
        "n_perm": n_perm, "bands": bands,
        "ngram_bytes": ngram_bytes, "seed": seed, "id_col": id_col,
        "text_col": text_col,
    }
    prior = catalog.snapshots(table)
    # newest snapshot CARRYING the params (a compact() of the index
    # interposes an audit-only snapshot; the identity must survive)
    replay, replay_as_of = _index_batch_state(
        catalog, table, prior, params, "lsh_params", batch_id
    )

    if replay is not None:
        # retried batch: its signatures are already indexed — skip the
        # append and pair against the chain as it stood just before it
        snap_id = replay["id"]
        prior_as_of = replay_as_of
    else:
        prior_as_of = prior[-1]["id"] if prior else None
        # doc identity is the id: a re-ingested id (within the batch OR
        # already in the index) must not append a second signature row —
        # duplicated signatures fan out the verification join and emit
        # conflicting pairs in every future batch. Within-batch dups
        # collapse arbitrarily (ids are expected unique per doc);
        # already-indexed ids are anti-joined out, so re-feeding
        # yesterday's docs is a no-op rather than a slow corruption.
        batch = new_docs.dropDuplicates([id_col])
        if prior_as_of is not None:
            indexed_ids = catalog.read(table, as_of=prior_as_of).select(id_col)
            batch = batch.join(indexed_ids, id_col, "left_anti")
        sigs_new = minhash_signatures(
            batch, id_col, text_col, n_perm, ngram_bytes, seed
        )
        meta = {"lsh_params": params}
        if batch_id is not None:
            meta["batch_id"] = batch_id
        snap_id = catalog.write(
            sigs_new, table, mode="append" if prior else "overwrite", meta=meta,
        )
    # both join sides read what was just persisted — the mapInArrow
    # signature pass runs exactly once per document, ever
    new = catalog.read_snapshot(table, snap_id)
    banded_new = band_signatures(new, id_col, n_perm, bands)
    banded_old = None
    if prior_as_of is not None:
        old = catalog.read(table, as_of=prior_as_of)
        banded_old = band_signatures(old, id_col, n_perm, bands)

    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket ({max_bucket}) must be >= 2")
        pop = banded_new.select("band", "bh")
        if banded_old is not None:
            pop = pop.unionByName(banded_old.select("band", "bh"))
        keep = (
            pop.groupBy("band", "bh").count()
            .where(F.col("count") <= max_bucket)
            .select("band", "bh")
        )
        banded_new = banded_new.join(keep, ["band", "bh"], "left_semi")
        if banded_old is not None:
            banded_old = banded_old.join(keep, ["band", "bh"], "left_semi")

    def _pair(a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
        aj, bj = a.alias("a"), b.alias("b")
        cond = (F.col("a.band") == F.col("b.band")) & (
            F.col("a.bh") == F.col("b.bh")
        )
        ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
        if ordered:
            cond = cond & (ida < idb)
            sel = [ida.alias("id_a"), idb.alias("id_b")]
        else:
            # new-vs-indexed: sides are disjoint sets, canonicalize order
            cond = cond & (ida != idb)
            sel = [F.least(ida, idb).alias("id_a"),
                   F.greatest(ida, idb).alias("id_b")]
        return aj.join(bj, cond).select(*sel)

    cand = _pair(banded_new, banded_new, ordered=True)
    if banded_old is not None:
        cand = cand.unionByName(_pair(banded_new, banded_old, ordered=False))
    # signature lookup for verification = the full chain incl. this batch
    sig_lookup = catalog.read(table, as_of=snap_id)
    cand = (
        cand.dropDuplicates(["id_a", "id_b"])
        .join(sig_lookup.select(F.col(id_col).alias("id_a"),
                                F.col("sig").alias("sig_a")), "id_a")
        .join(sig_lookup.select(F.col(id_col).alias("id_b"),
                                F.col("sig").alias("sig_b")), "id_b")
    )
    pairs = (
        cand.withColumn("est_jaccard", est_jaccard(n_perm))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return pairs, snap_id


def simhash_new_batch(
    catalog,
    table: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    ngram_bytes: int = 4,
    max_bucket: int | None = None,
    batch_id: str | None = None,
) -> tuple[DataFrame, int]:
    """SimHash near-dup pairs of ``new_docs`` against the persisted
    (id, simhash) index in ``catalog[table]`` (plus within the new
    shard), appending the new hashes as a snapshot — the
    :func:`dedup_new_batch` pattern applied to the second pair
    generator, closing the standalone operator's full-corpus
    re-signature. Returns ``(pairs, snapshot_id)`` with pairs
    (id_a, id_b, hamming), id_a < id_b, hamming <= ``max_hamming``.

    The index holds ONE 8-byte hash per doc; pigeonhole chunk keys are
    derived on read (:func:`~lyssandra_spark.operators.dedup
    .simhash_bands` — a pure-JVM projection, the ``band_signatures``
    trick), so only ``ngram_bytes`` is the index identity and
    ``max_hamming`` can vary per call (keep it constant across batches
    for the union-equals-full-recompute invariant, which is pinned in
    pytest). Retry (``batch_id``) and re-ingest (id anti-join)
    semantics are exactly :func:`dedup_new_batch`'s. Uncapped, each
    batch's pairs are EXACT for its frontier (the pigeonhole argument
    is per-pair), so the union over batches equals
    :func:`~lyssandra_spark.operators.dedup.simhash_neardup_pairs`
    over the full corpus — each unordered pair emitted once, by the
    batch that indexed the later doc.

    At 100 TB: per batch, one vectorized simhash pass over the NEW
    shard only, one append, and bucket-joins whose indexed side is an
    (id, simhash) projection — corpus text never re-read, hashes never
    recomputed.
    """
    params = {"ngram_bytes": ngram_bytes, "id_col": id_col,
              "text_col": text_col}
    prior = catalog.snapshots(table)
    replay, replay_as_of = _index_batch_state(
        catalog, table, prior, params, "simhash_params", batch_id
    )
    if replay is not None:
        snap_id = replay["id"]
        prior_as_of = replay_as_of
    else:
        prior_as_of = prior[-1]["id"] if prior else None
        batch = new_docs.dropDuplicates([id_col])
        if prior_as_of is not None:
            indexed_ids = catalog.read(table, as_of=prior_as_of).select(id_col)
            batch = batch.join(indexed_ids, id_col, "left_anti")
        sh_new = simhash(batch, id_col, text_col, ngram_bytes)
        meta = {"simhash_params": params}
        if batch_id is not None:
            meta["batch_id"] = batch_id
        snap_id = catalog.write(
            sh_new, table, mode="append" if prior else "overwrite", meta=meta,
        )
    new = catalog.read_snapshot(table, snap_id)
    banded_new = simhash_bands(new, id_col, "simhash", max_hamming)
    banded_old = None
    if prior_as_of is not None:
        old = catalog.read(table, as_of=prior_as_of)
        banded_old = simhash_bands(old, id_col, "simhash", max_hamming)
    cand = _banded_batch_pairs(
        banded_new, banded_old, ["ci", "cv"], id_col, max_bucket,
        carry=["simhash"],
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    ), snap_id


def embneardup_new_batch(
    catalog,
    table: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    min_cosine: float = 0.9,
    seed: int = 11,
    n_tables: int = 1,
    max_bucket: int | None = None,
    batch_id: str | None = None,
) -> tuple[DataFrame, int]:
    """Cosine near-dup pairs of ``new_vecs`` against the persisted
    embedding-LSH index — the third pair generator brought under the
    :func:`dedup_new_batch` shape. The index holds (id, embedding,
    buckets): the multi-table sign-sketch buckets are computed ONCE at
    ingest (:func:`~lyssandra_spark.operators.similarity
    .hyperplane_bucket_arrays` — one array<long>, not n_tables exploded
    copies of the vector) and banded back out on read with a pure-JVM
    ``posexplode``. Candidate generation joins (tbl, bucket) keys
    new-vs-new and new-vs-indexed; exact cosine verification re-joins
    embeddings for surviving deduped pairs only. Returns ``(pairs,
    snapshot_id)`` with pairs (id_a, id_b, cosine) >= ``min_cosine``.

    Plane identity: the (dim, n_planes, n_tables, seed) draw IS the
    bucket space, so those are the manifest-validated index params;
    ``min_cosine`` is a per-call verification threshold (constant
    across batches for the union-equals-full invariant, as with
    ``threshold`` in :func:`dedup_new_batch`). Retry and re-ingest
    semantics are identical to the other generators. At 100 TB the
    historical corpus is never re-projected: per batch, one GEMM-or-
    expression bucket pass over the new shard, one append, keyed joins.
    """
    import numpy as np

    from lyssandra_spark.operators.similarity import hyperplane_bucket_arrays

    if n_tables < 1:
        raise ValueError(f"n_tables ({n_tables}) must be >= 1")
    params = {"dim": dim, "n_planes": n_planes, "n_tables": n_tables,
              "seed": seed, "id_col": id_col, "emb_col": emb_col}
    prior = catalog.snapshots(table)
    replay, replay_as_of = _index_batch_state(
        catalog, table, prior, params, "emblsh_params", batch_id
    )
    if replay is not None:
        snap_id = replay["id"]
        prior_as_of = replay_as_of
    else:
        prior_as_of = prior[-1]["id"] if prior else None
        # in-plan width assert: a vector whose length != dim would
        # null-pad zip_with on the literal bucket path and silently
        # degrade recall (bits fold to 0 through NULL dots) — fail
        # loudly instead. assert_true rides ON the emb column so column
        # pruning can never drop the check, and it costs no extra job.
        emb_checked = F.when(
            F.assert_true(
                F.size(F.col(emb_col).cast("array<double>")) == dim,
                F.concat(
                    F.lit(f"embedding width != dim ({dim}) for "
                          f"{id_col}="),
                    F.col(id_col).cast("string"),
                ),
            ).isNull(),
            F.col(emb_col).cast("array<double>"),
        )
        batch = new_vecs.dropDuplicates([id_col]).select(
            id_col, emb_checked.alias("emb")
        )
        if prior_as_of is not None:
            indexed_ids = catalog.read(table, as_of=prior_as_of).select(id_col)
            batch = batch.join(indexed_ids, id_col, "left_anti")
        # same stacked draw as embedding_neardup_pairs: bit-identical
        # buckets, so incremental and one-shot candidates coincide
        planes = np.random.default_rng(seed).standard_normal(
            (n_tables, n_planes, dim)
        )
        tagged = hyperplane_bucket_arrays(batch, planes, "emb",
                                          keep=[id_col, "emb"])
        meta = {"emblsh_params": params}
        if batch_id is not None:
            meta["batch_id"] = batch_id
        snap_id = catalog.write(
            tagged, table, mode="append" if prior else "overwrite", meta=meta,
        )

    def band(df):
        return df.select(
            id_col, F.posexplode("buckets").alias("tbl", "bucket")
        )

    new = catalog.read_snapshot(table, snap_id)
    banded_new = band(new)
    banded_old = None
    if prior_as_of is not None:
        banded_old = band(catalog.read(table, as_of=prior_as_of))
    cand = _banded_batch_pairs(
        banded_new, banded_old, ["tbl", "bucket"], id_col, max_bucket,
    )
    # embedding lookup for verification = the full chain incl. this batch
    emb_lookup = catalog.read(table, as_of=snap_id).select(
        id_col, F.col("emb")
    )
    cand = (
        cand.join(emb_lookup.select(F.col(id_col).alias("id_a"),
                                    F.col("emb").alias("emb_a")), "id_a")
        .join(emb_lookup.select(F.col(id_col).alias("id_b"),
                                F.col("emb").alias("emb_b")), "id_b")
    )
    dotp = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        cand.select(
            "id_a", "id_b",
            (dotp / (nrm("emb_a") * nrm("emb_b"))).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    ), snap_id


def _banded_batch_pairs(
    banded_new: DataFrame,
    banded_old: DataFrame | None,
    keys: list[str],
    id_col: str,
    max_bucket: int | None,
    carry: list[str] | None = None,
) -> DataFrame:
    """new-vs-new (ordered) plus new-vs-indexed (canonicalized) bucket
    joins with the combined-population cap — the shared candidate layer
    of the three incremental generators. ``carry`` names per-row columns
    to ride along as ``<c>_a``/``<c>_b`` shorthand (e.g. the simhash for
    in-join verification); deduped on (id_a, id_b)."""
    carry = carry or []
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket ({max_bucket}) must be >= 2")
        pop = banded_new.select(*keys)
        if banded_old is not None:
            pop = pop.unionByName(banded_old.select(*keys))
        keep = (
            pop.groupBy(*keys).count()
            .where(F.col("count") <= max_bucket)
            .select(*keys)
        )
        banded_new = banded_new.join(keep, keys, "left_semi")
        if banded_old is not None:
            banded_old = banded_old.join(keep, keys, "left_semi")

    def _pair(a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
        aj, bj = a.alias("a"), b.alias("b")
        cond = None
        for kcol in keys:
            c = F.col(f"a.{kcol}") == F.col(f"b.{kcol}")
            cond = c if cond is None else cond & c
        ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
        if ordered:
            cond = cond & (ida < idb)
            sel = [ida.alias("id_a"), idb.alias("id_b")]
            sel += [F.col(f"a.{c}").alias(_short(c, "a")) for c in carry]
            sel += [F.col(f"b.{c}").alias(_short(c, "b")) for c in carry]
        else:
            cond = cond & (ida != idb)
            sel = [F.least(ida, idb).alias("id_a"),
                   F.greatest(ida, idb).alias("id_b")]
            # carry columns follow the canonical order
            sel += [
                F.when(ida < idb, F.col(f"a.{c}")).otherwise(F.col(f"b.{c}"))
                .alias(_short(c, "a"))
                for c in carry
            ]
            sel += [
                F.when(ida < idb, F.col(f"b.{c}")).otherwise(F.col(f"a.{c}"))
                .alias(_short(c, "b"))
                for c in carry
            ]
        return aj.join(bj, cond).select(*sel)

    cand = _pair(banded_new, banded_new, ordered=True)
    if banded_old is not None:
        cand = cand.unionByName(_pair(banded_new, banded_old, ordered=False))
    return cand.dropDuplicates(["id_a", "id_b"])


def _short(col: str, side: str) -> str:
    """simhash -> sh_a / sh_b; anything else -> <col>_a / <col>_b."""
    return ("sh" if col == "simhash" else col) + "_" + side


def update_components(
    catalog,
    table: str,
    new_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    broadcast_limit: int = 5_000_000,
    **cc_kwargs,
) -> int:
    """Incremental cluster maintenance: keep a persisted ``(id,
    component)`` label table equal to
    :func:`~lyssandra_spark.operators.graph.connected_components` over
    the UNION of every pair batch ever folded in — without re-running CC
    over all pairs each batch. This is the composition
    :func:`dedup_new_batch` was missing: pair GENERATION is incremental,
    and now turning pairs into retention decisions is too. Returns the
    label table's snapshot id (unchanged if the batch changed nothing).

    Frontier-only relabeling: each existing component is CONTRACTED to
    its label (one super-node), so the graph CC actually runs on has one
    node per *touched* component plus the genuinely new ids — the
    frontier — never the full corpus. Because labels are canonical
    minimum-member ids, the contracted graph's min-label components are
    exactly the merged components' true minimum ids, so incremental
    labels are bit-identical to a full recompute. The relabel delta is
    built with a BROADCAST join of the (old label -> new label) map
    against the label table — untouched components are never shuffled
    (plan-asserted in pytest) — and only rows whose label actually
    changed go through the catalog's keyed merge. New-pair endpoints
    never seen before enter as new label rows. The broadcast is
    GUARDED: if the remap exceeds ``broadcast_limit`` rows (a bulk
    backfill routed through the incremental path instead of the
    bootstrap branch, where the frontier ~ the corpus), the relabel
    falls back to a shuffle join — labels identical, driver intact —
    instead of OOMing the driver on a corpus-scale broadcast. The
    count probing the size is cheap: ``connected_components`` returns
    a localCheckpointed result.

    At 100 TB: per batch this costs one bounded CC over the contracted
    frontier graph + one broadcast-join scan of the label table; the
    daily near-dup job therefore never re-runs graph propagation over a
    year of accumulated pairs. (Isolated docs never appear in pairs and
    are never stored — singletons are implicit, as in
    ``connected_components`` itself.)
    """
    pairs = new_pairs.select(src, dst)
    prior = catalog.snapshots(table)
    if not prior:
        labels = connected_components(pairs, src=src, dst=dst, **cc_kwargs)
        return catalog.write(labels, table, mode="overwrite")

    labels = catalog.read(table)  # (id, component)
    head = prior[-1]["id"]
    # map every pair endpoint to its super-node: the existing component
    # label, or the id itself if never seen before
    ends = (
        pairs.select(F.col(src).alias("id"))
        .unionByName(pairs.select(F.col(dst).alias("id")))
        .distinct()
    )
    m = ends.join(labels, "id", "left").select(
        "id",
        F.col("component").isNotNull().alias("__known"),
        F.coalesce("component", F.col("id")).alias("node"),
    )
    contracted = (
        pairs.join(m.select(F.col("id").alias(src),
                            F.col("node").alias("u")), src)
        .join(m.select(F.col("id").alias(dst),
                       F.col("node").alias("v")), dst)
        .select("u", "v")
        .where(F.col("u") != F.col("v"))  # already same component: no-op
    )
    # the frontier graph is tiny (touched components + new ids); its CC
    # result is the (super-node -> new canonical label) map
    remap = connected_components(
        contracted, src="u", dst="v", **cc_kwargs
    ).select(F.col("id").alias("node"), F.col("component").alias("__new"))
    # size-guard the remap before broadcasting: daily frontiers are tiny
    # (broadcast — the label table is scanned once, never shuffled), but
    # a corpus-scale remap must shuffle-join instead of OOMing the
    # driver. The count reads the CC result's checkpointed blocks.
    remap_j = (
        F.broadcast(remap) if remap.count() <= broadcast_limit else remap
    )

    # relabel members of touched components; keep only real changes
    changed_old = (
        labels.join(remap_j, labels["component"] == remap_j["node"])
        .where(F.col("component") != F.col("__new"))
        .select("id", F.col("__new").alias("component"))
    )
    # endpoints never seen before get their first label. Every new id is
    # guaranteed a remap row: its super-node is the id itself, and its
    # contracted edge to any neighbor survives the u != v filter (an
    # unseen id can never equal an existing component's label, which is
    # the id of an already-labeled member).
    new_labeled = (
        m.where(~F.col("__known"))
        .join(remap_j, "node")
        .select("id", F.col("__new").alias("component"))
    )
    delta = changed_old.unionByName(new_labeled).localCheckpoint(eager=True)
    if delta.rdd.isEmpty():
        return head  # nothing changed: no new snapshot
    return catalog.merge(delta, table, keys="id")


def refresh_aggregate(
    catalog,
    src_table: str,
    agg_table: str,
    keys,
    sum_cols,
    count_col: str = "n_rows",
) -> int:
    """Materialized-view-style incremental aggregate maintenance: keep
    ``agg_table`` = ``src_table.groupBy(keys).agg(sum(sum_cols), count)``
    up to date by folding ONLY the source snapshots appended since the
    last refresh — the daily-stats job that must not rescan 100 TB.

    Mechanics: the agg table's snapshot meta records ``agg_last_snap``
    (the newest source snapshot folded in). A refresh reads just the
    delta snapshots via :meth:`ParquetCatalog.read_snapshot` (the
    incremental scan), partially aggregates them (map-side combine; the
    delta is the only thing shuffled), re-sums against the CURRENT agg
    rows (sum-of-sums — sums and counts are the mergeable aggregates,
    which is why this maintains exactly those), and lands one overwrite
    snapshot, so time-travel still exposes every prior refresh. No new
    source snapshots -> no-op (returns the current agg snapshot id). A
    source OVERWRITE resets its chain, so the refresh detects it and
    recomputes from scratch rather than folding deltas onto stale state
    — except a ``compact()`` whose folded snapshots were all already
    aggregated, which is audit-only for this consumer (no rebuild,
    skipped by the delta scan; see :func:`~lyssandra_spark.sources
    .catalog.incremental_chain_start`). A delta expire()d before the
    refresh saw it routes to the same recompute (its rows live on
    through the cumulative chain read).
    The watermark is read via :meth:`ParquetCatalog.latest_meta`, so a
    ``compact()`` of the AGG table itself (an audit-only snapshot that
    doesn't re-state the meta) never tricks the next refresh into a
    spurious rebuild.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    sum_cols = [sum_cols] if isinstance(sum_cols, str) else list(sum_cols)
    spec = {"src": src_table, "keys": keys, "sum_cols": sum_cols}
    # a different spec raises: snapshot ids from one table are
    # meaningless in another's, and another grouping mixes aggregates
    wm = Watermark(catalog, src_table, agg_table, "agg", spec, role="agg")

    def partial(df):
        return df.groupBy(*keys).agg(
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
            F.count("*").alias(count_col),
        )

    if wm.rebuild:
        # first build, or the source chain was overwritten under us
        return catalog.write(
            partial(catalog.read(src_table)), agg_table,
            mode="overwrite", meta=wm.stamp(),
        )
    if wm.noop:
        return wm.snaps[-1]["id"]
    # audit-only compactions are skipped: this scan has no keyed
    # re-ingest guard and would double-count them
    delta = wm.delta([*keys, *sum_cols])
    if delta is None:
        return wm.advance()  # only audit-only compactions: watermark only
    merged = partial(delta).unionByName(catalog.read(agg_table)).groupBy(
        *keys
    ).agg(
        *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        F.sum(count_col).alias(count_col),
    )
    return catalog.write(merged, agg_table, mode="overwrite",
                         meta=wm.stamp())
