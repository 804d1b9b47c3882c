"""Connected components: vs a python union-find oracle, worst-case chain
convergence, partition invariance, null endpoints and string ids."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lyssandra_spark.operators import graph
from lyssandra_spark.operators.graph import connected_components


def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical representative = min id in component
    comp = {}
    for v in list(parent):
        comp[v] = find(v)
    return comp


def _labels(df, **kw):
    return {r["id"]: r["component"]
            for r in connected_components(df, **kw).collect()}


def _run(spark, edges, **kw):
    return _labels(spark.createDataFrame(edges, "id_a long, id_b long"), **kw)


def _sliced(spark, edges, n, schema="id_a long, id_b long"):
    """``edges`` in ``n`` partitions of consecutive rows."""
    return spark.createDataFrame(spark.sparkContext.parallelize(edges, n),
                                 schema)


def _interleaved(spark, edges, k):
    """Edge ``(a, b)`` in partition ``a % k``: no partition holds two
    adjacent links of a chain ``(i, i + 1)``, so the per-partition
    union-find contracts nothing and the chain stays as deep as it is."""
    rdd = (spark.sparkContext.parallelize(edges)
           .keyBy(lambda e: e[0] % k).partitionBy(k, lambda p: p).values())
    return spark.createDataFrame(rdd, "id_a long, id_b long")


@pytest.fixture
def star_calls(monkeypatch):
    """Records each run of the large-star/small-star fallback."""
    calls = []
    real = graph._star_components

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(graph, "_star_components", spy)
    return calls


def test_cc_matches_union_find_random(spark):
    rng = np.random.default_rng(11)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 120, 300), rng.integers(0, 120, 300))
        if a != b
    ]
    got = _run(spark, edges)
    exp = _uf_oracle(edges)
    assert got == exp


def test_cc_chain_worst_case(spark):
    """A single path graph (maximum diameter for its size): min-label
    propagation still converges within max_iter because the min label
    hops one step per round along the chain — 24 edges, default cap."""
    edges = [(i, i + 1) for i in range(24)]
    got = _run(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 25


def test_cc_deep_chain_star_fallback(spark, star_calls):
    """A chain DEEPER than the min-label round cap: min-label alone would
    raise at max_iter, but the large-star/small-star fallback contracts
    the remaining path in O(log^2 n) rounds and converges to the same
    min-id labels (this used to be the documented failure mode). The
    links alternate between two partitions, so the per-partition
    union-find cannot shorten the chain, and the spy shows the fallback
    ran."""
    edges = [(i, i + 1) for i in range(80)]
    got = _labels(_interleaved(spark, edges, 2), max_iter=5)
    assert star_calls
    assert set(got.values()) == {0}
    assert len(got) == 81


def test_cc_pure_star_matches_union_find(spark, star_calls):
    """max_iter=0 runs pure star contraction once ids span partitions —
    must equal the union-find oracle on random multi-component graphs,
    including isolated chains and partition invariance."""
    rng = np.random.default_rng(17)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 150, 260), rng.integers(0, 150, 260))
        if a != b
    ] + [(1000 + i, 1001 + i) for i in range(30)]  # planted deep chain
    exp = _uf_oracle(edges)
    got = _run(spark, edges, max_iter=0)
    assert got == exp
    assert star_calls
    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(7)
    got_r = {r["id"]: r["component"]
             for r in connected_components(df, max_iter=0).collect()}
    assert got_r == exp


def test_cc_components_and_partition_invariance(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 1)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {r["id"]: r["component"]
         for r in connected_components(df).collect()}
    b = {r["id"]: r["component"]
         for r in connected_components(df.repartition(7)).collect()}
    assert a == b == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_cc_nonconvergence_raises(spark, star_calls):
    """A 10-link chain alternating between two partitions needs more
    than 2 rounds; ``fallback='raise'`` raises instead of contracting."""
    df = _interleaved(spark, [(i, i + 1) for i in range(10)], 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2, fallback="raise")
    assert not star_calls


@pytest.mark.parametrize("seed", [3, 29])
def test_cc_union_find_property_across_partitionings(spark, seed):
    """Random multi-component graphs with duplicate edges, reversed
    edges, self-loops and a planted 40-link chain, in shuffled row order:
    labels equal the union-find oracle at 1, 3 and 7 partitions."""
    rng = np.random.default_rng(seed)
    n_v = int(rng.integers(60, 200))
    base = [(int(a), int(b))
            for a, b in rng.integers(0, n_v, size=(int(n_v * 1.2), 2))]
    picks = [base[i] for i in rng.integers(0, len(base), 30)]
    edges = (
        base
        + picks[:15]  # duplicates
        + [(b, a) for a, b in picks[15:]]  # reversed duplicates
        + [(int(x), int(x)) for x in rng.integers(0, n_v + 40, 8)]  # loops
        + [(500 + i, 501 + i) for i in range(40)]  # planted chain
    )
    edges = [edges[i] for i in rng.permutation(len(edges))]
    exp = _uf_oracle(edges)
    for n in (1, 3, 7):
        assert _labels(_sliced(spark, edges, n)) == exp, n


def test_cc_single_partition_needs_no_round(spark, star_calls):
    """One partition's union-find already is the global answer, so even
    ``max_iter=0, fallback='raise'`` returns the oracle labels."""
    rng = np.random.default_rng(13)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 90, (120, 2))] \
        + [(500 + i, 501 + i) for i in range(40)]
    got = _labels(_sliced(spark, edges, 1), max_iter=0, fallback="raise")
    assert got == _uf_oracle(edges)
    assert not star_calls


@pytest.mark.parametrize("n_parts", [1, 5])
def test_cc_null_endpoints(spark, n_parts):
    """An edge with a null endpoint labels its other endpoint as if the
    edge were absent and yields one (null, null) row, whether the union-
    find pass settles everything (1 partition) or rounds run (one edge
    per partition, the null seen by two of them)."""
    edges = [(1, 2), (2, None), (None, 3), (4, 4), (5, 6)]
    got = connected_components(_sliced(spark, edges, n_parts)).collect()
    assert len(got) == 7
    assert {r["id"]: r["component"] for r in got} == {
        1: 1, 2: 1, 3: 3, 4: 4, 5: 5, 6: 5, None: None}


@pytest.mark.parametrize("n_parts", [1, 3])
def test_cc_string_ids(spark, n_parts):
    edges = [("b", "a"), ("c", "b"), ("x", "y")]
    df = _sliced(spark, edges, n_parts, "id_a string, id_b string")
    assert _labels(df) == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_dedup_retention_keep_best_per_cluster(spark):
    """End-to-end retention composition: near-dup pairs -> connected
    components -> keep the highest-quality doc per cluster (ties by
    lowest doc_id). This is the full dedup decision a training-data
    pipeline ships: cluster labels from the graph pass + one
    dedup_latest window."""
    from lyssandra_spark.operators.windows import dedup_latest

    docs = spark.createDataFrame(
        [(1, 0.9), (2, 0.95), (3, 0.2), (10, 0.5), (11, 0.5), (42, 0.7)],
        "doc_id long, quality double",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    from lyssandra_spark.operators.graph import retain_best_per_cluster

    kept = retain_best_per_cluster(docs, edges)
    rows = kept.collect()
    # doc 42 is isolated -> survives as its own cluster; {10, 11} tie on
    # quality -> lowest id wins; {1,2,3} -> highest quality (2) wins
    assert {r["doc_id"] for r in rows} == {2, 10, 42}
    assert set(kept.columns) == {"doc_id", "quality", "component"}
    # the inlined historical composition (dedup_latest over cc labels)
    # stays equivalent
    cc = connected_components(edges)
    labeled = docs.join(
        cc.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).withColumn("component", F.coalesce("component", "doc_id"))
    manual = dedup_latest(
        labeled.withColumn("neg_id", -F.col("doc_id")),
        ["component"], ["quality", "neg_id"],
    )
    assert {r["doc_id"] for r in manual.collect()} == {2, 10, 42}


def test_update_components_incremental_equals_full(spark, tmp_path):
    """Sequential update_components batches over a persisted label table
    must produce labels BIT-IDENTICAL to one connected_components run
    over all pairs — including batches that merge existing components,
    add brand-new chains, and are pure no-ops."""
    from lyssandra_spark.operators.incremental import update_components
    from lyssandra_spark.sources.catalog import ParquetCatalog

    rng = np.random.default_rng(23)
    edges = [
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, 400, size=(300, 2))
        if a != b
    ]
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    # route pairs to 4 sequential batches
    batches = [edges[i::4] for i in range(4)]
    for b in batches:
        df = spark.createDataFrame(b, "id_a long, id_b long")
        update_components(cat, "labels", df)

    got = {
        r["id"]: r["component"] for r in cat.read("labels").collect()
    }
    want = _uf_oracle(edges)
    assert got == want

    # replaying an already-folded batch is a pure no-op: same snapshot id
    head = cat.snapshots("labels")[-1]["id"]
    df0 = spark.createDataFrame(batches[0], "id_a long, id_b long")
    assert update_components(cat, "labels", df0) == head
    assert len(cat.snapshots("labels")) == head


def test_update_components_bulk_batch_shuffle_fallback(spark, tmp_path):
    """Broadcast guard: a bulk batch whose frontier ~ the corpus, fed
    through the incremental path with broadcast_limit=0 (every remap
    overflows), must take the shuffle-join fallback and still produce
    labels bit-identical to the union-find oracle — no driver blow-up,
    no behavior change."""
    from lyssandra_spark.operators.incremental import update_components
    from lyssandra_spark.sources.catalog import ParquetCatalog

    rng = np.random.default_rng(41)
    edges = [
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, 300, size=(200, 2))
        if a != b
    ]
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    seed = edges[:10]
    update_components(
        cat, "lab",
        spark.createDataFrame(seed, "id_a long, id_b long"),
    )
    # bulk backfill: the remaining 95% of pairs in ONE batch, forced
    # through the non-broadcast path
    update_components(
        cat, "lab",
        spark.createDataFrame(edges[10:], "id_a long, id_b long"),
        broadcast_limit=0,
    )
    got = {r["id"]: r["component"] for r in cat.read("lab").collect()}
    assert got == _uf_oracle(edges)


def test_update_components_merges_components_and_bridges(spark, tmp_path):
    """Planted topology: batch 1 builds two components {1,2,3} and
    {10,11}; batch 2 bridges them via a NEW id and starts a fresh
    component — every label must re-canonicalize to the global min."""
    from lyssandra_spark.operators.incremental import update_components
    from lyssandra_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    update_components(cat, "lab", b1)
    got1 = {r["id"]: r["component"] for r in cat.read("lab").collect()}
    assert got1 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    # bridge 3-100-10 merges both comps through new vertex 100;
    # (200, 201) is an unrelated brand-new component
    b2 = spark.createDataFrame(
        [(3, 100), (100, 10), (200, 201)], "id_a long, id_b long"
    )
    update_components(cat, "lab", b2)
    got2 = {r["id"]: r["component"] for r in cat.read("lab").collect()}
    assert got2 == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 100: 1, 200: 200, 201: 200}


def test_update_components_untouched_not_reshuffled(spark, tmp_path):
    """Scale contract: the relabel delta is built via a BROADCAST join
    against the label table (untouched components never shuffle), and a
    batch touching one component leaves every other component's rows
    byte-identical."""
    from lyssandra_spark.operators.incremental import update_components
    from lyssandra_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    # 50 disjoint 2-chains: components (0,1), (2,3), ...
    b1 = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(50)], "id_a long, id_b long"
    )
    update_components(cat, "lab", b1)
    before = {
        r["id"]: r["component"] for r in cat.read("lab").collect()
    }

    # touch ONLY components 0 and 2 (merge them); assert the delta plan:
    # label-table side must see a broadcast join and no Exchange
    b2 = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    labels = cat.read("lab")
    from pyspark.sql import functions as FF
    from lyssandra_spark.operators.graph import connected_components as _cc
    remap = _cc(
        spark.createDataFrame([(0, 2)], "id_a long, id_b long")
    ).select(FF.col("id").alias("node"), FF.col("component").alias("__new"))
    delta_plan = (
        labels.join(FF.broadcast(remap), labels["component"] == remap["node"])
        .where(FF.col("component") != FF.col("__new"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in delta_plan
    assert "Exchange" not in delta_plan.replace("BroadcastExchange", "BX")

    update_components(cat, "lab", b2)
    after = {r["id"]: r["component"] for r in cat.read("lab").collect()}
    assert after[2] == 0 and after[3] == 0 and after[0] == 0 and after[1] == 0
    for i in range(4, 100):
        assert after[i] == before[i]  # untouched components unchanged


def test_update_components_composes_with_dedup_new_batch(
    spark, tmp_path, sf_dir
):
    """End-to-end incremental pipeline: dedup_new_batch emits each
    batch's pairs, update_components folds them into persisted labels —
    final labels equal a full-corpus minhash_lsh_pairs + CC run."""
    from lyssandra_spark.operators.dedup import minhash_lsh_pairs
    from lyssandra_spark.operators.incremental import (
        dedup_new_batch,
        update_components,
    )
    from lyssandra_spark.sources.catalog import ParquetCatalog

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    kw = dict(n_perm=32, bands=8, threshold=0.3, ngram_bytes=8)
    for r in range(3):
        shard = docs.where(F.col("doc_id") % 3 == r)
        pairs, _ = dedup_new_batch(cat, "sigs", shard, **kw)
        update_components(cat, "labels", pairs)

    full = minhash_lsh_pairs(docs, **kw)
    want = {
        r["id"]: r["component"]
        for r in connected_components(full).collect()
    }
    got = {r["id"]: r["component"] for r in cat.read("labels").collect()}
    assert got == want and len(got) > 0


def test_retain_best_with_labels_matches_pair_path(spark, tmp_path):
    """Label-driven retention (the incremental pipeline's last stage)
    must equal the pairs->CC->retain path exactly — including via a
    persisted update_components label table."""
    from lyssandra_spark.operators.graph import (
        retain_best_per_cluster,
        retain_best_with_labels,
    )
    from lyssandra_spark.operators.incremental import update_components
    from lyssandra_spark.sources.catalog import ParquetCatalog

    rng = np.random.default_rng(5)
    docs = spark.createDataFrame(
        [(int(i), float(rng.uniform())) for i in range(60)],
        "doc_id long, quality double",
    )
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, 50, size=(40, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    want = (
        retain_best_per_cluster(docs, pairs)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    got_direct = (
        retain_best_with_labels(docs, connected_components(pairs))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    import pandas as pd
    pd.testing.assert_frame_equal(want, got_direct)

    # via the persisted incremental label table, folded in two batches
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    half = len(edges) // 2
    for chunk in (edges[:half], edges[half:]):
        update_components(
            cat, "lab", spark.createDataFrame(chunk, "id_a long, id_b long")
        )
    got_inc = (
        retain_best_with_labels(docs, cat.read("lab"))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got_inc)


def test_update_components_random_batching_property(spark, tmp_path_factory):
    """Property sweep: incremental labels == union-find oracle for random
    graph topologies AND random batch routings — including chain graphs
    (deep diameter), dense blobs (heavy merging), and batches that only
    touch existing components."""
    from lyssandra_spark.operators.incremental import update_components
    from lyssandra_spark.sources.catalog import ParquetCatalog

    rng = np.random.default_rng(77)
    for trial in range(6):
        shape = trial % 3
        if shape == 0:  # chains: deep components
            edges = [(i, i + 1) for i in range(0, 60, 2)] + [
                (i, i + 2) for i in range(0, 50, 10)
            ]
        elif shape == 1:  # dense random blob: many merges per batch
            edges = [
                (int(min(a, b)), int(max(a, b)))
                for a, b in rng.integers(0, 40, size=(80, 2))
                if a != b
            ]
        else:  # sparse wide graph
            edges = [
                (int(min(a, b)), int(max(a, b)))
                for a, b in rng.integers(0, 300, size=(60, 2))
                if a != b
            ]
        n_batches = int(rng.integers(2, 5))
        route = rng.integers(0, n_batches, size=len(edges))
        cat = ParquetCatalog(
            spark, str(tmp_path_factory.mktemp(f"ucp_{trial}"))
        )
        for r in range(n_batches):
            chunk = [e for e, b in zip(edges, route) if b == r]
            if not chunk:
                continue
            update_components(
                cat, "lab",
                spark.createDataFrame(chunk, "id_a long, id_b long"),
            )
        got = {
            r["id"]: r["component"] for r in cat.read("lab").collect()
        }
        assert got == _uf_oracle(edges), (trial, shape, n_batches)
