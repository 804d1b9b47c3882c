#!/usr/bin/env python
"""Round-10 noop-sink isolation benches (guide §1.4) — NOT the driver bench.

Decomposes the encode legs into scan / Arrow-crossing / embed / kernel so
optimization work targets the real cost, and provides per-leg isolation for
the non-encode queries. Same session config and env contract as bench.py
($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS); prints one JSON line.

``cc`` times ``connected_components`` alone on the ``curation``
workload's pair list (``perfbench.gen`` documents, seed 1), once as
``minhash_lsh_pairs`` produces it and once round-robined to 8 partitions,
and prints each layout's median, quartiles and Spark job count per rep.

``lsh`` times ``minhash_lsh_pairs`` (the ``curation`` workload's
parameters) over ``exact_dedup`` of a 2,500-doc ``perfbench.gen``
corpus (seed 1), once as read and once ``cache()``d, and prints each
input's median, quartiles and Spark job count per rep, plus how many
rows a Python pass between that input and ``minhash_lsh_pairs`` reads
per document in one call (an accumulator; 1.0 when the signature pass
runs once per document).

``refresh`` walks the five watermark consumers (``refresh_ivf_index``,
``refresh_pq_index``, ``refresh_ivfpq_index``, ``refresh_postings``,
``refresh_aggregate``) over one small synthetic source chain through
rebuild -> no-op -> re-ingest -> compact+expire -> delta, and prints per
(consumer, branch) the Spark job count, the mode of the consumer table's
newest snapshot and the wall time.

Usage: python bench_extra.py [encode|queries|all|cc|lsh|refresh]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(timings, name, fn, reps=2):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    timings[name] = round(best, 3)


def cc_bench(reps: int = 7, seed: int = 1) -> None:
    import statistics
    import tempfile

    from perfbench import gen
    from perfbench.workloads import Curation

    from lyssandra_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from lyssandra_spark.operators.graph import connected_components
    from lyssandra_spark.session import get_spark

    spark = get_spark(app="lyssandra-bench-cc", cores=CPUS)
    sc = spark.sparkContext
    out = {}
    with tempfile.TemporaryDirectory() as d:
        gen.write(gen.documents(seed, Curation.N_DOCS), d)
        docs = exact_dedup(spark.read.parquet(d))
        pairs = minhash_lsh_pairs(docs, **Curation.DEDUP).localCheckpoint()
        layouts = {"as_produced": pairs,
                   "round_robin_8": pairs.repartition(8).localCheckpoint()}
        for name, df in layouts.items():
            times, jobs = [], set()
            for r in range(reps + 1):  # rep 0 warms up, untimed
                group = f"cc:{name}:{r}"
                sc.setJobGroup(group, f"bench_extra cc {name}")
                t0 = time.perf_counter()
                _force(connected_components(df))
                if r:
                    times.append(time.perf_counter() - t0)
                    jobs.add(len(sc.statusTracker().getJobIdsForGroup(group)))
            q1, med, q3 = statistics.quantiles(times, n=4)
            out[name] = {
                "partitions": df.rdd.getNumPartitions(),
                "median_s": round(med, 3), "q1_s": round(q1, 3),
                "q3_s": round(q3, 3), "jobs": sorted(jobs),
            }
        out["edges"] = pairs.count()
    spark.stop()
    print(json.dumps({"metric": "connected_components on the curation pairs",
                      "unit": "sec", "reps": reps, "cores": CPUS, **out}))


def lsh_bench(reps: int = 7, seed: int = 1) -> None:
    import statistics
    import tempfile

    from perfbench import gen
    from perfbench.workloads import Curation

    from lyssandra_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from lyssandra_spark.session import get_spark

    spark = get_spark(app="lyssandra-bench-lsh", cores=CPUS)
    sc = spark.sparkContext
    out = {}
    with tempfile.TemporaryDirectory() as d:
        gen.write(gen.documents(seed, Curation.N_DOCS), d)
        for name in ("read", "cached"):
            docs = exact_dedup(spark.read.parquet(d))
            if name == "cached":
                docs = docs.cache()
            n_docs = docs.count()
            times, jobs = [], set()
            for r in range(reps + 1):  # rep 0 warms up, untimed
                group = f"lsh:{name}:{r}"
                sc.setJobGroup(group, f"bench_extra lsh {name}")
                t0 = time.perf_counter()
                _force(minhash_lsh_pairs(docs, **Curation.DEDUP))
                if r:
                    times.append(time.perf_counter() - t0)
                    jobs.add(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setJobGroup(f"lsh:{name}:count", "bench_extra lsh upstream reads")
            seen = sc.accumulator(0)

            def counted(it, seen=seen):
                for b in it:
                    seen.add(b.num_rows)
                    yield b

            pairs = minhash_lsh_pairs(
                docs.mapInArrow(counted, docs.schema), **Curation.DEDUP)
            n_pairs = len(pairs.collect())
            docs.unpersist()
            q1, med, q3 = statistics.quantiles(times, n=4)
            out[name] = {
                "docs": n_docs, "pairs": n_pairs, "median_s": round(med, 3),
                "q1_s": round(q1, 3), "q3_s": round(q3, 3),
                "jobs": sorted(jobs),
                "upstream_reads_per_doc": round(seen.value / n_docs, 3),
            }
    spark.stop()
    print(json.dumps({"metric": "minhash_lsh_pairs on the curation corpus",
                      "unit": "sec", "reps": reps, "cores": CPUS, **out}))


def refresh_bench(n_rows: int = 600, dim: int = 16, seed: int = 1) -> None:
    import tempfile

    import numpy as np

    from lyssandra_spark.operators.ann_index import (
        refresh_ivf_index, refresh_ivfpq_index, refresh_pq_index)
    from lyssandra_spark.operators.incremental import refresh_aggregate
    from lyssandra_spark.operators.search import refresh_postings
    from lyssandra_spark.session import get_spark
    from lyssandra_spark.sources.catalog import ParquetCatalog

    spark = get_spark(app="lyssandra-bench-refresh", cores=CPUS)
    sc = spark.sparkContext
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n_rows, dim))
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = [
        (i, [float(v) for v in X[i]],
         " ".join(rng.choice(words, size=5)), i % 7, float(X[i, 0]))
        for i in range(n_rows)
    ]
    src = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, text string, "
        "grp int, x double")
    ann = dict(sample_rows=128)
    consumers = {
        "ivf": lambda c: refresh_ivf_index(c, "src", "ivf", n_cells=8, **ann),
        "pq": lambda c: refresh_pq_index(c, "src", "pq", m=4, n_codes=16,
                                         **ann),
        "ivfpq": lambda c: refresh_ivfpq_index(
            c, "src", "ivfpq", n_cells=8, m=4, n_codes=16, **ann),
        "postings": lambda c: refresh_postings(c, "src", "postings",
                                               id_col="vec_id"),
        "aggregate": lambda c: refresh_aggregate(c, "src", "aggregate",
                                                 "grp", ["x"]),
    }
    first, reingested = n_rows * 2 // 3, n_rows // 6
    steps = [
        ("rebuild", lambda c: c.write(
            src.where(f"vec_id < {first}"), "src", mode="overwrite")),
        ("noop", lambda c: None),
        ("reingest", lambda c: c.write(
            src.where(f"vec_id < {reingested}"), "src", mode="append")),
        ("compact_expire", lambda c: (c.compact("src"), c.expire("src"))),
        ("delta", lambda c: c.write(
            src.where(f"vec_id >= {first}"), "src", mode="append")),
    ]
    out = {name: {} for name in consumers}
    with tempfile.TemporaryDirectory() as d:
        cat = ParquetCatalog(spark, d)
        for branch, mutate in steps:
            mutate(cat)
            for name, refresh in consumers.items():
                group = f"refresh:{name}:{branch}"
                sc.setJobGroup(group, f"bench_extra refresh {name} {branch}")
                t0 = time.perf_counter()
                refresh(cat)
                dt = time.perf_counter() - t0
                out[name][branch] = {
                    "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                    "mode": cat.snapshots(name)[-1]["mode"],
                    "s": round(dt, 3),
                }
    spark.stop()
    print(json.dumps({"metric": "watermark refresh per consumer and branch",
                      "rows": n_rows, "dim": dim, "cores": CPUS, **out}))


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "cc":
        return cc_bench()
    if mode == "lsh":
        return lsh_bench()
    if mode == "refresh":
        return refresh_bench()
    from pyspark.sql import functions as F

    from lyssandra_spark.functions.embed import embed_column
    from lyssandra_spark.operators.encode import sparse_code
    from lyssandra_spark.plans import queries as Q
    from lyssandra_spark.session import get_spark
    from lyssandra_spark.sources import synth

    spark = get_spark(app="lyssandra-bench-extra", cores=CPUS)
    sc = spark.sparkContext
    timings: dict[str, float] = {}

    t = synth.transcripts(spark, SF_DIR).repartition(CPUS * 2).cache()
    n_turns = t.count()
    versions = synth.build_dict_versions(SF_DIR, n_atoms=128)
    tmin = t.select("conv_id", "turn_idx", "ts", "text")

    if mode in ("encode", "all"):
        sc.setJobDescription("isolate: cache scan only")
        _timed(timings, "scan_cache_noop", lambda: _force(tmin))
        sc.setJobDescription("isolate: identity mapInArrow (Arrow round-trip)")
        _timed(timings, "arrow_identity", lambda: _force(
            tmin.mapInArrow(lambda it: it, tmin.schema)))
        sc.setJobDescription("isolate: embed only")
        _timed(timings, "embed_only", lambda: _force(
            embed_column(tmin.select("conv_id", "turn_idx", "text"),
                         drop_text=True)))
        for algo, kw in (
            ("bomp", dict(k=5)),
            ("fista", dict(lam=0.1, fista_iter=100, fista_tol=1e-7)),
            ("llc", dict(knn=5)),
        ):
            sc.setJobDescription(f"isolate: encode {algo}")
            _timed(timings, f"encode_{algo}", lambda a=algo, k=kw: _force(
                sparse_code(tmin, versions, algo=a, drop_text=True, **k)))
        sc.setJobDescription(None)

    if mode in ("queries", "all"):
        for name in ("agg_pricing_summary", "knn_cosine_topk"):
            sc.setJobDescription(f"isolate: {name}")
            _timed(timings, name, lambda n=name: _force(
                Q.SPARK_QUERIES[n](spark, SF_DIR)))
        sc.setJobDescription("isolate: asof_backward broadcast")
        _timed(timings, "asof_backward", lambda: _force(
            Q.asof_backward_latest_order(spark, SF_DIR)))
        sc.setJobDescription(None)

    t.unpersist()
    spark.stop()
    print(json.dumps({
        "metric": "r10 noop isolation benches", "unit": "sec",
        "queries": timings, "sf": SF_DIR, "n_turns": n_turns, "cores": CPUS,
    }))


if __name__ == "__main__":
    main()
