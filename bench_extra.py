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

Usage: python bench_extra.py [encode|queries|all|cc]
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


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "cc":
        return cc_bench()
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
