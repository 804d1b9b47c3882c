"""The four benchmark workloads.

Each workload provides:

- ``prepare()``: generate its inputs from the seed under the run
  directory (before the set-up clock starts);
- ``setup()``: dictionary history and any base state (inside ``setup_s``);
- ``step()``: one pass of the workload's job, timed by the runner; it
  returns the input rows it processed;
- ``check()``: correctness checks after the timed part, as a list of
  ``(name, ok)``;
- ``layers(tracer, log)``: the per-layer metrics of a traced run
  (``log()`` reads the event log so far).

Library calls happen only through the library's public functions.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen
from perfbench.probe import dir_files, summarize

KEYS = ["conv_id", "turn_idx"]
ENC_COLS = ["conv_id", "turn_idx", "ts", "text"]  # sparse_code's input
CHECK_ROWS = 200  # seeded sample of rows re-encoded in numpy
PER_ROWS = 100_000  # in-process layer timings are scaled to this many rows
SAMPLE_ROWS = 4_096  # rows the in-process layer timings run on


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dictionary_history(texts: list[str], seed: int, boundaries_s) -> list:
    """Driver-side dictionary history: v1 from the data, each later
    version one approximate K-SVD sweep of the previous one."""
    from lyssandra_spark.functions import kernels as K
    from lyssandra_spark.functions.embed import embed_texts
    from lyssandra_spark.sources.synth import DictVersion

    X = embed_texts(texts).T
    D = K.init_dict(X, 128, seed=seed)
    out = []
    for i, b in enumerate(boundaries_s):
        if i:
            Z = K.batch_omp(D, X, k=5)
            D, _ = K.ksvd_update(D, X, Z)
            D = K.replace_dead_atoms(D, X, Z, seed=seed + i)
        out.append(DictVersion("main", i + 1, gen.T0_US + b * gen.US, D.copy(), D.T @ D))
    return out


def codes_match(rows, texts_by_key: dict, versions, **enc) -> bool:
    """Spark codes of ``rows`` equal ``encode_block`` run in numpy."""
    from lyssandra_spark.operators.encode import encode_block

    rows = sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    texts = [texts_by_key[(r["conv_id"], r["turn_idx"])] for r in rows]
    ts_us = np.array([int(r["ts"].timestamp() * gen.US) for r in rows], dtype=np.int64)
    want = encode_block(texts, ts_us, versions, **enc)
    off = want["offsets"]
    for i, r in enumerate(rows):
        idx = want["code_idx"][off[i]:off[i + 1]]
        val = want["code_val"][off[i]:off[i + 1]]
        if (r["dict_version"] != want["dict_version"][i]
                or list(r["code_idx"]) != list(idx)
                or not np.allclose(r["code_val"], val, rtol=1e-7, atol=1e-9)):
            return False
    return True


def text_index(table) -> dict:
    c = table.column("conv_id").to_pylist()
    t = table.column("turn_idx").to_pylist()
    return dict(zip(zip(c, t), table.column("text").to_pylist()))


def kernel_and_embed_s(texts: list[str], versions, algo: str) -> dict:
    """Single-threaded in-process time of ``embed_buffer`` and of the
    encode kernel on ``texts``, scaled to PER_ROWS rows."""
    from lyssandra_spark.functions import kernels as K
    from lyssandra_spark.functions.embed import embed_buffer

    enc_b = [t.encode() for t in texts]
    off = np.zeros(len(enc_b) + 1, np.int64)
    np.cumsum([len(b) for b in enc_b], out=off[1:])
    data = np.frombuffer(b"".join(enc_b), np.uint8)
    t0 = time.perf_counter()
    X = embed_buffer(data, off).T
    t1 = time.perf_counter()
    D = versions[-1].D
    if algo == "bomp":
        K.batch_omp_sparse(D, X, k=5, G=versions[-1].G)
    else:
        K.fista_lasso(D, X, lam=0.1, n_iter=500, tol=1e-10)
    t2 = time.perf_counter()
    scale = PER_ROWS / len(texts)
    return {"embed.s": (t1 - t0) * scale, "kernels.busy_s": (t2 - t1) * scale}


def crossing_probe(df, k: int):
    """Identity ``mapInArrow`` with ``sparse_code(drop_text=True)``'s input
    columns and output schema: it drops ``text`` and appends constant
    code columns of ``k`` entries, so only the Arrow crossing is paid."""
    import pyarrow as pa
    from pyspark.sql import types as T

    names = df.columns
    tpos = names.index("text")
    out = T.StructType([f for f in df.schema.fields if f.name != "text"] + [
        T.StructField("dict_version", T.IntegerType(), False),
        T.StructField("code_idx", T.ArrayType(T.IntegerType()), False),
        T.StructField("code_val", T.ArrayType(T.DoubleType()), False),
        T.StructField("recon_err", T.DoubleType(), False),
        T.StructField("nnz", T.IntegerType(), False),
    ])

    def ident(it):
        for b in it:
            n = b.num_rows
            off = pa.array(np.arange(0, (n + 1) * k, k, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [c for i, c in enumerate(b.columns) if i != tpos] + [
                    pa.array(np.ones(n, np.int32)),
                    pa.ListArray.from_arrays(off, pa.array(np.zeros(n * k, np.int32))),
                    pa.ListArray.from_arrays(off, pa.array(np.zeros(n * k))),
                    pa.array(np.zeros(n)),
                    pa.array(np.full(n, k, np.int32)),
                ], names=out.fieldNames())

    return df.mapInArrow(ident, out)


class Workload:
    name = ""
    rows_label = "turns"

    def __init__(self, run_dir: str, seed: int):
        self.seed = seed
        self.input_dir = os.path.join(run_dir, "inputs")
        self.wh = os.path.join(run_dir, "warehouse")

    def attach(self, spark) -> None:
        """Bind to a (new) session; catalog state on disk carries over."""
        from lyssandra_spark.sources.catalog import ParquetCatalog

        self.spark = spark
        self.cat = ParquetCatalog(spark, self.wh)

    def more(self) -> bool:
        """False once the workload has no further input for a pass."""
        return True

    def inp(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def inp_bytes(self, name: str) -> int:
        return sum(dir_files(self.inp(name)).values())

    def materialize(self, df):
        """Cache ``df`` and force it: a probe's upstream, computed once."""
        df = df.cache()
        df.count()
        return df

    def timed_write(self, tracer, name: str, fn, input_bytes: int) -> dict:
        """Run a catalog write inside a span; bytes/files created from a
        walk of the warehouse before and after."""
        before = dir_files(self.wh)
        with tracer.span(name):
            fn()
        new = {p: s for p, s in dir_files(self.wh).items() if p not in before}
        return {"bytes": sum(new.values()), "files": len(new), "input_bytes": input_bytes}


def catalog_metrics(tracer, writes: list[dict], spans: list[str], n: int) -> dict:
    """catalog.* per step (``n`` steps) from the recorded writes."""
    written = sum(w["bytes"] for w in writes)
    inp = sum(w["input_bytes"] for w in writes)
    return {
        "catalog.write_s": sum(tracer.total(s) for s in spans) / n,
        "catalog.bytes_written_mb": written / 2**20 / n,
        "catalog.write_amp": written / inp if inp else 0.0,
        "catalog.files_written": sum(w["files"] for w in writes) / n,
    }


class Backfill(Workload):
    """Full-history feature build: dedup -> windows -> as-of -> encode -> sink."""

    name = "backfill"
    N_TURNS = 60_000

    def prepare(self):
        t = gen.turns(self.seed, self.N_TURNS)
        gen.write(t, self.inp("turns"))
        n_conv = int(max(t.column("conv_id").to_pylist())) + 1
        gen.write(gen.conv_attributes(self.seed, n_conv), self.inp("attrs"))
        self.rows = t.num_rows
        self.turns = t

    def setup(self):
        texts = self.turns.column("text").to_pylist()[:SAMPLE_ROWS]
        self.versions = dictionary_history(texts, self.seed, gen.DICT_BOUNDARIES_S)

    def windows(self, df):
        from lyssandra_spark.operators import windows as W

        df = W.dedup_latest(df, KEYS, "ts")
        df = W.sessionize(df)
        df = W.ffill(df, "role")
        return W.with_lag(df, "ts")

    def asof(self, df):
        from lyssandra_spark.operators.asof import asof_join

        attrs = self.spark.read.parquet(self.inp("attrs"))
        return asof_join(df, attrs, on="conv_id", valid_col="attr_from")

    def encode(self, df):
        from lyssandra_spark.operators.encode import sparse_code

        return sparse_code(df, self.versions, algo="bomp", k=5, drop_text=True)

    def sink(self, df):
        self.cat.write(df, "turn_features", mode="overwrite", partition_by={
            "ts_day": "date_trunc('day', ts)", "conv_bucket": "pmod(hash(conv_id), 4)"})

    def step(self) -> int:
        df = self.spark.read.parquet(self.inp("turns"))
        self.sink(self.encode(self.asof(self.windows(df))))
        return self.rows

    def check(self):
        from pyspark.sql import functions as F

        out = self.cat.read("turn_features")
        n_unique = len(set(zip(self.turns.column("conv_id").to_pylist(),
                               self.turns.column("turn_idx").to_pylist())))
        vf = F.create_map(*[x for v in self.versions
                            for x in (F.lit(v.version), F.lit(v.valid_from_us))])
        ts_us = F.unix_micros(F.col("ts"))
        leaks = out.where(
            (vf[F.col("dict_version")] > ts_us) | F.col("attr_from").isNull()
            | (F.unix_micros(F.col("attr_from")) > ts_us)).count()
        # the chosen version is the newest one valid at ts
        newer = F.lit(False)
        for v in self.versions:
            newer = newer | ((F.lit(v.valid_from_us) <= ts_us)
                             & (F.lit(v.version) > F.col("dict_version")))
        stale = out.where(newer).count()
        sample = out.orderBy(F.xxhash64(*KEYS, F.lit(self.seed))).limit(CHECK_ROWS).collect()
        return [
            ("row_count", out.count() == n_unique),
            ("no_leakage", leaks == 0 and stale == 0),
            ("codes_allclose", codes_match(sample, text_index(self.turns),
                                           self.versions, algo="bomp", k=5)),
        ]

    def layers(self, tracer, log) -> dict:
        scan = self.materialize(self.spark.read.parquet(self.inp("turns")))
        with tracer.span("windows"):
            _noop(self.windows(scan))
        win = self.materialize(self.windows(scan))
        with tracer.span("asof"):
            _noop(self.asof(win))
        joined = self.materialize(self.asof(win))
        with tracer.span("encode"):
            _noop(self.encode(joined))
        with tracer.span("encode.crossing"):
            _noop(crossing_probe(joined, 5))
        coded = self.materialize(self.encode(joined))
        in_bytes = self.inp_bytes("turns")
        w = self.timed_write(tracer, "catalog.write", lambda: self.sink(coded), in_bytes)
        for df in (scan, win, joined, coded):
            df.unpersist()
        sample = self.turns.column("text").to_pylist()[:SAMPLE_ROWS]
        wl = summarize(log(), tracer.groups("windows"))
        return {
            "windows.s": tracer.total("windows"),
            "windows.shuffle_write_mb": wl["shuffle_write_mb"],
            "windows.task_skew": wl["task_skew"],
            "asof.s": tracer.total("asof"),
            "asof.tasks": summarize(log(), tracer.groups("asof"))["tasks"],
            "encode.s": tracer.total("encode"),
            "encode.crossing_s": tracer.total("encode.crossing"),
            **kernel_and_embed_s(sample, self.versions, "bomp"),
            **catalog_metrics(tracer, [w], ["catalog.write"], 1),
            "layer_spans": ["windows", "asof", "encode", "catalog.write"],
        }


class RecodeLasso(Workload):
    """Dictionary rollout: re-code stored turns with FISTA at the defaults."""

    name = "recode_lasso"
    N_TURNS = 8_000

    def prepare(self):
        t = gen.turns(self.seed, self.N_TURNS, reingest=0.0)
        gen.write(t, self.inp("turns"))
        self.rows = t.num_rows
        self.turns = t

    def setup(self):
        texts = self.turns.column("text").to_pylist()[:SAMPLE_ROWS]
        # the newly published dictionary lineage
        self.versions = dictionary_history(texts, self.seed + 1, gen.DICT_BOUNDARIES_S)

    def encode(self, df):
        from lyssandra_spark.operators.encode import sparse_code

        return sparse_code(df.select(*ENC_COLS), self.versions, algo="fista",
                           drop_text=True)

    def step(self) -> int:
        df = self.spark.read.parquet(self.inp("turns"))
        self.cat.write(self.encode(df), "turn_codes", mode="overwrite")
        return self.rows

    def check(self):
        from pyspark.sql import functions as F

        out = self.cat.read("turn_codes")
        sample = out.orderBy(F.xxhash64(*KEYS, F.lit(self.seed))).limit(CHECK_ROWS).collect()
        return [
            ("row_count", out.count() == self.rows),
            ("codes_allclose", codes_match(sample, text_index(self.turns),
                                           self.versions, algo="fista")),
        ]

    def layers(self, tracer, log) -> dict:
        scan = self.materialize(self.spark.read.parquet(self.inp("turns")).select(*ENC_COLS))
        with tracer.span("encode"):
            _noop(self.encode(scan))
        with tracer.span("encode.crossing"):
            _noop(crossing_probe(scan, 5))
        coded = self.materialize(self.encode(scan))
        in_bytes = self.inp_bytes("turns")
        w = self.timed_write(tracer, "catalog.write", lambda: self.cat.write(
            coded, "turn_codes", mode="overwrite"), in_bytes)
        scan.unpersist()
        coded.unpersist()
        sample = self.turns.column("text").to_pylist()[:SAMPLE_ROWS // 4]
        return {
            "encode.s": tracer.total("encode"),
            "encode.crossing_s": tracer.total("encode.crossing"),
            **kernel_and_embed_s(sample, self.versions, "fista"),
            **catalog_metrics(tracer, [w], ["catalog.write"], 1),
            "layer_spans": ["encode", "catalog.write"],
        }


CATALOG_SPANS = ["catalog.append", "catalog.merge", "catalog.append_vecs"]


class Refresh(Workload):
    """Closed incremental-maintenance loop: one batch lands after the
    previous step committed every derived table."""

    name = "refresh"
    rows_label = "new plus corrected turns"
    N_BASE = 2_000
    N_BATCH = 150
    N_CORR = 10
    MAX_STEPS = 12
    STEP_S = 3_600  # each batch covers one hour after the base history
    DEDUP = dict(n_perm=32, bands=8, threshold=0.5)

    def prepare(self):
        base = gen.turns(self.seed, self.N_BASE, reingest=0.0)
        gen.write(base, self.inp("base"))
        self.batches = []
        for i in range(self.MAX_STEPS):
            b = gen.turns(self.seed, self.N_BATCH, conv_base=1_000_000 * (i + 1),
                          t_start_s=gen.HISTORY_S + i * self.STEP_S,
                          span_s=self.STEP_S, reingest=0.0, stream=100 + i)
            c = gen.corrections(self.seed, base, self.N_CORR, stream=200 + i)
            self.batches.append((gen.write(b, self.inp(f"batch{i}"), n_files=1),
                                 gen.write(c, self.inp(f"corr{i}"), n_files=1)))
        self.base = base
        self.n_step = 0
        self.rows = self.N_BATCH + self.N_CORR

    def setup(self):
        texts = self.base.column("text").to_pylist()[:SAMPLE_ROWS]
        # a new dictionary version takes effect inside the first timed batch
        bounds = gen.DICT_BOUNDARIES_S + (gen.HISTORY_S + self.STEP_S + self.STEP_S // 2,)
        self.versions = dictionary_history(texts, self.seed, bounds)
        base = self.spark.read.parquet(self.inp("base"))
        from lyssandra_spark.operators.incremental import (
            dedup_new_batch, refresh_aggregate, update_components)
        from lyssandra_spark.operators.ann_index import refresh_ivf_index

        self.cat.write(self.encode(base), "turn_features", mode="overwrite")
        refresh_aggregate(self.cat, "turn_features", "conv_stats", "conv_id", ["nnz", "recon_err"])
        pairs, _ = dedup_new_batch(self.cat, "turn_sigs", self.docs(base), **self.DEDUP)
        update_components(self.cat, "turn_labels", pairs)
        self.cat.write(self.vectors(base), "turn_vecs", mode="overwrite")
        refresh_ivf_index(self.cat, "turn_vecs", "turn_ivf")

    def encode(self, df):
        from lyssandra_spark.operators.encode import sparse_code

        return sparse_code(df, self.versions, algo="bomp", k=5, drop_text=True)

    @staticmethod
    def docs(df):
        from pyspark.sql import functions as F

        return df.select((F.col("conv_id") * 100_000 + F.col("turn_idx")).alias("doc_id"), "text")

    def vectors(self, df):
        from lyssandra_spark.functions.embed import embed_column

        return embed_column(self.docs(df).withColumnRenamed("doc_id", "vec_id"), drop_text=True)

    def more(self) -> bool:
        return self.n_step < self.MAX_STEPS

    def run_step(self, tracer):
        from lyssandra_spark.operators.ann_index import refresh_ivf_index
        from lyssandra_spark.operators.incremental import (
            dedup_new_batch, refresh_aggregate, update_components)

        bpath, cpath = self.batches[self.n_step]
        self.n_step += 1
        batch = self.spark.read.parquet(bpath)
        corr = self.spark.read.parquet(cpath)
        writes = []
        wh = lambda name, fn, p: writes.append(  # noqa: E731
            self.timed_write(tracer, name, fn, sum(dir_files(p).values())))
        wh("catalog.append", lambda: self.cat.write(
            self.encode(batch), "turn_features", mode="append"), bpath)
        wh("catalog.merge", lambda: self.cat.merge(
            self.encode(corr), "turn_features", keys=KEYS), cpath)
        with tracer.span("incremental.refresh_aggregate"):
            refresh_aggregate(self.cat, "turn_features", "conv_stats", "conv_id",
                              ["nnz", "recon_err"])
        with tracer.span("incremental.dedup_new_batch"):
            pairs, _ = dedup_new_batch(self.cat, "turn_sigs", self.docs(batch), **self.DEDUP)
        with tracer.span("incremental.update_components"):
            update_components(self.cat, "turn_labels", pairs)
        wh("catalog.append_vecs", lambda: self.cat.write(
            self.vectors(batch), "turn_vecs", mode="append"), bpath)
        with tracer.span("ann_index.refresh_ivf"):
            refresh_ivf_index(self.cat, "turn_vecs", "turn_ivf")
        return writes

    def step(self) -> int:
        from perfbench.probe import Tracer

        self.run_step(Tracer("untraced"))
        return self.rows

    def check(self):
        from pyspark.sql import functions as F

        from lyssandra_spark.operators.dedup import minhash_lsh_pairs
        from lyssandra_spark.operators.graph import connected_components

        feats = self.cat.read("turn_features")
        fresh = {r["conv_id"]: (r["n"], r["nnz"], r["err"]) for r in feats.groupBy("conv_id").agg(
            F.count("*").alias("n"), F.sum("nnz").alias("nnz"),
            F.sum("recon_err").alias("err")).collect()}
        stats = {r["conv_id"]: (r["n_rows"], r["sum_nnz"], r["sum_recon_err"])
                 for r in self.cat.read("conv_stats").collect()}
        stats_ok = stats.keys() == fresh.keys() and all(
            stats[k][:2] == fresh[k][:2] and np.isclose(stats[k][2], fresh[k][2])
            for k in fresh)
        fed = self.spark.read.parquet(
            self.inp("base"), *[b for b, _ in self.batches[:self.n_step]])
        want = {r["id"]: r["component"] for r in connected_components(
            minhash_lsh_pairs(self.docs(fed), **self.DEDUP)).collect()}
        got = {r["id"]: r["component"] for r in self.cat.read("turn_labels").collect()}
        vec_ids = {r[0] for r in self.cat.read("turn_vecs").select("vec_id").collect()}
        ivf = self.cat.read("turn_ivf").select("vec_id", "cell").collect()
        ivf_ok = ({r[0] for r in ivf} == vec_ids and len(ivf) == len(vec_ids)
                  and all(r[1] is not None for r in ivf))
        n_feat = feats.count()
        n_want = self.N_BASE + self.N_BATCH * self.n_step
        return [
            ("features_rows", n_feat == n_want),
            ("conv_stats_equal_groupby", stats_ok),
            ("labels_equal_cc", got == want),
            ("ivf_covers_vectors", ivf_ok),
        ]

    def layers(self, tracer, log) -> dict:
        n, writes = 0, []
        with tracer.span("steps"):
            for _ in range(2):
                with tracer.span("step"):
                    writes += self.run_step(tracer)
                n += 1
        ivf = summarize(log(), tracer.groups("ann_index"))
        return {
            "incremental.refresh_aggregate_s": tracer.total("incremental.refresh_aggregate") / n,
            "incremental.dedup_new_batch_s": tracer.total("incremental.dedup_new_batch") / n,
            "incremental.update_components_s": tracer.total("incremental.update_components") / n,
            "ann_index.refresh_ivf_s": tracer.total("ann_index.refresh_ivf") / n,
            "ann_index.jobs": ivf["jobs"] / n,
            **catalog_metrics(tracer, writes, CATALOG_SPANS, n),
            "layer_spans": CATALOG_SPANS + [
                "incremental.refresh_aggregate", "incremental.dedup_new_batch",
                "incremental.update_components", "ann_index.refresh_ivf"],
        }


class Curation(Workload):
    """Batch near-duplicate curation over a document corpus."""

    name = "curation"
    rows_label = "docs"
    N_DOCS = 2_500
    DEDUP = dict(n_perm=32, bands=8, threshold=0.5)

    def prepare(self):
        d = gen.documents(self.seed, self.N_DOCS)
        gen.write(d, self.inp("docs"))
        self.rows = d.num_rows
        self.docs = d

    def setup(self):
        pass

    def pipeline(self):
        from lyssandra_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from lyssandra_spark.operators.graph import retain_best_per_cluster

        docs = exact_dedup(self.spark.read.parquet(self.inp("docs")))
        pairs = minhash_lsh_pairs(docs, **self.DEDUP)
        return docs, pairs, retain_best_per_cluster(docs, pairs, score_col="quality")

    def step(self) -> int:
        _noop(self.pipeline()[2])
        return self.rows

    def check(self):
        docs, pairs, kept = self.pipeline()
        got = {r[0] for r in kept.select("doc_id").collect()}
        quality = {r[0]: r[1] for r in docs.select("doc_id", "quality").collect()}
        parent = {i: i for i in quality}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs.select("id_a", "id_b").collect():
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        best: dict[int, int] = {}
        for i, q in quality.items():
            r = find(i)
            if r not in best or (q, -i) > (quality[best[r]], -best[r]):
                best[r] = i
        text = self.docs.column("text").to_pylist()
        return [
            ("exact_dedup_rows", len(quality) == len(set(text))),
            ("retained_equal_union_find", got == set(best.values())),
        ]

    def layers(self, tracer, log) -> dict:
        from lyssandra_spark.operators.dedup import (
            exact_dedup, minhash_lsh_pairs, minhash_signatures)
        from lyssandra_spark.operators.graph import (
            connected_components, retain_best_per_cluster)

        raw = self.materialize(self.spark.read.parquet(self.inp("docs")))
        with tracer.span("dedup.exact"):
            _noop(exact_dedup(raw))
        docs = self.materialize(exact_dedup(raw))
        with tracer.span("dedup.signatures"):
            _noop(minhash_signatures(docs))
        with tracer.span("dedup.pairs"):
            _noop(minhash_lsh_pairs(docs, **self.DEDUP))
        pairs = self.materialize(minhash_lsh_pairs(docs, **self.DEDUP))
        with tracer.span("graph.cc"):
            _noop(connected_components(pairs))
        with tracer.span("graph.retain"):
            _noop(retain_best_per_cluster(docs, pairs, score_col="quality"))
        n_pairs = pairs.count()
        incremental = self.incremental_layers(tracer, docs)
        for df in (raw, docs, pairs):
            df.unpersist()
        cc = summarize(log(), tracer.groups("graph.cc"))
        return {
            **incremental,
            "ann_index.jobs": summarize(log(), tracer.groups("ann_index"))["jobs"],
            "dedup.exact_s": tracer.total("dedup.exact"),
            "dedup.signatures_s": tracer.total("dedup.signatures"),
            "dedup.pairs_s": tracer.total("dedup.pairs"),
            "dedup.pairs_out": n_pairs,
            "graph.cc_s": tracer.total("graph.cc"),
            "graph.jobs": cc["jobs"],
            "graph.shuffle_write_mb": cc["shuffle_write_mb"],
            "graph.retain_s": tracer.total("graph.retain"),
            "layer_spans": ["dedup.exact", "dedup.pairs", "graph.retain"],
        }


    def incremental_layers(self, tracer, docs) -> dict:
        """The incremental twins of the batch layers (the ``refresh``
        workload's layers), on the deduplicated corpus landing in two
        halves; only the second half is timed."""
        from contextlib import nullcontext

        from pyspark.sql import functions as F

        from lyssandra_spark.functions.embed import embed_column
        from lyssandra_spark.operators.ann_index import refresh_ivf_index
        from lyssandra_spark.operators.incremental import (
            dedup_new_batch, refresh_aggregate, update_components)

        for half, span in ((0, lambda _: nullcontext()), (1, tracer.span)):
            df = docs.where(F.col("doc_id") % 2 == half)
            self.cat.write(df.select("doc_id", (F.col("doc_id") % 16).alias("bucket"), "quality"),
                           "doc_quality", mode="append")
            self.cat.write(embed_column(df.select(F.col("doc_id").alias("vec_id"), "text"),
                                        drop_text=True), "doc_vecs", mode="append")
            with span("incremental.refresh_aggregate"):
                refresh_aggregate(self.cat, "doc_quality", "bucket_quality", "bucket", ["quality"])
            with span("incremental.dedup_new_batch"):
                pairs, _ = dedup_new_batch(self.cat, "doc_sigs", df.select("doc_id", "text"),
                                           **self.DEDUP)
            with span("incremental.update_components"):
                update_components(self.cat, "doc_labels", pairs)
            with span("ann_index.refresh_ivf"):
                refresh_ivf_index(self.cat, "doc_vecs", "doc_ivf")
        return {f"{name}_s": tracer.total(name) for name in (
            "incremental.refresh_aggregate", "incremental.dedup_new_batch",
            "incremental.update_components")} | {
            "ann_index.refresh_ivf_s": tracer.total("ann_index.refresh_ivf")}


WORKLOADS = {w.name: w for w in (Backfill, RecodeLasso, Refresh, Curation)}
