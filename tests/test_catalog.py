"""Catalog adapter: snapshots, time-travel, hidden partitioning."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lyssandra_spark.sources.catalog import ParquetCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    return ParquetCatalog(spark, str(tmp_path / "warehouse"))


def test_write_read_roundtrip(spark, cat, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat.write(df, "events_copy", mode="overwrite")
    back = cat.read("events_copy")
    assert back.count() == df.count()
    assert sorted(back.columns) == sorted(df.columns)


def test_hidden_partitioning(spark, cat, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cat.write(
        df, "events_part", mode="overwrite",
        partition_by={"ts_day": "date_trunc('day', ts)",
                      "user_bucket": "pmod(hash(user_id), 4)"},
    )
    back = cat.read("events_part")
    # derived partition columns are hidden on read (Iceberg-transform style)
    assert "ts_day" not in back.columns and "user_bucket" not in back.columns
    assert back.count() == df.count()
    withp = cat.read("events_part", keep_partition_cols=True)
    assert "ts_day" in withp.columns


def test_snapshot_time_travel_append(spark, cat, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    s1 = cat.write(df.where(F.col("user_id") < 5), "ev", mode="overwrite")
    s2 = cat.write(df.where(F.col("user_id") >= 5), "ev", mode="append")
    assert [s1, s2] == [1, 2]
    assert cat.read("ev", as_of=s1).count() == df.where(F.col("user_id") < 5).count()
    assert cat.read("ev").count() == df.count()
    # a later overwrite resets the chain
    s3 = cat.write(df.limit(10), "ev", mode="overwrite")
    assert cat.read("ev").count() == 10
    assert cat.read("ev", as_of=s2).count() == df.count()  # history preserved
    assert "ev" in cat.tables()


def test_append_schema_guard(spark, cat):
    """Append-time schema evolution policy: adding a column is allowed
    (old rows read back null via mergeSchema); dropping or retyping a
    column fails AT WRITE with a named-column error; overwrite resets."""
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    cat.write(base, "t", mode="overwrite")

    # type drift rejected, column named
    drift = spark.createDataFrame(pd.DataFrame({"k": [3], "v": [9.5]}))
    with pytest.raises(ValueError, match="v: string -> double"):
        cat.write(drift, "t", mode="append")
    # dropped column rejected
    narrow = spark.createDataFrame(pd.DataFrame({"k": [3]}))
    with pytest.raises(ValueError, match=r"missing columns \['v'\]"):
        cat.write(narrow, "t", mode="append")
    # failed writes must not burn snapshot ids or leave orphan dirs
    assert [s["id"] for s in cat.snapshots("t")] == [1]

    # add-column evolution allowed; old rows surface null
    wide = spark.createDataFrame(
        pd.DataFrame({"k": [3], "v": ["c"], "extra": [7]}))
    cat.write(wide, "t", mode="append")
    back = cat.read("t").toPandas().sort_values("k").reset_index(drop=True)
    assert list(back.columns.sort_values()) == ["extra", "k", "v"]
    assert back["extra"].isna().tolist() == [True, True, False]

    # the next append is guarded against the NEW chain head (extra now required)
    with pytest.raises(ValueError, match=r"missing columns \['extra'\]"):
        cat.write(base, "t", mode="append")
    # overwrite resets the chain: any schema goes again
    cat.write(narrow, "t", mode="overwrite")
    assert cat.read("t").columns == ["k"]


def test_dictionary_versions_roundtrip_catalog(spark, cat, sf_dir):
    """The SCD-2 dictionary dimension lives as DATA: write it through the
    catalog, time-travel it, rebuild the broadcast list, and get identical
    codes from the encode path."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from lyssandra_spark.operators.encode import sparse_code
    from lyssandra_spark.sources import synth

    vers = synth.build_dict_versions(sf_dir, n_atoms=64)
    vdf = synth.dictionary_versions(spark, vers)
    # snapshot 1: only v1-v2; snapshot 2 appends v3 (history evolves)
    cat.write(vdf.where(F.col("version") <= 2), "dict_versions", mode="overwrite")
    cat.write(vdf.where(F.col("version") == 3), "dict_versions", mode="append")

    full = synth.dict_versions_from_df(cat.read("dict_versions"))
    old = synth.dict_versions_from_df(cat.read("dict_versions", as_of=1))
    assert [v.version for v in full] == [1, 2, 3]
    assert [v.version for v in old] == [1, 2]
    for a, b in zip(full, vers):
        assert np.allclose(a.D, b.D, atol=1e-12)

    pdf = pd.DataFrame({
        "conv_id": ["c"] * 2, "turn_idx": [0, 1],
        "ts": [dt.datetime(2024, 1, 15)] * 2,
        "text": ["roundtrip text one", "roundtrip text two"],
    })
    df = spark.createDataFrame(pdf)
    got = sparse_code(df, full, k=3).toPandas().sort_values("turn_idx")
    exp = sparse_code(df, vers, k=3).toPandas().sort_values("turn_idx")
    assert got["recon_err"].tolist() == exp["recon_err"].tolist()
    assert got["dict_version"].tolist() == exp["dict_version"].tolist()


def test_merge_upsert_semantics(spark, cat):
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 4], "v": [10.0, 20.0, 30.0, 40.0]})
    )
    s1 = cat.merge(base, "scores", keys="k")  # bootstrap on empty table
    # update k=2,3; insert k=5; add a NEW column only present on the delta
    delta = spark.createDataFrame(
        pd.DataFrame({"k": [2, 3, 5], "v": [21.0, 31.0, 50.0],
                      "src": ["re", "re", "new"]})
    )
    s2 = cat.merge(delta, "scores", keys="k")
    got = cat.read("scores").toPandas().sort_values("k").reset_index(drop=True)
    assert list(got.k) == [1, 2, 3, 4, 5]
    assert list(got.v) == [10.0, 21.0, 31.0, 40.0, 50.0]
    # carried-forward rows read the added column as null
    assert got.src.isna().tolist() == [True, False, False, True, False]

    # time travel still sees the pre-merge state
    pre = cat.read("scores", as_of=s1).toPandas().sort_values("k")
    assert list(pre.v) == [10.0, 20.0, 30.0, 40.0]
    # post-merge chain is a single overwrite snapshot
    snaps = cat.snapshots("scores")
    assert snaps[-1]["id"] == s2 and snaps[-1]["mode"] == "overwrite"
    assert snaps[-1]["meta"]["merge_keys"] == ["k"]


def test_merge_guards_and_layout(spark, cat):
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "grp": ["a", "b"], "v": [1.0, 2.0]})
    )
    cat.write(base, "t", mode="overwrite",
              partition_by={"p": "upper(grp)"})
    delta = spark.createDataFrame(
        pd.DataFrame({"k": [2], "grp": ["b"], "v": [9.0]})
    )
    cat.merge(delta, "t", keys="k")
    # merge inherited the chain head's hidden-partitioning layout
    assert cat.snapshots("t")[-1]["partition_by"] == {"p": "upper(grp)"}
    layout = cat.read("t", keep_partition_cols=True)
    assert "p" in layout.columns
    assert cat.read("t").count() == 2

    with pytest.raises(ValueError, match="not in df columns"):
        cat.merge(delta.drop("k"), "t", keys="k")
    retype = spark.createDataFrame(
        pd.DataFrame({"k": [1], "grp": ["a"], "v": ["oops"]})
    )
    with pytest.raises(ValueError, match="type drift"):
        cat.merge(retype, "t", keys="k")


def test_merge_rejects_duplicate_and_partial_deltas(spark, cat):
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0], "src": ["a", "b"]})
    )
    cat.merge(base, "m", keys="k")
    dup = spark.createDataFrame(
        pd.DataFrame({"k": [2, 2], "v": [9.0, 8.0], "src": ["x", "y"]})
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        cat.merge(dup, "m", keys="k")
    partial = spark.createDataFrame(pd.DataFrame({"k": [2], "v": [9.0]}))
    with pytest.raises(ValueError, match="missing columns"):
        cat.merge(partial, "m", keys="k")
    # table unchanged after both rejections
    got = cat.read("m").toPandas().sort_values("k")
    assert list(got.v) == [1.0, 2.0] and list(got.src) == ["a", "b"]


def test_refresh_aggregate_incremental_equals_full(spark, cat):
    from lyssandra_spark.operators.incremental import refresh_aggregate

    def shard(lo, hi):
        return spark.range(lo, hi).select(
            F.pmod("id", F.lit(7)).alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )

    cat.write(shard(0, 300), "src", mode="overwrite")
    s1 = refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")
    cat.write(shard(300, 500), "src", mode="append")
    cat.write(shard(500, 900), "src", mode="append")
    s2 = refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")
    assert s2 > s1

    got = cat.read("agg").toPandas().sort_values("k").reset_index(drop=True)
    full = (
        shard(0, 900).groupBy("k")
        .agg(F.sum("v").alias("sum_v"), F.count("*").alias("n_rows"))
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, full, check_dtype=False)

    # no new source snapshots -> no-op (same snapshot id, nothing written)
    assert refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v") == s2
    assert len(cat.snapshots("agg")) == 2

    # time-travel still exposes the first refresh's state
    first = cat.read("agg", as_of=s1).toPandas()
    assert first.n_rows.sum() == 300

    # a source OVERWRITE resets the chain: refresh detects and recomputes
    cat.write(shard(0, 100), "src", mode="overwrite")
    refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")
    assert cat.read("agg").toPandas().n_rows.sum() == 100


def test_watermark_meta_compaction_vs_destructive_overwrite(spark, cat):
    """latest_meta's boundary rule, end-to-end through refresh_aggregate:
    compacting the AGG table itself (audit-only overwrite) must keep the
    watermark alive (next refresh is a no-op, not a rebuild), while a
    meta-less USER overwrite of the agg table kills it (next refresh
    takes the safe full rebuild instead of folding deltas onto the
    replaced, unrelated rows)."""
    from lyssandra_spark.operators.incremental import refresh_aggregate

    def shard(lo, hi):
        return spark.range(lo, hi).select(
            F.pmod("id", F.lit(5)).alias("k"),
            (F.col("id") * 1.0).alias("v"),
        )

    cat.write(shard(0, 200), "srcw", mode="overwrite")
    refresh_aggregate(cat, "srcw", "aggw", keys="k", sum_cols="v")
    cat.write(shard(200, 300), "srcw", mode="append")
    s2 = refresh_aggregate(cat, "srcw", "aggw", keys="k", sum_cols="v")

    # compact() on an agg table is a single-snapshot no-op (every
    # refresh writes an overwrite), and the watermark stays intact
    # (the APPEND-chain compaction-survival case — postings — is pinned
    # in test_curation_pipeline); refresh stays a no-op either way
    s_compact = cat.compact("aggw")
    assert s_compact == s2
    assert refresh_aggregate(cat, "srcw", "aggw", keys="k", sum_cols="v") \
        == s_compact
    assert cat.read("aggw").toPandas().n_rows.sum() == 300

    # destructive reset: a user overwrites the agg table with garbage
    # and no meta — the stale watermark must NOT be resurrected, so the
    # next refresh fully rebuilds correct values instead of folding
    # only-new-deltas onto the garbage
    garbage = spark.range(3).select(
        F.col("id").alias("k"), F.lit(999.0).alias("sum_v"),
        F.lit(999).alias("n_rows"),
    )
    cat.write(garbage, "aggw", mode="overwrite")
    assert cat.latest_meta("aggw", "agg_last_snap") is None
    cat.write(shard(300, 350), "srcw", mode="append")
    refresh_aggregate(cat, "srcw", "aggw", keys="k", sum_cols="v")
    got = cat.read("aggw").toPandas().sort_values("k").reset_index(drop=True)
    want = (
        shard(0, 350).groupBy("k")
        .agg(F.sum("v").alias("sum_v"), F.count("*").alias("n_rows"))
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert not (got.n_rows == 999).any()  # garbage gone


def test_refresh_aggregate_spec_guard_and_schema_evolution(spark, cat):
    from lyssandra_spark.operators.incremental import refresh_aggregate

    base = spark.range(100).select(
        F.pmod("id", F.lit(3)).alias("k"), (F.col("id") * 1.0).alias("v")
    )
    cat.write(base, "s1", mode="overwrite")
    refresh_aggregate(cat, "s1", "a1", keys="k", sum_cols="v")

    # folding a DIFFERENT source (or grouping) onto the same agg table is
    # a loud error, not silent corruption
    cat.write(base, "s2", mode="overwrite")
    cat.write(base, "s2", mode="append")
    with pytest.raises(ValueError, match="does not match the agg table"):
        refresh_aggregate(cat, "s2", "a1", keys="k", sum_cols="v")

    # add-column schema evolution on the source must not break the fold
    cat.write(base.withColumn("extra", F.lit("x")), "s1", mode="append")
    refresh_aggregate(cat, "s1", "a1", keys="k", sum_cols="v")
    got = cat.read("a1").toPandas()
    assert got.n_rows.sum() == 200


def test_compact_folds_chain_preserving_time_travel(spark, cat):
    """compact() rewrites an N-snapshot append chain into one overwrite
    snapshot: reads return identical rows but scan exactly one snapshot
    directory, pre-compaction as_of time-travel still works, and the new
    manifest entry records the compacted inputs."""
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    s1 = cat.write(mk(0, 100), "t", mode="overwrite",
                   partition_by={"kb": "pmod(k, 2)"}, sort_by=["id"])
    s2 = cat.write(mk(100, 250), "t", mode="append",
                   partition_by={"kb": "pmod(k, 2)"})
    s3 = cat.write(mk(250, 300), "t", mode="append",
                   partition_by={"kb": "pmod(k, 2)"})
    before = cat.read("t").toPandas().sort_values("id").reset_index(drop=True)

    cid = cat.compact("t")
    assert cid == s3 + 1
    entry = cat.snapshots("t")[-1]
    assert entry["mode"] == "overwrite"
    assert entry["meta"]["compaction_of"] == [s1, s2, s3]
    # layout inherited from the chain head
    assert entry["partition_by"] == {"kb": "pmod(k, 2)"}

    after = cat.read("t")
    pd.testing.assert_frame_equal(
        before, after.toPandas().sort_values("id").reset_index(drop=True)
    )
    # the read now touches ONLY the compacted snapshot's directory
    assert all(f"snap={cid}" in f for f in after.inputFiles())
    assert any(f"snap={cid}" in f for f in after.inputFiles())

    # pre-compaction time travel resolves through the old directories
    assert cat.read("t", as_of=s1).count() == 100
    assert cat.read("t", as_of=s2).count() == 250

    # appends continue on the compacted chain
    cat.write(mk(300, 320), "t", mode="append",
              partition_by={"kb": "pmod(k, 2)"})
    assert cat.read("t").count() == 320

    # compacting a 1-snapshot chain is a no-op (no new snapshot)
    c2 = cat.write(mk(0, 10), "solo", mode="overwrite")
    n = len(cat.snapshots("solo"))
    assert cat.compact("solo") == c2
    assert len(cat.snapshots("solo")) == n

    with pytest.raises(FileNotFoundError):
        cat.compact("missing")


def test_snap_column_name_is_reserved(spark, cat):
    """`snap` is the snapshot partition dir: a data (or derived) column
    with that name would be shadowed by partition discovery on read and
    then dropped — silent data loss. write() must refuse loudly."""
    df = spark.range(3).select(F.col("id"), F.lit(7).alias("snap"))
    with pytest.raises(ValueError, match="reserved"):
        cat.write(df, "t_bad", mode="overwrite")
    with pytest.raises(ValueError, match="reserved"):
        cat.write(
            spark.range(3), "t_bad2", mode="overwrite",
            partition_by={"snap": "id % 2"},
        )


def test_expire_reclaims_precompaction_history(spark, cat):
    import os

    mk = lambda lo, hi: spark.range(lo, hi).select(F.col("id"))
    s1 = cat.write(mk(0, 10), "t", mode="overwrite")
    s2 = cat.write(mk(10, 30), "t", mode="append")
    cid = cat.compact("t")
    assert cat.read("t", as_of=s2).count() == 30  # still travels pre-expire

    gone = cat.expire("t")
    assert gone == [s1, s2]
    # latest read untouched; audit entries remain; data dirs removed
    assert cat.read("t").count() == 30
    assert [s["id"] for s in cat.snapshots("t")] == [s1, s2, cid]
    assert all(s.get("expired") for s in cat.snapshots("t")[:2])
    assert not os.path.exists(os.path.join(cat.root, "t", f"snap={s1}"))

    # time travel into expired history raises a NAMED error
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read("t", as_of=s2)
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read_snapshot("t", s1)

    # idempotent, and the live chain is never expirable
    assert cat.expire("t") == []
    cat.write(mk(30, 40), "t", mode="append")
    assert cat.expire("t") == []  # post-compaction appends are live
    assert cat.read("t").count() == 40


def test_expire_before_cutoff_retains_newer_history(spark, cat):
    mk = lambda n: spark.range(n).select(F.col("id"))
    s1 = cat.write(mk(1), "t3", mode="overwrite")
    s2 = cat.write(mk(2), "t3", mode="overwrite")
    s3 = cat.write(mk(3), "t3", mode="overwrite")
    # keep history >= s2: only s1 reclaimed
    assert cat.expire("t3", before=s2) == [s1]
    assert cat.read("t3", as_of=s2).count() == 2  # retained
    # full expire reclaims the rest of the superseded history
    assert cat.expire("t3") == [s2]
    assert cat.read("t3").count() == 3
    with pytest.raises(FileNotFoundError):
        cat.expire("missing")


def test_catalog_zorder_layout(spark, cat):
    """zorder_by clusters every parquet file into a compact box in ALL
    the ordered columns (multi-dim min/max pruning) — a plain sort gives
    full-range stripes on every column but the first."""
    import glob
    import os

    n = 256
    df = spark.range(n * n).select(
        (F.col("id") % n).alias("a"),
        F.floor(F.col("id") / n).alias("b"),
        F.col("id").alias("v"),
    )
    cat.write(df, "z", mode="overwrite", zorder_by=["a", "b"], n_files=16)
    assert cat.snapshots("z")[-1]["zorder_by"] == ["a", "b"]
    back = cat.read("z")
    assert back.count() == n * n
    assert sorted(back.columns) == ["a", "b", "v"]  # __z never leaks

    files = glob.glob(os.path.join(cat.root, "z", "snap=1", "*.parquet"))
    assert len(files) >= 8
    areas = []
    for f in files:
        pdf = pd.read_parquet(f)
        ra = (pdf.a.max() - pdf.a.min() + 1) / n
        rb = (pdf.b.max() - pdf.b.min() + 1) / n
        areas.append(ra * rb)
    # 16 files over a uniform 2D grid: compact boxes ~1/16 of the domain
    # each (+ boundary slop) — a 1-D sort would average ~1.0 here because
    # every file spans the full range of the second column
    assert sum(areas) / len(areas) < 0.2, areas

    # temporal columns bucket via their epoch value — incl. TIMESTAMP_NTZ
    # (unix_micros rejects ntz; the key casts first)
    ts = df.withColumn(
        "ts", F.timestamp_seconds(F.col("v") * 60 + 1_500_000_000)
    )
    cat.write(ts, "zt", mode="overwrite", zorder_by=["a", "ts"], n_files=8)
    assert cat.read("zt").count() == n * n
    ntz = ts.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    cat.write(ntz, "zntz", mode="overwrite", zorder_by=["a", "ts"], n_files=8)
    assert cat.read("zntz").count() == n * n

    # > 7 columns would collide with the long sign bit / wrap shifts
    wide = df
    for i in range(6):
        wide = wide.withColumn(f"c{i}", F.col("v") % (i + 2))
    with pytest.raises(ValueError, match="at most 7"):
        cat.write(wide, "zerr",
                  zorder_by=["a", "b"] + [f"c{i}" for i in range(6)])

    with pytest.raises(ValueError, match="mutually exclusive"):
        cat.write(df, "zerr", zorder_by=["a", "b"], sort_by=["a"])
    with pytest.raises(ValueError, match=">= 2 columns"):
        cat.write(df, "zerr", zorder_by=["a"])
    with pytest.raises(ValueError, match="not in df"):
        cat.write(df, "zerr", zorder_by=["a", "nope"])
    with pytest.raises(ValueError, match="linear locality"):
        cat.write(df.withColumn("s", F.lit("x")), "zerr",
                  zorder_by=["a", "s"])
    with pytest.raises(ValueError, match="n_files"):
        cat.write(df, "zerr", zorder_by=["a", "b"], n_files=0)


def test_zorder_bucket_computed_once_per_column(spark):
    """The 255-literal cutoff-array bucket expression must appear ONCE
    per z-ordered column in the optimized plan, not 8x (one per bit):
    with_zorder_key materializes each bucket in its own projection and
    the interleave references the attribute; Catalyst must keep the
    split (CollapseProject declines to inline non-cheap expressions
    referenced 8 times) rather than re-duplicating the filter tree."""
    from lyssandra_spark.sources.catalog import with_zorder_key

    n = 64
    df = spark.range(n * n).select(
        (F.col("id") % n).alias("a"),
        F.floor(F.col("id") / n).alias("b"),
    )
    out = with_zorder_key(df, ["a", "b"], "__z")
    assert "__z" in out.columns and "__zb0" not in out.columns
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # each column's bucket filter appears exactly once in the whole plan
    assert plan.count("lambdafunction") == 2, plan.count("lambdafunction")
    # round-trips: the key is identical to the straight-line recompute
    first = out.orderBy("a", "b").select("__z").limit(3).collect()
    again = (
        with_zorder_key(df, ["a", "b"], "__z")
        .orderBy("a", "b").select("__z").limit(3).collect()
    )
    assert first == again
    with pytest.raises(ValueError, match="reserved"):
        with_zorder_key(df.withColumn("__zb0", F.lit(1)), ["a", "b"])


def test_compact_with_zorder_recluster(spark, cat):
    """The production pairing: unclustered hot appends all day, then ONE
    compaction rewrite that also buys the Z-order clustering."""
    import glob
    import os

    n = 128
    mk = lambda lo, hi: spark.range(lo, hi).select(
        (F.col("id") % n).alias("a"),
        F.floor(F.col("id") / n).alias("b"),
    )
    cat.write(mk(0, n * n // 2), "t", mode="overwrite")
    cat.write(mk(n * n // 2, n * n), "t", mode="append")
    cid = cat.compact("t", zorder_by=["a", "b"], n_files=8)
    assert cat.snapshots("t")[-1]["zorder_by"] == ["a", "b"]
    assert cat.read("t").count() == n * n

    files = glob.glob(os.path.join(cat.root, "t", f"snap={cid}", "*.parquet"))
    areas = []
    for f in files:
        pdf = pd.read_parquet(f)
        areas.append(
            (pdf.a.max() - pdf.a.min() + 1) * (pdf.b.max() - pdf.b.min() + 1)
            / float(n * n)
        )
    assert sum(areas) / len(areas) < 0.35, areas  # 8 files -> ~1/8 boxes

    # a later no-arg compact INHERITS the chain's clustering (columns AND
    # file count): it must not silently rewrite the table unclustered,
    # drop the manifest record, or change the file granularity
    cat.write(mk(0, 64), "t", mode="append")
    cid2 = cat.compact("t")
    assert cat.snapshots("t")[-1]["zorder_by"] == ["a", "b"]
    assert cat.snapshots("t")[-1]["zorder_files"] == 8
    assert cat.read("t").count() == n * n + 64
    files2 = glob.glob(
        os.path.join(cat.root, "t", f"snap={cid2}", "*.parquet")
    )
    areas2 = []
    for f in files2:
        pdf = pd.read_parquet(f)
        areas2.append(
            (pdf.a.max() - pdf.a.min() + 1) * (pdf.b.max() - pdf.b.min() + 1)
            / float(n * n)
        )
    assert sum(areas2) / len(areas2) < 0.35, areas2

    # a NEWER sort_by record is a layout change: compact must respect it
    # instead of resurrecting the abandoned clustering
    cat.write(mk(0, 32), "t", mode="append", sort_by=["a"])
    cat.compact("t")
    head = cat.snapshots("t")[-1]
    assert "zorder_by" not in head and head.get("sort_by") == ["a"]

    # zorder_by=[] compacts FLAT explicitly (no clustering, no sort)
    cat.write(mk(0, 16), "t", mode="append")
    cat.compact("t", zorder_by=[])
    head = cat.snapshots("t")[-1]
    assert "zorder_by" not in head and "sort_by" not in head


def test_zorder_write_cache_hygiene(spark, cat):
    """A failed zorder validation must not leak a persisted DataFrame,
    and a CALLER-established cache must survive the write (persist on a
    cached plan is a no-op, but unpersist would evict the caller's)."""
    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    with pytest.raises(ValueError, match=">= 2 columns"):
        cat.write(df, "zc", zorder_by=["a"])
    assert not df.is_cached  # validation failure released the persist

    df.cache()
    try:
        df.count()
        cat.write(df, "zc", mode="overwrite", zorder_by=["a", "b"],
                  n_files=4)
        assert df.is_cached  # the caller's cache was not evicted
        assert cat.read("zc").count() == 100
    finally:
        df.unpersist()


def test_zorder_write_cross_object_cache_and_reserved_z(
    spark, cat, tmp_path
):
    """The caller-cache guard must consult the CacheManager (plan-level),
    not the object-local is_cached flag: a cache held through an
    EQUAL-PLAN but different DataFrame object must survive the write.
    And a pre-existing '__z' column is loudly reserved (it would be
    shadowed by the clustering key and dropped — silent data loss)."""
    from pyspark import StorageLevel

    p = str(tmp_path / "src")
    spark.range(200).select(
        F.col("id").alias("a"), (F.col("id") % 9).alias("b")
    ).write.parquet(p)
    df1 = spark.read.parquet(p)
    df1.cache()
    try:
        df1.count()
        df2 = spark.read.parquet(p)  # same plan, different object
        cat.write(df2, "zx", mode="overwrite", zorder_by=["a", "b"],
                  n_files=4)
        assert df1.storageLevel != StorageLevel.NONE  # cache survived
        assert cat.read("zx").count() == 200
    finally:
        df1.unpersist()

    withz = spark.range(5).select(F.col("id").alias("a"),
                                  F.col("id").alias("b"),
                                  F.lit(1).alias("__z"))
    with pytest.raises(ValueError, match="__z.*reserved"):
        cat.write(withz, "zx2", zorder_by=["a", "b"])


def test_incremental_chain_start_pure():
    """The consumer-relative chain-start rule: a plain overwrite resets
    the chain; a compact() whose folded snapshots are all <= the
    consumer's watermark is audit-only (no reset, delta scan skips it);
    a compaction that swallowed unfolded snapshots keeps overwrite
    semantics."""
    from lyssandra_spark.sources.catalog import incremental_chain_start

    def snap(i, mode="append", cof=None):
        s = {"id": i, "mode": mode}
        if cof is not None:
            s["meta"] = {"compaction_of": cof}
        return s

    plain = [snap(1, "overwrite"), snap(2), snap(3)]
    assert incremental_chain_start(plain, 3) == (1, set())
    # audit-only: everything compacted was already folded
    snaps = [snap(1, "overwrite"), snap(2), snap(3),
             snap(4, "overwrite", cof=[1, 2, 3]), snap(5)]
    assert incremental_chain_start(snaps, 3) == (1, {4})
    assert incremental_chain_start(snaps, 4) == (1, {4})
    # the compaction swallowed snapshot 3, which the consumer never saw
    assert incremental_chain_start(snaps, 2) == (4, set())
    # a dead/new consumer sees every overwrite
    assert incremental_chain_start(snaps, None) == (4, set())
    # chained compactions stay audit-only once the watermark passed them
    snaps += [snap(6, "overwrite", cof=[4, 5])]
    assert incremental_chain_start(snaps, 5) == (1, {4, 6})
    # a later destructive overwrite still resets
    snaps += [snap(7, "overwrite")]
    assert incremental_chain_start(snaps, 6) == (7, {4, 6})


def _refresh_consumer(name, cat):
    """Refresh one of the five watermark consumers of table ``src``
    into table ``name`` with small fixed parameters."""
    from lyssandra_spark.operators import ann_index, incremental, search

    ann = dict(sample_rows=32, refine_iters=0)
    return {
        "ivf": lambda: ann_index.refresh_ivf_index(
            cat, "src", "ivf", n_cells=4, **ann),
        "pq": lambda: ann_index.refresh_pq_index(
            cat, "src", "pq", m=2, n_codes=4, **ann),
        "ivfpq": lambda: ann_index.refresh_ivfpq_index(
            cat, "src", "ivfpq", n_cells=4, m=2, n_codes=4, **ann),
        "postings": lambda: search.refresh_postings(
            cat, "src", "postings", id_col="vec_id"),
        "agg": lambda: incremental.refresh_aggregate(
            cat, "src", "agg", "grp", ["x"]),
    }[name]()


# per consumer: (spec, [(mode, meta keys) of the rebuild, delta and
# watermark-only snapshots]) — the manifest format chains already on
# disk were written in, so they keep refreshing without force_rebuild
_EMB = {"src": "src", "id_col": "vec_id", "emb_col": "embedding"}
_MANIFEST_FORMAT = {
    "ivf": (
        {**_EMB, "n_cells": 4, "sample_rows": 32, "seed": 23,
         "refine_iters": 0},
        [("overwrite", {"ivf_spec", "ivf_last_snap", "centroids",
                        "ivf_drift"}),
         ("append", {"ivf_spec", "ivf_last_snap", "ivf_drift"}),
         ("append", {"ivf_spec", "ivf_last_snap"})],
    ),
    "pq": (
        {**_EMB, "m": 2, "n_codes": 4, "sample_rows": 32, "seed": 29,
         "refine_iters": 0},
        [("overwrite", {"pq_spec", "pq_last_snap", "codebooks",
                        "pq_drift"}),
         ("append", {"pq_spec", "pq_last_snap", "pq_drift"}),
         ("append", {"pq_spec", "pq_last_snap"})],
    ),
    "ivfpq": (
        {**_EMB, "n_cells": 4, "m": 2, "n_codes": 4, "sample_rows": 32,
         "seed": 31, "refine_iters": 0},
        [("overwrite", {"ivfpq_spec", "ivfpq_last_snap", "centroids",
                        "ivfpq_books", "ivfpq_drift"}),
         ("append", {"ivfpq_spec", "ivfpq_last_snap", "ivfpq_drift"}),
         ("append", {"ivfpq_spec", "ivfpq_last_snap"})],
    ),
    "postings": (
        {"src": "src", "id_col": "vec_id", "text_col": "text"},
        [(mode, {"postings_spec", "postings_last_snap", "n_docs"})
         for mode in ("overwrite", "append", "append")],
    ),
    "agg": (
        {"src": "src", "keys": ["grp"], "sum_cols": ["x"]},
        [(mode, {"agg_spec", "agg_last_snap"})
         for mode in ("overwrite", "overwrite", "append")],
    ),
}


@pytest.mark.parametrize("name", list(_MANIFEST_FORMAT))
def test_consumer_manifest_format(spark, cat, name):
    """Rebuild, delta and watermark-only (audit-only source compaction)
    snapshots of each watermark consumer carry exactly the meta keys,
    spec and watermark values of the established manifest format."""
    import numpy as np

    rng = np.random.default_rng(5)
    X = rng.normal(size=(40, 8))
    words = ["ant", "bee", "cat", "dog", "eel"]
    src = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], " ".join(rng.choice(words, 3)),
          i % 3, float(X[i, 0])) for i in range(40)],
        "vec_id long, embedding array<double>, text string, grp int, "
        "x double",
    )
    cat.write(src.where("vec_id < 20"), "src", mode="overwrite")
    _refresh_consumer(name, cat)
    cat.write(src.where("vec_id >= 20"), "src", mode="append")
    _refresh_consumer(name, cat)
    cat.compact("src")
    _refresh_consumer(name, cat)

    spec, want = _MANIFEST_FORMAT[name]
    snaps = cat.snapshots(name)  # each table is named after its kind
    assert [(s["mode"], set(s["meta"])) for s in snaps] == want
    assert [s["meta"][f"{name}_spec"] for s in snaps] == [spec] * 3
    assert [s["meta"][f"{name}_last_snap"] for s in snaps] == [1, 2, 3]


def test_refresh_aggregate_survives_audit_compaction(spark, cat):
    """The weekly compact()+expire() housekeeping cadence must not force
    incremental consumers into full rebuilds: a compaction of
    already-aggregated snapshots is watermark-only (append, zero rows),
    a delta landing after it folds incrementally without double-counting
    the compacted corpus, and a compaction that swallowed an unfolded
    delta recomputes from scratch (correctly, even after expire)."""
    from lyssandra_spark.operators.incremental import refresh_aggregate

    def shard(lo, hi):
        return spark.range(lo, hi).select(
            F.pmod("id", F.lit(7)).alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )

    cat.write(shard(0, 300), "src", mode="overwrite")
    refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")
    cat.write(shard(300, 500), "src", mode="append")
    s2 = refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")

    # compact + expire the source: audit-only for this consumer
    cat.compact("src")
    cat.expire("src")
    s3 = refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")
    assert s3 > s2
    head = cat.snapshots("agg")[-1]
    assert head["mode"] == "append"  # watermark-only, NOT a rebuild

    # a post-compaction delta folds incrementally; rows must equal the
    # one-shot aggregate (a skip-logic bug would double-count 0..500)
    cat.write(shard(500, 900), "src", mode="append")
    refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")
    got = cat.read("agg").toPandas().sort_values("k").reset_index(drop=True)
    full = (
        shard(0, 900).groupBy("k")
        .agg(F.sum("v").alias("sum_v"), F.count("*").alias("n_rows"))
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, full, check_dtype=False)

    # compaction swallowing an UNFOLDED delta keeps overwrite semantics:
    # the next refresh recomputes (and stays correct after expire, when
    # the original delta's data is reachable only through the blob)
    cat.write(shard(900, 1000), "src", mode="append")
    cat.compact("src")
    cat.expire("src")
    refresh_aggregate(cat, "src", "agg", keys="k", sum_cols="v")
    assert cat.snapshots("agg")[-1]["mode"] == "overwrite"  # rebuild
    got2 = cat.read("agg").toPandas()
    assert got2.n_rows.sum() == 1000
