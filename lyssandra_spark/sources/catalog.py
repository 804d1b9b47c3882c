"""Table-format catalog adapter (SURVEY.md §2.B B17/B18, §7.7).

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar (verified: none of the 287 bundled jars is iceberg/delta/hudi, and
there is no network to fetch one — SURVEY.md §0). The adapter therefore
exposes the Iceberg-shaped interface the engine codes against and backs it
with partitioned parquet directories in-sandbox:

- `write(df, name, partition_by=...)` — hidden-partitioning analogue:
  partition columns are DERIVED (e.g. ts_day = days(ts)) and dropped on
  read, like Iceberg transforms; `days(ts)` + `bucket(conv_id)` is the
  layout the 10^12-turn design calls for.
- `read(name)` — reads back with derived columns reattached/dropped.
- snapshot semantics: every write lands in a new `snap=<n>` subdirectory
  with a tiny JSON manifest; `read(name, as_of=<n>)` time-travels — the
  mechanism dictionary-version history and resume rely on.

On a real cluster, the same interface maps 1:1 to
``df.writeTo(name).partitionedBy(days(ts), bucket(N, conv_id))`` and
``spark.read.option("snapshot-id", ...).table(name)``.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "ParquetCatalog", "Watermark", "incremental_chain_start",
    "with_zorder_key",
]

_Z_BUCKETS = 256  # 8 bits per column in the interleaved key


def with_zorder_key(
    df: DataFrame, cols: list[str], out_col: str = "__z"
) -> DataFrame:
    """Add a Morton/Z-order key column: each input column is
    quantile-bucketed to 8 bits (one ``approx_percentile`` sketch job for
    the cutoffs — data-adaptive, so skewed columns still spread across
    buckets), and the bucket bits are interleaved. Sorting/range-
    partitioning by this key clusters rows so every parquet file covers a
    COMPACT box in ALL the columns at once — multi-dimensional min/max
    pruning, where a plain sort gives tight bounds on the first column
    and full-range stripes on every other (the Iceberg OPTIMIZE ZORDER
    rationale). Nulls bucket to 0 (cluster together, first files).

    Returns ``df`` with ``out_col`` appended (a DataFrame, not a bare
    Column, ON PURPOSE: each column's bucket — a 255-literal cutoff
    array filter — is materialized ONCE in its own projection and the
    bit-interleave tree references it by attribute. Catalyst does not
    CSE repeated subtrees inside one projection, so the single-Column
    form would embed every bucket expression 8x — up to 56 copies per
    row at 7 columns; CollapseProject keeps the split because the
    bucket attributes are non-cheap and referenced 8 times each,
    asserted in tests/test_catalog.py).

    Columns must be numeric, date, or timestamp (temporal types are
    bucketed via their epoch value); strings have no meaningful linear
    order-locality to preserve and are rejected.
    """
    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns (use sort_by for one)")
    if len(cols) > 7:
        # 8 bits x 8 columns would put the last column's top bucket bit at
        # position 63 (the long SIGN bit: those rows sort before everything
        # and the layout silently stops being Morton order); 9+ columns
        # shift past 64 and Java masks the amount mod 64, colliding bits
        raise ValueError(
            f"zorder supports at most 7 columns (got {len(cols)}): the "
            "interleaved 8-bit buckets must fit below the long sign bit"
        )
    qs = [i / _Z_BUCKETS for i in range(1, _Z_BUCKETS)]
    casted = {}
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        if dt in ("timestamp", "timestamp_ntz"):
            # unix_micros rejects TIMESTAMP_NTZ; the cast (session-tz
            # interpretation) is fine here — only ORDER matters for
            # bucketing, and the cast is monotone under UTC sessions
            # (this repo pins UTC). Under a DST session zone, wall times
            # inside a spring-forward gap can invert instant order by up
            # to an hour — layout-only impact (slightly looser file
            # bounds in that hour), never wrong reads.
            casted[c] = F.unix_micros(
                F.col(c).cast("timestamp")
            ).cast("double")
        elif dt == "date":
            casted[c] = F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        elif dt in ("tinyint", "smallint", "int", "bigint", "float",
                    "double") or dt.startswith("decimal"):
            casted[c] = F.col(c).cast("double")
        else:
            raise ValueError(
                f"zorder column {c!r} has type {dt}: only numeric/date/"
                "timestamp columns have the linear locality Z-ordering "
                "preserves"
            )
    n = len(cols)
    tmp = [f"__zb{j}" for j in range(n)]
    # validate the cheap things BEFORE paying the quantile-sketch scan
    clash = sorted(set(tmp + [out_col]) & set(df.columns))
    if clash:
        raise ValueError(
            f"columns {clash} are reserved by the zorder key builder; "
            "rename them first"
        )
    cuts_row = df.agg(*[
        F.percentile_approx(casted[c], F.array(*[F.lit(q) for q in qs]))
        .alias(c)
        for c in cols
    ]).collect()[0]
    out = df
    for j, c in enumerate(cols):
        cuts = [v for v in (cuts_row[c] or []) if v is not None]
        bucket = F.size(
            F.filter(
                F.array(*[F.lit(float(v)) for v in cuts]),
                lambda cut: cut <= casted[c],
            )
        ) if cuts else F.lit(0)
        # null -> 0; one projection per bucket so the interleave below
        # references an attribute, never a copy of the filter tree
        out = out.withColumn(tmp[j], F.coalesce(bucket, F.lit(0)).cast("long"))
    z = F.lit(0).cast("long")
    for j in range(n):
        for b in range(8):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(tmp[j]), b).bitwiseAND(F.lit(1)),
                    n * b + j,
                )
            )
    return out.withColumn(out_col, z).drop(*tmp)


class ParquetCatalog:
    """Parquet-dir catalog with Iceberg-shaped snapshot/partition semantics."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- internals ---------------------------------------------------------

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "manifest.json")

    def _manifest(self, name: str) -> dict:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as f:
            return json.load(f)

    # -- public API --------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "append",
        partition_by: dict[str, str] | None = None,
        meta: dict | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        n_files: int = 16,
    ) -> int:
        """Write df as a new snapshot; returns the snapshot id.

        partition_by maps derived-column name -> SQL expression over df
        (Iceberg hidden-partitioning analogue), e.g.
        ``{"ts_day": "date_trunc('day', ts)", "conv_bucket": "pmod(hash(conv_id), 16)"}``.
        ``sort_by`` (Iceberg SORT ORDER analogue) sorts rows WITHIN each
        task/partition before writing — no extra shuffle — so parquet
        row-group min/max stats become tight on those columns and
        point/range scans prune inside files, not just across them. The
        order is recorded in the manifest so readers know what pruning
        to expect.
        ``zorder_by`` (Iceberg OPTIMIZE ZORDER analogue, mutually
        exclusive with ``sort_by``) range-partitions + sorts on a
        :func:`with_zorder_key` over >= 2 numeric/temporal columns into
        ``n_files`` clustered files: every file then bounds a compact
        box in ALL the columns, so min/max pruning works for predicates
        on ANY of them — a plain sort gives full-range stripes on every
        column but the first. Costs one quantile-sketch job + one range
        shuffle (that is the price of clustering; pay it on compaction,
        not on every hot append).
        ``meta`` is recorded verbatim on the snapshot's manifest entry
        (e.g. the streaming sink stamps its micro-batch id, so replayed
        batches are auditable).

        Append-time schema guard: an ``append`` onto an existing chain is
        checked against the chain head's recorded schema — every existing
        column must be present with the identical type (NEW columns are
        allowed; old snapshots read them back as null via mergeSchema,
        Iceberg's add-column evolution policy). A drifted append fails HERE
        with a named-column error instead of surfacing later as a confusing
        parquet-union error inside ``read``. ``overwrite`` resets the chain
        and may change schema freely.
        """
        # `snap` is the catalog's snapshot partition directory name: a
        # data or derived column called `snap` would be shadowed by the
        # discovered partition value on read and then dropped — silent
        # data loss. Reserve the name loudly instead.
        if "snap" in df.columns or "snap" in (partition_by or {}):
            raise ValueError(
                "column name 'snap' is reserved by the catalog (it is the "
                "snapshot partition directory); rename the column before "
                "writing"
            )
        man = self._manifest(name)
        if mode == "append" and man["snapshots"]:
            # schema of the current chain head (last snapshot since the
            # last overwrite — appends must stay compatible with it)
            head = man["snapshots"][-1]
            prior = dict(s.split(":", 1) for s in head["schema"])
            new = {f.name: f.dataType.simpleString() for f in df.schema}
            missing = sorted(set(prior) - set(new))
            drifted = sorted(
                c for c in set(prior) & set(new) if prior[c] != new[c]
            )
            if missing or drifted:
                raise ValueError(
                    f"append to {name!r} is schema-incompatible with snapshot "
                    f"{head['id']}: missing columns {missing}, type drift "
                    f"{[f'{c}: {prior[c]} -> {new[c]}' for c in drifted]} "
                    "(new columns are allowed; drops/retypes need "
                    "mode='overwrite')"
                )
        snap_id = (man["snapshots"][-1]["id"] + 1) if man["snapshots"] else 1
        snap_dir = os.path.join(self._tdir(name), f"snap={snap_id}")
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        out = df
        pcols = list((partition_by or {}).keys())
        for col, expr in (partition_by or {}).items():
            out = out.withColumn(col, F.expr(expr))
        if sort_by:
            missing_sort = [c for c in sort_by if c not in out.columns]
            if missing_sort:
                raise ValueError(f"sort_by columns {missing_sort} not in df")
            out = out.sortWithinPartitions(*sort_by)
        zpersisted = None
        if zorder_by:
            missing_z = [c for c in zorder_by if c not in df.columns]
            if missing_z:
                raise ValueError(f"zorder_by columns {missing_z} not in df")
            if n_files < 1:
                raise ValueError(f"n_files ({n_files}) must be >= 1")
            if "__z" in df.columns:
                # same loud policy as the reserved `snap` name: the
                # clustering key would shadow and then drop the user's
                # column — silent data loss
                raise ValueError(
                    "column name '__z' is reserved by the zorder write; "
                    "rename the column first"
                )
            # three passes read the input (quantile sketch, the range
            # partitioner's boundary sampling, the write itself) — persist
            # it so an expensive upstream pipeline is computed once, not
            # 3x. Respect a cache the CALLER already established: check
            # the CacheManager via storageLevel, NOT df.is_cached (an
            # object-local python flag — a caller's cache held through an
            # equal-plan but different DataFrame object would be invisible
            # to it, and our unpersist would evict theirs by plan).
            # Release ours if ANYTHING between persist and the write's
            # own try/finally raises.
            from pyspark import StorageLevel

            try:
                if df.storageLevel == StorageLevel.NONE:
                    zpersisted = df.persist()
                out = (
                    with_zorder_key(out, list(zorder_by), "__z")
                    .repartitionByRange(n_files, F.col("__z"))
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            except Exception:
                if zpersisted is not None:
                    zpersisted.unpersist()
                raise
        w = out.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        try:
            w.parquet(snap_dir)
        finally:
            if zpersisted is not None:
                zpersisted.unpersist()
        man["snapshots"].append(
            {
                "id": snap_id,
                "mode": mode,
                "partition_by": partition_by or {},
                **({"sort_by": sort_by} if sort_by else {}),
                **({"zorder_by": list(zorder_by), "zorder_files": n_files}
                   if zorder_by else {}),
                "schema": [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema],
                "wall": time.time(),
                **({"meta": meta} if meta else {}),
            }
        )
        os.makedirs(self._tdir(name), exist_ok=True)
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path(name))
        return snap_id

    def read(self, name: str, as_of: int | None = None,
             keep_partition_cols: bool = False) -> DataFrame:
        """Read a snapshot (latest by default; `as_of` time-travels).

        `mode="append"` snapshots are cumulative: reading snapshot s unions
        snapshots 1..s whose mode is append (an overwrite resets the chain).
        """
        man = self._manifest(name)
        if not man["snapshots"]:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        snaps = man["snapshots"]
        if as_of is not None:
            snaps = [s for s in snaps if s["id"] <= as_of]
            if not snaps:
                raise FileNotFoundError(f"no snapshot <= {as_of} for {name!r}")
        # find last overwrite boundary
        start = 0
        for i, s in enumerate(snaps):
            if s["mode"] == "overwrite":
                start = i
        gone = [s["id"] for s in snaps[start:] if s.get("expired")]
        if gone:
            raise FileNotFoundError(
                f"time travel into {name!r} needs expired snapshot(s) "
                f"{gone} — their data was reclaimed by expire(); only the "
                "manifest audit entries remain"
            )
        dirs = [
            os.path.join(self._tdir(name), f"snap={s['id']}") for s in snaps[start:]
        ]
        # anchor partition discovery at the table root: snap=N is itself
        # a Hive-style partition dir, so without a basePath a chain that
        # ALSO has hidden-partition subdirs (snap=N/kb=M) makes Spark's
        # common-ancestor inference fail with
        # CONFLICTING_DIRECTORY_STRUCTURES. With the anchor, `snap`
        # surfaces as one more partition column (dropped below) and the
        # whole chain stays a single relation — partition pruning on the
        # hidden columns still works across every snapshot.
        reader = self.spark.read.option("basePath", self._tdir(name))
        # appends may have ADDED nullable columns (see write's schema
        # guard); only pay the mergeSchema footer pass when the chain's
        # recorded schemas actually differ
        if len({tuple(s["schema"]) for s in snaps[start:]}) > 1:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*dirs).drop("snap")
        pcols = set()
        for s in snaps[start:]:
            pcols |= set(s["partition_by"].keys())
        if not keep_partition_cols:
            df = df.drop(*pcols)
        return df

    def merge(
        self,
        df: DataFrame,
        name: str,
        keys,
        partition_by: dict[str, str] | None = None,
        meta: dict | None = None,
    ) -> int:
        """Keyed upsert — the ``MERGE INTO ... ON keys WHEN MATCHED THEN
        UPDATE WHEN NOT MATCHED THEN INSERT`` of this catalog (late
        transcript corrections, re-scored documents).

        Copy-on-write: current rows whose key appears in ``df`` are
        replaced by ``df``'s row, everything else is carried forward, and
        the result lands as ONE ``overwrite`` snapshot — so time-travel
        still sees the pre-merge state and the post-merge chain is a
        single self-contained snapshot. The anti-join keys on ``keys``
        only (small shuffle); ``df`` may ADD columns (carried-forward
        rows read them as null) but must carry EVERY existing column
        (copy-on-write replaces whole rows — a partial-column delta
        would silently null the omitted fields on matched rows, so it is
        rejected loudly, same policy as write()'s append guard) and may
        not retype any. Duplicate keys in the delta are rejected (SQL
        MERGE's multiple-source-match error): letting them through would
        write a table with duplicate key rows. A missing table
        bootstraps. ``partition_by`` defaults to the chain head's layout
        so a merge never silently changes partitioning.

        Honest scale note: this sandbox adapter rewrites the WHOLE table
        per merge; real Iceberg copy-on-write rewrites only the data
        files containing matched keys (partition-pruned), and that is
        what ``MERGE INTO`` maps to on a cluster. The interface —
        keyed upsert as one atomic snapshot — is the part the engine
        codes against.
        """
        keys = [keys] if isinstance(keys, str) else list(keys)
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(f"merge keys {missing} not in df columns")
        dup = (
            df.groupBy(*keys).count().where(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"merge delta has duplicate keys (e.g. "
                f"{[dup[0][k] for k in keys]}) — a keyed upsert needs one "
                "source row per key (SQL MERGE's multiple-match error)"
            )
        man = self._manifest(name)
        if not man["snapshots"]:
            return self.write(df, name, mode="overwrite",
                              partition_by=partition_by, meta=meta)
        current = self.read(name)
        cur_types = {f.name: f.dataType.simpleString() for f in current.schema}
        new_types = {f.name: f.dataType.simpleString() for f in df.schema}
        absent = sorted(set(cur_types) - set(new_types))
        drifted = sorted(
            c for c in set(cur_types) & set(new_types)
            if cur_types[c] != new_types[c]
        )
        if absent or drifted:
            raise ValueError(
                f"merge into {name!r} is schema-incompatible: missing columns "
                f"{absent} (whole rows are replaced — a partial delta would "
                f"silently null them), type drift "
                f"{[f'{c}: {cur_types[c]} -> {new_types[c]}' for c in drifted]}"
            )
        kept = current.join(df.select(*keys).distinct(), keys, "left_anti")
        out = kept.unionByName(df, allowMissingColumns=True)
        if partition_by is None:
            partition_by = man["snapshots"][-1]["partition_by"] or None
        return self.write(
            out, name, mode="overwrite", partition_by=partition_by,
            meta={**(meta or {}), "merge_keys": keys},
        )

    def compact(
        self,
        name: str,
        meta: dict | None = None,
        zorder_by: list[str] | None = None,
        n_files: int | None = None,
    ) -> int:
        """Rewrite the current append chain as ONE snapshot (Iceberg's
        ``rewrite_data_files`` / OPTIMIZE analogue) and return its id.

        Why this exists at 100 TB: a daily-append table accumulates one
        parquet directory (and one manifest entry) per snapshot, and
        after a year every read unions ~365 directories of accumulating
        small files — file listing and footer reads become the scan
        bottleneck long before row count does. Compaction folds the
        chain since the last overwrite into a single ``overwrite``
        snapshot, so subsequent reads touch exactly one directory.

        Time travel is PRESERVED: pre-compaction snapshot directories
        stay on disk and ``read(name, as_of=<old id>)`` still resolves
        through them; only the post-compaction chain head changes.
        (:meth:`expire` is the opt-in second step that reclaims those
        directories once the history is no longer needed.) The
        new snapshot inherits the chain head's ``partition_by`` layout
        and ``sort_by`` order (re-deriving hidden partition columns),
        and its manifest entry records ``compaction_of`` — the audit
        trail from the compacted snapshot back to its inputs. A
        single-snapshot chain is already compact: no-op, returns the
        head id.

        Note for incremental consumers (:class:`Watermark`): compaction
        writes an ``overwrite``, but one that folded only snapshots a
        consumer already folded is audit-only for it (watermark-only
        refresh); one that swallowed unfolded snapshots is a chain reset
        and the consumer recomputes — results stay right either way.

        ``zorder_by`` re-CLUSTERS while compacting (``write``'s Z-order
        layout) — the production pairing: hot appends land cheap and
        unclustered all day, and the one rewrite that compaction already
        pays also buys multi-column pruning. With no argument, the
        compacted snapshot INHERITS the chain's most recently recorded
        layout intent — scanning newest-first for EITHER a ``zorder_by``
        or a ``sort_by`` record, whichever was expressed later (so
        switching a table to a plain sort is respected, and abandoned
        clustering is not resurrected); an inherited Z-order also
        inherits its recorded file count. Pass ``zorder_by=[]`` to
        explicitly compact FLAT (no re-clustering, no inherited sort).
        """
        man = self._manifest(name)
        if not man["snapshots"]:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        snaps = man["snapshots"]
        start = 0
        for i, s in enumerate(snaps):
            if s["mode"] == "overwrite":
                start = i
        chain = snaps[start:]
        if len(chain) == 1:
            return chain[-1]["id"]  # already one snapshot: nothing to do
        head = chain[-1]
        # inherit the chain's most recent LAYOUT INTENT when the caller
        # doesn't override: compacting a Z-ordered table must not
        # silently rewrite it unclustered (and drop the manifest record
        # readers rely on) — but a NEWER sort_by record means the user
        # moved away from clustering, and resurrecting it would re-pay
        # the range shuffle for an abandoned layout. The record lives on
        # the snapshot that established it (usually the chain base; hot
        # appends land plain on top), so scan newest-first and take
        # whichever layout was expressed last. zorder_by=[] opts out of
        # both.
        explicit_flat = zorder_by is not None and len(list(zorder_by)) == 0
        sort_inherit = None
        inh_files = None
        if zorder_by is None:
            for s in reversed(chain):
                if s.get("zorder_by"):
                    zorder_by = s["zorder_by"]
                    inh_files = s.get("zorder_files")
                    break
                if s.get("sort_by"):
                    sort_inherit = s["sort_by"]
                    break
        elif explicit_flat:
            zorder_by = None
        df = self.read(name)
        return self.write(
            df,
            name,
            mode="overwrite",
            partition_by=head["partition_by"] or None,
            sort_by=sort_inherit if zorder_by is None else None,
            zorder_by=zorder_by,
            n_files=n_files if n_files is not None else (inh_files or 16),
            meta={**(meta or {}),
                  "compaction_of": [s["id"] for s in chain]},
        )

    def expire(self, name: str, before: int | None = None) -> list[int]:
        """Delete the DATA of snapshots superseded by the latest
        overwrite (Iceberg ``expire_snapshots`` analogue — the vacuum
        that pairs with :meth:`compact`); returns the expired ids.

        Only snapshots strictly BEFORE the current chain's first
        snapshot are eligible: they are unreachable from the latest
        read, kept purely for time travel. ``before`` (a snapshot id)
        optionally retains newer history — the effective cutoff is
        ``min(before, chain_start)`` so a live chain can never be
        broken. Expired entries STAY in the manifest flagged
        ``expired`` (the audit trail survives; ``snapshots()`` still
        lists them), and time travel into them now raises a named
        FileNotFoundError instead of a confusing missing-path read.
        Typical lifecycle: daily appends -> ``compact`` (one overwrite
        snapshot) -> ``expire`` (reclaim the pre-compaction
        directories) — at 100 TB this is what keeps the warehouse from
        retaining every superseded byte forever. Idempotent: a second
        call returns ``[]``.
        """
        import shutil

        man = self._manifest(name)
        if not man["snapshots"]:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        snaps = man["snapshots"]
        start_id = snaps[0]["id"]
        for s in snaps:
            if s["mode"] == "overwrite":
                start_id = s["id"]
        cutoff = start_id if before is None else min(before, start_id)
        expired = []
        for s in snaps:
            if s["id"] < cutoff and not s.get("expired"):
                s["expired"] = True
                s["expired_wall"] = time.time()
                expired.append(s["id"])
        # flag the manifest FIRST (atomic tmp+replace, like write), THEN
        # delete data: a crash between the two leaves snapshots flagged
        # expired with data still on disk (safe: reads raise the named
        # error, a re-run below re-deletes) — never the reverse, where
        # the manifest says live but the data is gone and time travel
        # dies with a raw missing-path read.
        if expired:
            tmp = self._manifest_path(name) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(man, f)
            os.replace(tmp, self._manifest_path(name))
        # reclaim EVERY flagged snapshot's directory (incl. ones flagged
        # by a crashed earlier run) — rmtree on a missing dir is a no-op
        for s in snaps:
            if s.get("expired"):
                shutil.rmtree(
                    os.path.join(self._tdir(name), f"snap={s['id']}"),
                    ignore_errors=True,
                )
        return expired

    def read_snapshot(self, name: str, snap_id: int) -> DataFrame:
        """Read EXACTLY one snapshot's rows (not the cumulative chain) —
        the Iceberg incremental-scan analogue. This is what lets an
        incremental job process only the delta a given write appended."""
        man = self._manifest(name)
        if not any(s["id"] == snap_id for s in man["snapshots"]):
            raise FileNotFoundError(f"no snapshot {snap_id} for {name!r}")
        entry = next(s for s in man["snapshots"] if s["id"] == snap_id)
        if entry.get("expired"):
            raise FileNotFoundError(
                f"snapshot {snap_id} of {name!r} was expired — its data "
                "was reclaimed by expire(); only the manifest audit entry "
                "remains"
            )
        df = self.spark.read.parquet(
            os.path.join(self._tdir(name), f"snap={snap_id}")
        )
        return df.drop(*entry["partition_by"].keys())

    def snapshots(self, name: str) -> list[dict]:
        return self._manifest(name)["snapshots"]

    def latest_meta(self, name: str, key: str) -> dict | None:
        """The meta dict of the most recent snapshot whose meta carries
        ``key`` (newest-first scan — the layout-intent inheritance rule
        applied to consumer metadata). Watermark-style records — the
        ``<kind>_spec`` / ``<kind>_last_snap`` pairs :class:`Watermark`
        stamps (kinds ``agg``, ``postings``, ``ivf``, ``pq``, ``ivfpq``;
        postings add ``n_docs``), the index artifacts (``centroids``,
        ``codebooks``, ``ivfpq_books``) and drift records, and the
        signature indexes' ``lsh_params`` — must survive snapshots that
        don't re-state them: a
        :meth:`compact` rewrites the DATA as one overwrite snapshot but
        is not a consumer and carries only its audit meta, so the
        incremental jobs keyed on those watermarks read them through
        this lookup instead of assuming the chain head wrote them.

        The scan STOPS at a destructive boundary: an ``overwrite``
        snapshot that neither carries the key nor is a compaction
        (``compaction_of`` audit meta) REPLACED the table's data — a
        user reset — and resurrecting a pre-reset watermark would fold
        deltas onto unrelated state; consumers then see None and take
        their safe full-rebuild path. Returns None if no snapshot
        within the boundary carries the key."""
        for s in reversed(self.snapshots(name)):
            meta = s.get("meta", {})
            if key in meta:
                return meta
            if s["mode"] == "overwrite" and "compaction_of" not in meta:
                return None  # data was replaced: the watermark died here
        return None

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.exists(self._manifest_path(d))
        )


def incremental_chain_start(
    snapshots: list[dict], last: int | None
) -> tuple[int, set[int]]:
    """Chain start as seen by an incremental consumer whose watermark
    is ``last`` (the newest source snapshot it has folded), plus the
    snapshot ids that consumer's delta scan must SKIP.

    A plain ``overwrite`` REPLACED the table's data: a watermark below
    it is stale, so it becomes the chain start and the consumer takes
    its full-rebuild path. A :meth:`ParquetCatalog.compact` overwrite,
    though, is a pure rewrite — its ``compaction_of`` audit meta names
    exactly the snapshots it folded. When every one of those is
    ``<= last``, the compaction introduced no rows the consumer hasn't
    already folded: it is AUDIT-ONLY for this consumer, does NOT reset
    its chain, and must be skipped by the delta scan (its content is
    the union of already-folded snapshots — rescanning it would
    double-fold the corpus). A compaction that swallowed still-unfolded
    snapshots keeps overwrite semantics: once those originals are
    ``expire()``d their rows are reachable only through the compaction
    blob, so the consumer must rebuild rather than fold it as a delta.

    At 100 TB this is what lets the weekly ``compact()`` + ``expire()``
    housekeeping cadence coexist with nightly incremental refreshes
    (postings, ANN cells/codes, materialized aggregates): a consumer
    that refreshed since the last append pays NOTHING for the
    compaction instead of a full index rebuild.
    """
    chain_start = 0
    skip: set[int] = set()
    for s in snapshots:
        if s["mode"] != "overwrite":
            continue
        cof = s.get("meta", {}).get("compaction_of")
        if cof and last is not None and max(cof) <= last:
            skip.add(s["id"])
            continue
        chain_start = s["id"]
    return chain_start, skip


class Watermark:
    """One incremental consumer's freshness state against its source
    chain, and the only code that knows the ``<kind>_spec`` /
    ``<kind>_last_snap`` meta every watermark consumer (postings, IVF /
    PQ / IVF-PQ indexes, materialized aggregates) stamps on its table —
    so the chain/watermark rule, which has changed twice already
    (audit-only compactions, expired deltas), cannot drift between them.

    Construction raises ``FileNotFoundError`` on a source with no
    snapshots, and ``ValueError`` (naming ``remedy``) when the table's
    spec, read via :meth:`ParquetCatalog.latest_meta`, differs from
    ``spec`` — unless ``force``, whose rebuild replaces the whole table.
    The comparison is EXACT, so a chain written under other defaults
    fails loudly instead of mixing artifact generations. No spec found
    means the watermark died at a destructive overwrite: a rebuild, not
    a mismatch.

    ``last`` is the newest source snapshot folded (None without a live
    watermark), ``newest`` the source head, ``skip`` the audit-only
    compactions the delta scan must not re-read
    (:func:`incremental_chain_start`). ``rebuild`` is set by ``force``,
    by a missing watermark, by a watermark older than the
    consumer-relative chain start (a genuine overwrite reset), or by a
    delta snapshot above it that was ``expire()``d before it was folded
    (the cumulative chain still serves its rows, so the rebuild is
    lossless; the incremental scan cannot). ``noop``: nothing new, the
    consumer returns its head snapshot id and writes nothing.
    """

    def __init__(self, catalog: ParquetCatalog, src_table: str,
                 table: str, kind: str, spec: dict, role: str,
                 remedy: str = "rebuild", force: bool = False):
        self.src_snaps = catalog.snapshots(src_table)
        if not self.src_snaps:
            raise FileNotFoundError(f"no snapshots for source {src_table!r}")
        self.catalog, self.src_table, self.table = catalog, src_table, table
        self.spec_key, self.last_key = f"{kind}_spec", f"{kind}_last_snap"
        self.spec = spec
        self.newest = self.src_snaps[-1]["id"]
        self.snaps = catalog.snapshots(table)
        self.meta = (
            (catalog.latest_meta(table, self.spec_key) or {})
            if self.snaps else {}
        )
        if self.meta and self.meta[self.spec_key] != spec and not force:
            raise ValueError(
                f"refresh spec {spec} does not match the {role} table's "
                f"{self.meta[self.spec_key]} — use a different "
                f"{role}_table or {remedy}"
            )
        last = self.last = self.meta.get(self.last_key)
        chain_start, self.skip = incremental_chain_start(self.src_snaps, last)
        delta_expired = last is not None and any(
            s["id"] > last and s.get("expired") and s["id"] not in self.skip
            for s in self.src_snaps
        )
        self.rebuild = (force or last is None or last < chain_start
                        or delta_expired)
        self.noop = not self.rebuild and last >= self.newest

    def stamp(self, **extra) -> dict:
        """The meta of a snapshot that folds the source up to ``newest``."""
        return {self.spec_key: self.spec, self.last_key: self.newest, **extra}

    def delta(self, cols: list[str]) -> DataFrame | None:
        """Union of the source snapshots above the watermark minus
        ``skip``, each projected to ``cols`` (prunes the scan and keeps
        the union immune to add-column evolution); None if none."""
        pieces = [
            self.catalog.read_snapshot(self.src_table, s["id"]).select(*cols)
            for s in self.src_snaps
            if s["id"] > self.last and s["id"] not in self.skip
        ]
        return reduce(DataFrame.unionByName, pieces) if pieces else None

    def unindexed(self, delta: DataFrame, id_col: str) -> DataFrame:
        """Re-ingest guard of the id-keyed consumers: collapse duplicate
        ids and anti-join the ids already in the table (the id IS the
        identity, so a re-fed row never lands twice)."""
        indexed = self.catalog.read(self.table).select(id_col).distinct()
        return delta.dropDuplicates([id_col]).join(indexed, id_col,
                                                   "left_anti")

    def advance(self, **extra) -> int:
        """Append a watermark-only snapshot (no rows) and return its id."""
        return self.catalog.write(
            self.catalog.read(self.table).limit(0), self.table,
            mode="append", meta=self.stamp(**extra),
        )
