"""Bucketed differential merge: upserts that rewrite only touched buckets.

The snapshot upsert path (``ParquetWarehouse.overwrite_snapshot``) pays a
full-table rewrite per merge — correct and simple, but the cost is
proportional to |table| regardless of |batch|. This module is the
scale-tier alternative for large, frequently-merged tables: the table is
hash-bucketed on the primary key across ``n_buckets`` directories, and a
merge rewrites ONLY the buckets the source keys land in.

Cost model (honest): a source with K distinct keys touches
min(K, n_buckets) buckets, so a merge rewrites ~min(K, N)/N of the
table. For trickle upserts (K in the tens-to-thousands against a
many-thousand-bucket table) that is a 100-1000x write reduction; for
K >> N it degrades gracefully to the full rewrite the snapshot path
always pays. Pick ``n_buckets`` so a bucket is roughly file-sized
(128-512 MB) at the table's steady-state size.

Commit protocol — same object-store-safe pointer flip as
``ParquetWarehouse`` (sinks/writer.py), extended to a per-bucket map:

    <table>/
        _current_buckets      {"n_buckets": N, "buckets": {"17": "v_a", ...}}
        v_<ts>_<rand>/        immutable version dirs, each holding
            b=17/...parquet   only the buckets written by that commit

A merge (1) writes the merged TOUCHED buckets into a fresh version dir
(invisible — nothing references it); (2) atomically replaces the manifest
with the touched bucket pointers flipped to the new version. A crash
before the flip leaves the previous state fully intact. A version dir is
garbage once no bucket points into it (kept for ``keep_versions`` commits
so in-flight readers finish).

Read path: one ``spark.read.parquet(path_17, path_23, ...)`` over the
per-bucket current dirs — a plain multi-path parquet scan, fully
parallel, no manifest logic inside Spark.

Single writer per table (same model as the reference and the snapshot
path); concurrent readers are protected by immutability + retained
versions.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import StructType

from nspc_etl_basic_spark.operators.merge import (
    MergeCounts,
    MergeObservation,
    merge_counts,
    merge_upsert,
)

MANIFEST = "_current_buckets"
HISTORY_DIR = "_manifest_history"
VERSION_PREFIX = "v_"
BUCKET_COL = "__bucket"

#: ParquetWarehouse's snapshot-manifest name — its presence means the
#: directory is a SNAPSHOT table; operating a bucketed sink on it would
#: orphan the snapshot rows and cross-GC the other layout's version dirs.
_SNAPSHOT_MANIFEST = "_current"


class BucketedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_cols: list[str],
        n_buckets: int = 64,
        keep_versions: int = 2,
        keep_history: int = 10,
    ):
        self.spark = spark
        self.path = path
        self.pk_cols = list(pk_cols)
        self.n_buckets = int(n_buckets)
        self.keep_versions = max(1, int(keep_versions))
        #: committed manifests retained for time-travel reads; every
        #: version dir a retained manifest references survives GC
        self.keep_history = max(1, int(keep_history))
        if os.path.exists(os.path.join(path, _SNAPSHOT_MANIFEST)):
            raise ValueError(
                f"{path} is a ParquetWarehouse snapshot table (has "
                f"{_SNAPSHOT_MANIFEST}); refusing to run the bucketed "
                "layout over it — existing snapshot rows would be "
                "silently ignored and each layout's GC would delete "
                "version dirs the other's manifest references. Point "
                "the bucketed table at a fresh directory (or migrate "
                "with BucketedTable.init(warehouse.read(name)) into a "
                "new root)."
            )
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------------
    # manifest
    # ------------------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path(), encoding="utf-8") as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            return None
        return m if isinstance(m.get("buckets"), dict) else None

    def _write_manifest(
        self, buckets: dict[str, str], schema_json: str | None = None
    ) -> None:
        prev = self._read_manifest()
        version_id = (prev.get("version_id", -1) + 1) if prev else 0
        if schema_json is None and prev:
            schema_json = prev.get("schema")
        manifest = {
            "version_id": version_id,
            "n_buckets": self.n_buckets,
            "pk_cols": self.pk_cols,
            "buckets": buckets,
            "schema": schema_json,
            "committed_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }
        tmp = f"{self._manifest_path()}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest_path())  # the commit point
        # history AFTER the flip: a manifest copy per commit, so
        # read(version=k) can time-travel. Written post-commit — a crash
        # between flip and copy loses only that version's history entry,
        # never current-state correctness.
        hdir = os.path.join(self.path, HISTORY_DIR)
        os.makedirs(hdir, exist_ok=True)
        with open(
            os.path.join(hdir, f"m_{version_id:08d}.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(manifest, fh)

    def _history_manifests(self) -> dict[int, dict]:
        """Retained committed manifests, keyed by version_id."""
        hdir = os.path.join(self.path, HISTORY_DIR)
        out: dict[int, dict] = {}
        if not os.path.isdir(hdir):
            return out
        for f in os.listdir(hdir):
            if f.startswith("m_") and f.endswith(".json"):
                try:
                    with open(os.path.join(hdir, f), encoding="utf-8") as fh:
                        m = json.load(fh)
                    out[int(m["version_id"])] = m
                except (OSError, ValueError, KeyError):
                    continue
        return out

    def versions(self) -> list[dict]:
        """Time-travel catalog: retained commits, oldest first —
        ``[{"version_id": k, "committed_at": ...}, ...]``."""
        hist = self._history_manifests()
        return [
            {"version_id": k, "committed_at": hist[k].get("committed_at")}
            for k in sorted(hist)
        ]

    def exists(self) -> bool:
        return self._read_manifest() is not None

    # ------------------------------------------------------------------
    # bucketing
    # ------------------------------------------------------------------

    def _bucket_expr(self):
        """pmod(xxhash64(pk...), N) — deterministic across sessions, JVM
        evaluated, and derivable from the data (the bucket id is never
        stored in the rows, only in the directory layout)."""
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.pk_cols]), F.lit(self.n_buckets)
        ).cast("int")

    def _bucket_paths(self, bucket_ids=None, manifest: dict | None = None) -> list[str]:
        m = manifest if manifest is not None else self._read_manifest()
        if m is None:
            return []
        items = m["buckets"].items()
        if bucket_ids is not None:
            wanted = {str(b) for b in bucket_ids}
            items = [(b, v) for b, v in items if b in wanted]
        return [
            os.path.join(self.path, v, f"{BUCKET_COL}={b}") for b, v in items
        ]

    def _write_version(self, df: DataFrame) -> str:
        version = f"{VERSION_PREFIX}{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"
        (
            df.withColumn(BUCKET_COL, self._bucket_expr())
            .repartition(BUCKET_COL)  # one task-set per bucket, co-written
            .write.mode("error")
            .partitionBy(BUCKET_COL)
            .parquet(os.path.join(self.path, version))
        )
        return version

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------

    def init(self, df: DataFrame) -> None:
        """Full (re)write of the table: every bucket lands in one fresh
        version; the manifest points all buckets at it."""
        version = self._write_version(df)
        written = self._version_buckets(version)
        self._write_manifest({b: version for b in written}, df.schema.json())
        self._gc()

    def _empty_df(self, m: dict) -> DataFrame:
        schema_json = m.get("schema")
        if not schema_json:
            raise FileNotFoundError(
                f"bucketed table at {self.path} is empty and its manifest "
                "predates schema recording"
            )
        return self.spark.createDataFrame(
            [], StructType.fromJson(json.loads(schema_json))
        )

    def read(self, bucket_ids=None, version: int | None = None) -> DataFrame:
        """Current-state read, or time travel with ``version=k`` — the
        bucket map as of commit k (``versions()`` lists retained ids).
        Historical reads cost the same as current ones: the manifest is
        just a different set of per-bucket paths; version dirs referenced
        by any retained manifest survive GC."""
        if version is None:
            m = self._read_manifest()
        else:
            m = self._history_manifests().get(int(version))
            if m is None:
                raise FileNotFoundError(
                    f"version {version} not retained at {self.path} "
                    f"(keep_history={self.keep_history}; see versions())"
                )
        if m is None:
            raise FileNotFoundError(f"bucketed table at {self.path} is empty")
        paths = self._bucket_paths(bucket_ids, manifest=m)
        if not paths:
            # a manifest with an empty (or fully filtered) bucket map is a
            # valid state — e.g. delete() removed the last bucket; readers
            # get an empty frame with the recorded schema instead of a
            # crash that wedges the table until re-init
            return self._empty_df(m)
        # mergeSchema: buckets written before an additive schema evolution
        # lack the new columns; the merged read NULL-fills them. Costs one
        # footer read per file — bucket files are ~128-512 MB, so footers
        # are a rounding error next to the scan.
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def diff(self, from_version: int, to_version: int) -> DataFrame:
        """Change-data-feed between two retained versions: one row per
        key whose state changed, ``(pk_cols..., op, <col>_old,
        <col>_new ...)`` with ``op`` in ``insert`` / ``update`` /
        ``delete``. Unchanged keys are omitted (null-safe comparison, so
        a null->null column is unchanged and null->value is an update).

        This is the downstream-sync primitive (what Delta calls CDF):
        consumers replay the diff instead of re-reading the table.
        Plan: one full-outer join of the two version reads on the key —
        both sides are bucket-pruned scans of only the buckets either
        manifest references; at 100 TB the join co-partitions on the
        key like any PK merge. Both versions must still be retained
        (``versions()``; raises like ``read(version=k)`` otherwise)."""
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        # value columns span BOTH versions: an additive schema
        # evolution between them means one side lacks a column — that
        # side reads as NULL (the same NULL-fill contract read() applies
        # within a version), so the evolution itself surfaces as updates
        types = {f.name: f.dataType for f in [*old.schema, *new.schema]}
        value_cols = [
            c
            for c in dict.fromkeys([*old.columns, *new.columns])
            if c not in self.pk_cols
        ]

        def side(df: DataFrame, marker: str, suffix: str) -> DataFrame:
            cols = []
            for c in value_cols:
                if c in df.columns:
                    cols.append(F.col(c).alias(f"{c}{suffix}"))
                else:
                    cols.append(
                        F.lit(None).cast(types[c]).alias(f"{c}{suffix}")
                    )
            return df.select(
                *self.pk_cols, F.lit(True).alias(marker), *cols
            )

        o = side(old, "__in_old", "_old")
        nw = side(new, "__in_new", "_new")
        joined = o.join(nw, self.pk_cols, "full_outer")
        changed = F.lit(False)
        for c in value_cols:
            changed = changed | ~F.col(f"{c}_old").eqNullSafe(
                F.col(f"{c}_new")
            )
        op = (
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(F.col("__in_new").isNull(), F.lit("delete"))
            .when(changed, F.lit("update"))
        )
        return (
            joined.withColumn("op", op)
            .where(F.col("op").isNotNull())
            .select(
                *self.pk_cols,
                "op",
                *[
                    c
                    for vc in value_cols
                    for c in (f"{vc}_old", f"{vc}_new")
                ],
            )
        )

    def merge(
        self, source: DataFrame, allow_schema_evolution: bool = False
    ) -> MergeCounts:
        """Differential upsert: rewrite only the buckets containing the
        source's keys. Counts are the true insert/update split, observed
        on the version write (``operators.merge.merge_counts``).

        ``source`` must be key-unique (run operators.merge.dedup_last_wins
        first — the same contract as the snapshot upsert path): duplicate
        keys would both survive the anti-join + union.

        ``allow_schema_evolution=True`` admits ADDITIVE source columns:
        rewritten buckets carry the new columns, untouched buckets are
        NULL-filled at read time via mergeSchema — no table-wide rewrite
        to add a column. Source-missing columns are always NULL-filled
        (SQL INSERT column-list semantics)."""
        m = self._read_manifest()
        observe = MergeObservation()
        if m is None:
            self.init(observe.on("merged", source))
            return merge_counts(observe)
        if m.get("n_buckets") != self.n_buckets:
            raise ValueError(
                f"table has n_buckets={m.get('n_buckets')}, "
                f"writer configured {self.n_buckets}"
            )

        src = source.cache()
        try:
            # bounded driver collect: at most n_buckets ints
            touched = [
                r[0]
                for r in src.select(self._bucket_expr().alias("b"))
                .distinct()
                .collect()
            ]
            live = {b for b, _ in m["buckets"].items()}
            touched_live = [b for b in touched if str(b) in live]

            if touched_live:
                old = self.read(bucket_ids=touched_live)
                aligned = src
                extra = [c for c in src.columns if c not in old.columns]
                if extra and not allow_schema_evolution:
                    raise ValueError(
                        f"source columns {extra} not in table; pass "
                        "allow_schema_evolution=True to add them"
                    )
                for c in old.columns:
                    if c not in aligned.columns:
                        aligned = aligned.withColumn(
                            c, F.lit(None).cast(old.schema[c].dataType)
                        )
                if extra:
                    old = old.select(
                        "*", *[F.lit(None).cast(src.schema[c].dataType).alias(c)
                               for c in extra]
                    )
                merged = merge_upsert(
                    old, aligned.select(*old.columns), self.pk_cols, observe=observe
                )
            else:
                merged = observe.on("merged", src)

            version = self._write_version(merged)
            written = self._version_buckets(version)
            buckets = dict(m["buckets"])
            for b in written:
                buckets[b] = version
            self._write_manifest(buckets, merged.schema.json())
            self._gc()
            return merge_counts(observe)
        finally:
            src.unpersist()

    def lookup(self, keys: DataFrame) -> DataFrame:
        """Point lookups served from only the buckets the keys hash to —
        the read-side twin of the differential merge: a K-key probe scans
        min(K, N)/N of the table instead of all of it (plus parquet
        row-group min/max pruning within each bucket file). ``keys``
        carries exactly the pk columns."""
        k = keys.select(*self.pk_cols).distinct()
        touched = [
            r[0] for r in k.select(self._bucket_expr().alias("b")).distinct().collect()
        ]
        m = self._read_manifest() or {"buckets": {}}
        live = [b for b in touched if str(b) in m["buckets"]]
        if not live:
            return self.read().limit(0).join(k, on=self.pk_cols, how="left_semi")
        return self.read(bucket_ids=live).join(
            F.broadcast(k), on=self.pk_cols, how="left_semi"
        )

    def delete(self, keys: DataFrame) -> int:
        """Differential key deletion — the data-removal path (takedowns,
        right-to-be-forgotten, contaminated-document purges) a training
        lake must run routinely. Same cost shape as ``merge``: only the
        buckets containing the keys are rewritten; the rest of the table
        is untouched. Returns the number of rows removed.

        ``keys`` carries exactly the pk columns. Deleting keys that do
        not exist is a no-op (idempotent under replay). A bucket whose
        rows are ALL removed is dropped from the manifest entirely."""
        m = self._read_manifest()
        if m is None:
            raise FileNotFoundError(f"bucketed table at {self.path} is empty")

        k = keys.select(*self.pk_cols).distinct().cache()
        try:
            touched = [
                r[0]
                for r in k.select(self._bucket_expr().alias("b"))
                .distinct()
                .collect()
            ]
            live = set(m["buckets"])
            touched_live = [b for b in touched if str(b) in live]
            if not touched_live:
                return 0

            old = self.read(bucket_ids=touched_live)
            removed = (
                old.select(*self.pk_cols)
                .join(F.broadcast(k), on=self.pk_cols, how="left_semi")
                .count()
            )
            if removed == 0:
                return 0
            kept = old.join(F.broadcast(k), on=self.pk_cols, how="left_anti")

            buckets = dict(m["buckets"])
            version = self._write_version(kept)
            written = set(self._version_buckets(version))
            for b in touched_live:
                if str(b) in written:
                    buckets[str(b)] = version
                else:
                    # every row of this bucket was deleted
                    buckets.pop(str(b), None)
            self._write_manifest(buckets)
            self._gc()
            return removed
        finally:
            k.unpersist()

    def fragmentation(self) -> dict:
        """Layout health probe: how scattered is the table across version
        dirs, and how many files does a full read open? Per-bucket file
        count stays flat under trickle merges (each merge rewrites whole
        buckets, ``repartition(BUCKET_COL)`` emits one file per bucket) —
        what grows is the number of distinct VERSION DIRS referenced,
        bounded by min(#buckets, retention)."""
        m = self._read_manifest() or {"buckets": {}}
        paths = self._bucket_paths(manifest=m)
        n_files = 0
        for p in paths:
            if os.path.isdir(p):
                n_files += sum(
                    1 for f in os.listdir(p) if f.endswith(".parquet")
                )
        return {
            "n_buckets_live": len(m["buckets"]),
            "n_version_dirs": len(set(m["buckets"].values())),
            "n_data_files": n_files,
        }

    def compact(self) -> dict:
        """Collapse the table into ONE fresh version dir (same pointer-flip
        commit as a merge — readers keep their version, a crash leaves the
        table untouched). Run after long trickle-merge sequences: it
        resets the referenced-version-dir count to 1, drops the
        mergeSchema footer spread from additive evolutions by physically
        materializing the unified schema, and lets GC release every older
        dir once history rotates. Returns before/after fragmentation."""
        before = self.fragmentation()
        df = self.read()
        version = self._write_version(df)
        written = self._version_buckets(version)
        self._write_manifest({b: version for b in written}, df.schema.json())
        self._gc()
        return {"before": before, "after": self.fragmentation()}

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------

    def _version_buckets(self, version: str) -> list[str]:
        vdir = os.path.join(self.path, version)
        return [
            d.split("=", 1)[1]
            for d in os.listdir(vdir)
            if d.startswith(f"{BUCKET_COL}=")
        ]

    def _gc(self) -> None:
        """Drop version dirs nothing references, keeping the
        ``keep_versions`` newest regardless (in-flight reader grace).
        "Referenced" spans the CURRENT manifest plus every retained
        history manifest, so time-travel reads never dangle; history
        manifests beyond ``keep_history`` are pruned first, which is what
        actually releases old version dirs."""
        m = self._read_manifest()
        if m is None:
            return
        # prune history beyond the retention window (current stays)
        hdir = os.path.join(self.path, HISTORY_DIR)
        hist = self._history_manifests()
        for vid in sorted(hist)[: -self.keep_history]:
            try:
                os.remove(os.path.join(hdir, f"m_{vid:08d}.json"))
            except OSError:
                pass
            hist.pop(vid, None)
        referenced = set(m["buckets"].values())
        for hm in hist.values():
            referenced.update(hm.get("buckets", {}).values())
        versions = sorted(
            d
            for d in os.listdir(self.path)
            if d.startswith(VERSION_PREFIX)
            and os.path.isdir(os.path.join(self.path, d))
        )
        for v in versions[: -self.keep_versions] if len(versions) > self.keep_versions else []:
            if v not in referenced:
                shutil.rmtree(os.path.join(self.path, v), ignore_errors=True)
