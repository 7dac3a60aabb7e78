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

Commit protocol and retention: the manifest-pointer commit and the one
reclaim rule of ``sinks/writer.py``. What differs is the manifest — a
per-bucket map instead of a single version pointer:

    <table>/
        _current_buckets      {"n_buckets": N, "buckets": {"17": "v_a", ...}}
        v_<ts>_<rand>/        immutable version dirs, each holding
            b=17/...parquet   only the buckets written by that commit

A merge writes the merged TOUCHED buckets into a fresh version dir, then
commits a manifest with those bucket pointers flipped to it. A version
dir is garbage once no retained manifest points a bucket into it.

Read path: one ``spark.read.parquet(path_17, path_23, ...)`` over the
per-bucket current dirs — a plain multi-path parquet scan, fully
parallel, no manifest logic inside Spark.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import StructType

from nspc_etl_basic_spark.materialize import hold, scope
from nspc_etl_basic_spark.operators.merge import (
    MergeCounts,
    MergeObservation,
    merge_counts,
    merge_upsert,
)
from nspc_etl_basic_spark.sinks.writer import (
    BUCKETED_MANIFEST as MANIFEST,
    check_layout,
    commit_manifest,
    new_version_name,
    read_manifest,
    reclaim,
    retained_manifest,
    version_catalog,
)

BUCKET_COL = "__bucket"


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
        check_layout(path, MANIFEST)
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------------
    # manifest
    # ------------------------------------------------------------------

    def _read_manifest(self) -> dict | None:
        m = read_manifest(self.path, MANIFEST)
        return m if m and isinstance(m.get("buckets"), dict) else None

    def versions(self) -> list[dict]:
        """Time-travel catalog: retained commits, oldest first —
        ``[{"version_id": k, "committed_at": ...}, ...]``."""
        return version_catalog(self.path)

    def exists(self) -> bool:
        return self._read_manifest() is not None

    def schema(self) -> StructType | None:
        """The table's schema, or None when it does not exist."""
        return self.read().schema if self.exists() else None

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
        version = new_version_name()
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
        self._commit(df, {})

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
            m = retained_manifest(self.path, version, self.keep_history)
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

        with scope():
            src = hold(source)
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

            self._commit(merged, m["buckets"])
            return merge_counts(observe)

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

        with scope():
            k = hold(keys.select(*self.pk_cols).distinct())
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

            self._commit(kept, m["buckets"], touched_live, m.get("schema"))
            return removed

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
        self._commit(self.read(), {})
        return {"before": before, "after": self.fragmentation()}

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------

    def _commit(
        self,
        df: DataFrame,
        buckets: dict[str, str],
        rewritten=(),
        schema_json: str | None = None,
    ) -> None:
        """The one bucketed commit step: write ``df`` as a fresh version,
        point every bucket it holds at it (dropping the ``rewritten``
        buckets it no longer holds — all their rows were deleted), commit
        the manifest and reclaim (sinks/writer.py)."""
        version = self._write_version(df)
        dropped = {str(b) for b in rewritten}
        pointers = {b: v for b, v in buckets.items() if b not in dropped}
        for d in os.listdir(os.path.join(self.path, version)):
            if d.startswith(f"{BUCKET_COL}="):
                pointers[d.split("=", 1)[1]] = version
        commit_manifest(
            self.path,
            MANIFEST,
            {
                "n_buckets": self.n_buckets,
                "pk_cols": self.pk_cols,
                "buckets": pointers,
                "schema": schema_json or df.schema.json(),
            },
        )
        reclaim(self.path, MANIFEST, version, self.keep_versions, self.keep_history)
