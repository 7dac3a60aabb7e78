"""Table sinks + table-mode semantics (SURVEY.md §2 H1-H7).

Primary store is a Parquet warehouse directory (one subdir per table) —
matches the driver's parquet testdata and the DuckDB oracle. The JDBC
writer (``jdbc_write``, H1 DDL parity for SQL Server targets) is wrapped
by ``sinks/jdbc_merge.JdbcTable``.

Mode mapping (reference ``handle_existing_table``, loader.py:895-932):
  drop_recreate -> versioned snapshot commit | append -> append |
  fail -> error | upsert -> snapshot rewrite via operators.merge.

One keyed-upsert owner per table layout, one surface — ``schema()``,
``merge(source) -> MergeCounts``, ``write(df, mode)``: ``SnapshotTable``
(``ParquetWarehouse.table``), ``BucketedTable`` and ``JdbcTable``. The
loader and the streaming sinks merge only through it.

Commit protocol (object-store safe)
-----------------------------------
The reference's transaction rollback must become "never expose a
half-written snapshot" (SURVEY.md §7.2 item 1). Directory renames are NOT
atomic (or even available) on S3/GCS, so versioned tables use a
manifest-pointer commit instead. Two layouts share it — this module's
snapshot tables and ``BucketedTable`` (sinks/bucketed_merge.py) — and
differ only in the manifest's name and what it points at:

    wh/<table>/
        _current            snapshot manifest: {"version": "v_...",
                            "table": ..., "schema": <StructType json>,
                            "version_id": k, "committed_at": ...}
        _current_buckets    bucketed manifest: {"buckets": {"17": "v_..."}}
        _manifest_history/  m_<id>.json, a copy of each retained commit
        v_<time_ns>_<hex8>/ immutable data dirs, one per commit

A snapshot manifest's ``schema`` is the committed frame's schema with
every field nullable, exactly what Spark infers from the files it wrote.
``ParquetWarehouse.read`` hands it to ``spark.read.schema``, so a read
plans without a parquet-footer job; a manifest written before the field
existed reads through inference. An append adds files to the current
version dir under the same manifest, so it must match that schema.

A commit (1) writes the new data into a FRESH version dir — readers cannot
see it, nothing references it yet; (2) writes the manifest to a temp file,
``fsync``s it and ``os.replace``s it onto the manifest name
(``commit_manifest``). That replace is the commit point: atomic on POSIX,
a single-object PUT (atomic read-after-write) on S3/GCS. A crash anywhere
before it leaves an orphan version dir and the previous state intact.
The manifest is copied into the history after the flip, so a crash there
loses one time-travel entry, never current-state correctness.

One reclaim rule (``reclaim``) serves commit-time GC on both layouts and
``ParquetWarehouse.vacuum``: prune the history beyond ``keep_history``;
protect every version dir the current or a retained manifest references;
never touch a dir newer than the commit just made (it can be an
in-flight commit); keep the ``keep_versions`` newest dirs at or below it,
so a reader mid-plan on the previous version keeps its files; delete the
rest.

Single writer per table is assumed — the same model as the reference
(one loader process owns a target table); concurrent READERS are the
party the protocol protects.

Append-only tables (the EtlJob* metadata sinks) keep the plain flat-dir
layout: appends add new immutable files, which is already object-store
safe, and last-write-wins readers tolerate in-flight files. ``read()`` /
``exists()`` resolve the manifest when present and fall back to the plain
path, so legacy/unversioned tables keep working.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from nspc_etl_basic_spark.operators.merge import (
    MergeCounts,
    MergeObservation,
    merge_counts,
    merge_upsert,
)

MANIFEST_NAME = "_current"
#: BucketedTable's manifest name (sinks/bucketed_merge.py)
BUCKETED_MANIFEST = "_current_buckets"
HISTORY_DIR = "_manifest_history"
VERSION_PREFIX = "v_"

_LAYOUTS = {
    MANIFEST_NAME: "ParquetWarehouse snapshot table",
    BUCKETED_MANIFEST: "BucketedTable",
}


class TableExistsError(RuntimeError):
    pass


def new_version_name() -> str:
    """``v_<time_ns>_<hex8>``: names sort by commit wall-clock."""
    return f"{VERSION_PREFIX}{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"


def check_layout(table_dir: str, manifest_name: str) -> None:
    """Refuse a table dir that holds the OTHER layout's manifest: the
    layouts share the ``v_*`` namespace, so running one over the other
    ignores the existing rows, shadows them on the next commit, and each
    layout's reclaim deletes version dirs the other's manifest still
    references — silent data loss both ways."""
    for other, kind in _LAYOUTS.items():
        if other != manifest_name and os.path.exists(
            os.path.join(table_dir, other)
        ):
            raise ValueError(
                f"{table_dir} is a {kind} (has {other}); refusing to run "
                f"the {_LAYOUTS[manifest_name]} layout over it. Point it at "
                "a fresh directory, or migrate the table into one "
                "(database.layout picks a pipeline table's layout)."
            )


def read_manifest(table_dir: str, manifest_name: str) -> dict | None:
    """The current manifest, or None when absent or unreadable."""
    try:
        with open(os.path.join(table_dir, manifest_name), encoding="utf-8") as fh:
            m = json.load(fh)
    except (OSError, ValueError):
        return None
    return m if isinstance(m, dict) else None


def history(table_dir: str) -> dict[int, dict]:
    """Retained committed manifests, keyed by version_id."""
    hdir = os.path.join(table_dir, HISTORY_DIR)
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


def version_catalog(table_dir: str) -> list[dict]:
    """Time-travel catalog: retained commits, oldest first —
    ``[{"version_id": k, "committed_at": ...}, ...]``."""
    hist = history(table_dir)
    return [
        {"version_id": k, "committed_at": hist[k].get("committed_at")}
        for k in sorted(hist)
    ]


def retained_manifest(table_dir: str, version: int, keep_history: int) -> dict:
    """The manifest of commit ``version``, for a time-travel read."""
    m = history(table_dir).get(int(version))
    if m is None:
        raise FileNotFoundError(
            f"version {version} not retained at {table_dir} "
            f"(keep_history={keep_history}; see versions())"
        )
    return m


def commit_manifest(table_dir: str, manifest_name: str, manifest: dict) -> None:
    """Atomically replace the layout's manifest with ``manifest`` plus a
    ``version_id`` (one more than the larger of the current manifest's
    and the newest retained history id; 0 when there is neither) and
    ``committed_at``, then copy it into the history."""
    prev = read_manifest(table_dir, manifest_name)
    ids = list(history(table_dir))
    if prev and isinstance(prev.get("version_id"), int):
        ids.append(prev["version_id"])
    version_id = max(ids) + 1 if ids else 0
    manifest = {
        **manifest,
        "version_id": version_id,
        "committed_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
    }
    path = os.path.join(table_dir, manifest_name)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)  # the commit point (object store: one PUT)
    hdir = os.path.join(table_dir, HISTORY_DIR)
    os.makedirs(hdir, exist_ok=True)
    with open(
        os.path.join(hdir, f"m_{version_id:08d}.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(manifest, fh)


def _references(manifest_name: str, m: dict) -> set[str]:
    """Version dirs one manifest keeps alive: a snapshot manifest points
    at one version, a bucketed one at a version per bucket."""
    if manifest_name == BUCKETED_MANIFEST:
        return set(m.get("buckets", {}).values())
    return {m.get("version")}


def _nullable(node):
    """A ``StructType.jsonValue()`` with every field, array element and
    map value nullable: how Spark reads back the parquet it wrote."""
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    out = {k: v if k == "metadata" else _nullable(v) for k, v in node.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in out:
            out[k] = True
    return out


def reclaim(
    table_dir: str,
    manifest_name: str,
    upto: str,
    keep_versions: int,
    keep_history: int,
) -> dict:
    """The one reclaim rule (module docstring), run after a successful
    commit and by ``vacuum`` — never part of a commit, so safe to crash
    anywhere in here. ``upto`` is the version dir of the commit just
    made (for ``vacuum``, the current one). Returns ``{"removed_dirs",
    "bytes_reclaimed", "retained_versions"}``."""
    hdir = os.path.join(table_dir, HISTORY_DIR)
    hist = history(table_dir)
    for vid in sorted(hist)[:-keep_history]:
        try:
            os.remove(os.path.join(hdir, f"m_{vid:08d}.json"))
        except OSError:
            pass
        del hist[vid]
    current = read_manifest(table_dir, manifest_name)
    referenced = set().union(
        *(_references(manifest_name, m) for m in [current, *hist.values()] if m)
    )
    candidates = sorted(
        d
        for d in os.listdir(table_dir)
        if d.startswith(VERSION_PREFIX)
        and d <= upto
        and os.path.isdir(os.path.join(table_dir, d))
    )
    removed = reclaimed = 0
    for d in candidates[:-keep_versions]:
        if d in referenced:
            continue
        p = os.path.join(table_dir, d)
        reclaimed += sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dirs, fs in os.walk(p)
            for f in fs
        )
        shutil.rmtree(p, ignore_errors=True)
        removed += 1
    return {
        "removed_dirs": removed,
        "bytes_reclaimed": reclaimed,
        "retained_versions": len(referenced),
    }


class ParquetWarehouse:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keep_versions: int = 2,
        keep_history: int = 2,
    ):
        self.spark = spark
        self.path = path
        #: committed versions retained after each commit (>=1). 2 keeps the
        #: previous snapshot alive for readers that resolved it just before
        #: a pointer flip.
        self.keep_versions = max(1, int(keep_versions))
        #: committed manifests retained for time-travel reads; every
        #: version dir a retained manifest references survives GC. The
        #: default matches keep_versions: unlike BucketedTable (whose
        #: versions hold only touched buckets), EVERY snapshot version
        #: is a full table copy, so deep history here is a deliberate,
        #: storage-priced opt-in.
        self.keep_history = max(1, int(keep_history))
        os.makedirs(path, exist_ok=True)

    def table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    # ------------------------------------------------------------------
    # manifest resolution
    # ------------------------------------------------------------------

    def _current(self, name: str) -> tuple[str, dict | None]:
        """(directory Spark should scan, its manifest): the current
        version for versioned tables, the table dir itself and no
        manifest for plain (append/legacy) tables."""
        table_dir = self.table_path(name)
        m = read_manifest(table_dir, MANIFEST_NAME)
        v = m.get("version") if m else None
        if isinstance(v, str) and v.startswith(VERSION_PREFIX):
            return os.path.join(table_dir, v), m
        return table_dir, None

    def current_version(self, name: str) -> str | None:
        """Version dir name the manifest points at, or None (plain table)."""
        _path, m = self._current(name)
        return m["version"] if m else None

    def data_path(self, name: str) -> str:
        """Directory Spark should scan: the current version for versioned
        tables, the table dir itself for plain (append/legacy) tables."""
        return self._current(name)[0]

    @staticmethod
    def _has_data(p: str) -> bool:
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def exists(self, name: str) -> bool:
        return self._has_data(self.data_path(name))

    def versions(self, name: str) -> list[dict]:
        """Time-travel catalog: retained commits, oldest first."""
        return version_catalog(self.table_path(name))

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Current snapshot, or the table as of commit ``version`` —
        same scan cost either way (a historical read is just a different
        version dir; dirs referenced by retained history survive GC).
        A manifest's recorded schema pins the scan (module docstring)."""
        if version is None:
            path, m = self._current(name)
        else:
            table_dir = self.table_path(name)
            m = retained_manifest(table_dir, version, self.keep_history)
            path = os.path.join(table_dir, m["version"])
        reader = self.spark.read
        if m and m.get("schema"):
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(path)

    # ------------------------------------------------------------------
    # commits
    # ------------------------------------------------------------------

    @staticmethod
    def _strip_engine_cols(df: DataFrame) -> DataFrame:
        drop_engine_cols = [c for c in df.columns if c.startswith("__")]
        return df.drop(*drop_engine_cols) if drop_engine_cols else df

    def _commit_version(self, df: DataFrame, name: str) -> str:
        """Write ``df`` as a fresh immutable version dir, flip the
        ``_current`` pointer to it and reclaim (module docstring).
        Returns the committed version name.

        ``df`` may read from the table's CURRENT files (the upsert merge
        does): the new version dir is disjoint from them, so the write
        materializes the plan before anything old is touched."""
        table_dir = self.table_path(name)
        check_layout(table_dir, MANIFEST_NAME)
        os.makedirs(table_dir, exist_ok=True)
        version = new_version_name()
        df.write.mode("error").parquet(os.path.join(table_dir, version))
        commit_manifest(
            table_dir,
            MANIFEST_NAME,
            {
                "version": version,
                "table": name,
                "schema": _nullable(df.schema.jsonValue()),
            },
        )
        reclaim(
            table_dir, MANIFEST_NAME, version, self.keep_versions, self.keep_history
        )
        # legacy flat files from the pre-versioned layout are unreferenced
        # once a manifest exists
        for f in os.listdir(table_dir):
            if f.endswith(".parquet") or f in ("_SUCCESS",) or f.startswith("."):
                try:
                    os.remove(os.path.join(table_dir, f))
                except OSError:
                    pass
        return version

    def _append(self, df: DataFrame, name: str) -> None:
        """New immutable files, no commit: append-only tables stay plain
        flat dirs (already object-store safe); a VERSIONED table gets the
        files in its current version dir, so ``df`` must have the
        columns and types its manifest records — a file that differs
        would be misread by the pinned scan (``append_evolve`` changes
        a schema)."""
        table_dir = self.table_path(name)
        check_layout(table_dir, MANIFEST_NAME)
        path, m = self._current(name)
        recorded = m.get("schema") if m else None
        if recorded:
            want = StructType.fromJson(recorded)
            got = StructType.fromJson(_nullable(df.schema.jsonValue()))
            if {f.name: f.dataType for f in got.fields} != {
                f.name: f.dataType for f in want.fields
            }:
                raise SchemaEvolutionError(
                    f"append to '{name}' does not match its schema: table "
                    f"{want.simpleString()}, batch {got.simpleString()} "
                    "(append_evolve evolves a table's schema)"
                )
        df.write.mode("append").parquet(path)

    # ------------------------------------------------------------------
    # mode dispatch
    # ------------------------------------------------------------------

    def write(self, df: DataFrame, name: str, mode: str = "drop_recreate") -> None:
        """H2 dispatcher for the non-merge modes."""
        df = self._strip_engine_cols(df)
        if mode == "drop_recreate":
            self._commit_version(df, name)
        elif mode == "append":
            self._append(df, name)
        elif mode == "fail":
            if self.exists(name):
                raise TableExistsError(f"table '{name}' exists and table_mode is 'fail'")
            self._commit_version(df, name)
        else:
            raise ValueError(f"unknown table mode: {mode}")

    def overwrite_snapshot(self, df: DataFrame, name: str) -> None:
        """All-or-nothing snapshot replacement for the upsert path — the
        manifest-pointer commit (see module docstring)."""
        self._commit_version(self._strip_engine_cols(df), name)

    def append_evolve(self, df: DataFrame, name: str) -> dict:
        """Append with schema evolution: new columns appear (existing
        rows read them as null), missing columns null-fill, and types
        widen per ``evolve_schema``'s lossless lattice; narrowing or
        incompatible changes raise instead of corrupting.

        Mechanics: when the evolved schema equals the current one, this
        is a plain append (new immutable files into the current version
        dir — no rewrite). When the schema actually changes, the table
        is rewritten once through the normal manifest commit (old rows
        cast + null-extended), keeping every data file self-consistent
        so the read path stays mergeSchema-free. That is the honest
        snapshot-store trade: metadata-only evolution needs a
        column-mapping table format (Delta/Iceberg) — the upgrade path
        — but schema changes are RARE events; paying one rewrite per
        change keeps scans simple forever after. Returns a report dict
        {added, widened, rewrite}.
        """
        df = self._strip_engine_cols(df)
        if not self.exists(name):
            self._commit_version(df, name)
            return {
                "added": [f.name for f in df.schema.fields],
                "widened": [],
                "rewrite": False,
            }
        cur = self.read(name)
        target, report = evolve_schema(cur.schema, df.schema)
        batch = _conform(df, target)
        if [
            (f.name, f.dataType) for f in cur.schema.fields
        ] == [(f.name, f.dataType) for f in target.fields]:
            self._append(batch, name)
            report["rewrite"] = False
        else:
            self._commit_version(
                _conform(cur, target).unionByName(batch), name
            )
            report["rewrite"] = True
        return report

    def compact(self, name: str, target_file_mb: int = 256) -> str | None:
        """Small-file compaction: rewrite the current snapshot into
        ``ceil(total_bytes / target)`` files and commit it as a fresh
        version (same manifest flip — concurrent readers keep their
        version's files, a crash mid-compaction leaves the table
        untouched). Uses ``coalesce`` — file-count reduction needs no
        shuffle. Continuous per-file ingest at 100 TB rates produces
        thousands of small files per table; compaction restores scan
        efficiency (parquet footer overhead, task-per-file scheduling)
        without pausing readers. No-op (returns None) when the table is
        already at or below the target file count."""
        data = self.data_path(name)
        files = [
            os.path.join(dp, f)
            for dp, _dirs, fs in os.walk(data)
            for f in fs
            if f.endswith(".parquet")
        ]
        if not files:
            return None
        total = sum(os.path.getsize(f) for f in files)
        target = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        if len(files) <= target:
            return None
        # carry the stats index across compaction: a pruned-read user
        # shouldn't silently lose file skipping because maintenance ran
        from .stats_index import load_stats_index

        prev_index = load_stats_index(data)
        df = self.read(name).coalesce(int(target))
        version = self._commit_version(df, name)
        if prev_index and prev_index.get("columns"):
            self.analyze(name, prev_index["columns"])
        return version

    def analyze(self, name: str, cols: list[str]) -> dict:
        """Build the file-level min/max stats index for the CURRENT
        version (sinks/stats_index.py) — one column-pruned pass; the
        sidecar lives inside the version dir, so it is immutable with
        the data, GC'd with it, and consistent under time travel."""
        from .stats_index import build_stats_index

        return build_stats_index(self.spark, self.data_path(name), cols)

    def read_pruned(self, name: str, col: str, lo=None, hi=None) -> DataFrame:
        """Range read ``lo <= col <= hi`` that drops non-matching files
        on the DRIVER before the scan is planned (Delta/Iceberg-style
        manifest pruning). Correct with or without an index — the
        predicate is re-applied to whatever is read."""
        from .stats_index import pruned_scan

        return pruned_scan(self.spark, self.data_path(name), col, lo, hi)

    def vacuum(self, name: str, retain_versions: int = 1) -> dict:
        """Explicit storage reclaim, independent of any commit: shrink
        the retained time-travel history to the newest
        ``retain_versions`` commits and delete every version dir that
        neither the current nor a retained manifest references, up to
        the current version. Returns ``{"removed_dirs",
        "bytes_reclaimed", "retained_versions"}``.

        Commit-time GC already bounds storage at ``keep_versions``; this
        is the operator a storage review runs — at 100 TB a snapshot
        table's history multiplies the table's footprint per retained
        version, and reclaim must be an explicit, auditable action
        (Delta VACUUM semantics), not a side effect of the next write.
        It is the same ``reclaim`` rule commit-time GC runs, with
        ``keep_versions=1``: a dir newer than the current version (an
        in-flight commit, or the orphan of a crash before its flip) is
        never touched — the next commit's reclaim takes such an orphan.
        In-flight readers of a deleted version keep their open files
        (POSIX), but new time-travel reads of vacuumed versions fail with
        the retention message.
        """
        if retain_versions < 1:
            raise ValueError(
                f"retain_versions must be >= 1, got {retain_versions}"
            )
        table_dir = self.table_path(name)
        check_layout(table_dir, MANIFEST_NAME)
        current = self.current_version(name)
        if current is None:
            return {
                "removed_dirs": 0,
                "bytes_reclaimed": 0,
                "retained_versions": 0,
            }
        return reclaim(table_dir, MANIFEST_NAME, current, 1, retain_versions)

    def drop(self, name: str) -> None:
        shutil.rmtree(self.table_path(name), ignore_errors=True)

    def table(self, name: str, pk_cols: list[str]) -> "SnapshotTable":
        """The keyed-upsert owner of snapshot table ``name``."""
        return SnapshotTable(self, name, pk_cols)


class SnapshotTable:
    """One snapshot table's keyed-upsert owner (module docstring). It
    reads the table at most once between its commits: schema authority,
    a caller's change feed and the merge share that read, and each
    commit through the handle drops it."""

    def __init__(self, warehouse: ParquetWarehouse, name: str, pk_cols: list[str]):
        self.wh = warehouse
        self.name = name
        self.pk_cols = list(pk_cols)
        self._current: DataFrame | None = None

    def read(self) -> DataFrame | None:
        """The current snapshot, or None when the table does not exist."""
        if self._current is None and self.wh.exists(self.name):
            self._current = self.wh.read(self.name)
        return self._current

    def schema(self) -> StructType | None:
        current = self.read()
        return None if current is None else current.schema

    def merge(self, source: DataFrame) -> MergeCounts:
        """D1 + D2: upsert the key-unique ``source`` and commit; the
        insert/update split is observed on the commit's write."""
        target = self.read()
        observe = MergeObservation()
        if target is None:
            self.write(observe.on("merged", source), "drop_recreate")
        else:
            merged = merge_upsert(target, source, self.pk_cols, observe=observe)
            self.wh.overwrite_snapshot(merged, self.name)
            self._current = None
        return merge_counts(observe)

    def write(self, df: DataFrame, mode: str) -> None:
        self.wh.write(df, self.name, mode=mode)
        self._current = None


#: H1 (SQL Server spelling) -> Spark-parseable DDL. Spark validates
#: ``createTableColumnTypes`` with its OWN SQL parser (CatalystSqlParser),
#: so NVARCHAR/DATETIME2 must be expressed as the equivalent Spark types;
#: the target database's dialect then renders them (e.g. VARCHAR(50) ->
#: NVARCHAR(50) under the SQL Server dialect's string handling).
_H1_TYPE_RE = re.compile(r"^NVARCHAR\((\d+)\)$|^NVARCHAR\(MAX\)$", re.IGNORECASE)


class SchemaEvolutionError(ValueError):
    """Raised when an append's schema cannot evolve losslessly into the
    table's (narrowing, or no join in the widening lattice)."""


#: integer widening order; a join picks the wider member
_INT_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _join_type(a, b):
    """Least lossless common type of two Spark types, or raise.

    Lattice (everything else is refused, loudly):
      byte < short < integer < long          (integer widening)
      float < double                          (binary widening)
      {byte, short, integer} < double         (exact in 53-bit mantissa;
                                               long -> double is LOSSY
                                               and therefore refused)
      decimal(p1,s1) v decimal(p2,s2) = decimal(max int digits + max
      scale) when it fits in 38
      null (all-null column) joins with anything
    """
    from pyspark.sql import types as T

    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    ra, rb = _INT_RANK.get(a.typeName()), _INT_RANK.get(b.typeName())
    if ra is not None and rb is not None:
        return a if ra >= rb else b
    flt = (T.FloatType, T.DoubleType)
    if isinstance(a, flt) and isinstance(b, flt):
        return T.DoubleType()
    for x, y in ((a, b), (b, a)):
        rx = _INT_RANK.get(x.typeName())
        if rx is not None and rx <= 2 and isinstance(y, flt):
            return T.DoubleType()
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        scale = max(a.scale, b.scale)
        intd = max(a.precision - a.scale, b.precision - b.scale)
        if intd + scale <= 38:
            return T.DecimalType(intd + scale, scale)
    raise SchemaEvolutionError(
        f"cannot evolve {a.simpleString()} <-> {b.simpleString()}: "
        "no lossless join (narrowing and lossy widenings are refused)"
    )


def evolve_schema(current, incoming):
    """Resolve the evolved table schema for an append: current columns
    keep their position (types joined with the incoming batch's),
    incoming-only columns append at the end as nullable. Returns
    ``(StructType, report)`` with report = {added, widened, rewrite}."""
    from pyspark.sql import types as T

    inc = {f.name: f for f in incoming.fields}
    fields, widened = [], []
    for f in current.fields:
        b = inc.get(f.name)
        if b is None:
            fields.append(f)
            continue
        joined = _join_type(f.dataType, b.dataType)
        if joined != f.dataType:
            widened.append(
                (f.name, f.dataType.simpleString(), joined.simpleString())
            )
        fields.append(
            T.StructField(f.name, joined, f.nullable or b.nullable)
        )
    have = {f.name for f in current.fields}
    added = [f.name for f in incoming.fields if f.name not in have]
    for f in incoming.fields:
        if f.name not in have:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields), {
        "added": added,
        "widened": widened,
        "rewrite": False,
    }


def _conform(df: DataFrame, target) -> DataFrame:
    """Project ``df`` onto ``target``: cast present columns, null-fill
    absent ones — column order exactly ``target``'s."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    return df.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in target.fields
        ]
    )


def h1_to_spark_ddl(sql_type: str) -> str:
    """Translate one inferred H1 DDL type to Spark-parser-safe DDL."""
    t = sql_type.strip().upper()
    m = _H1_TYPE_RE.match(t)
    if m:
        return f"VARCHAR({m.group(1)})" if m.group(1) else "STRING"
    if t == "DATETIME2":
        return "TIMESTAMP"
    return t  # INT / DECIMAL(18,4) are already valid Spark DDL


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    mode: str,
    sql_types: dict[str, str] | None = None,
    options: dict | None = None,
    batch_size: int = 1000,
) -> None:
    """Optional JDBC sink with reference DDL parity: the inferred NVARCHAR
    length buckets / DATETIME2 / DECIMAL(18,4) types (H1) are forwarded via
    ``createTableColumnTypes`` so the created table matches the reference's
    generated DDL (loader.py:868-893) — translated via :func:`h1_to_spark_ddl`
    because Spark parses the option with its own SQL parser. ``batchsize``
    mirrors ``loader.batch_size`` (src/loader_config.yaml:14)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", str(batch_size))
    if sql_types:
        writer = writer.option(
            "createTableColumnTypes",
            ", ".join(f"{c} {h1_to_spark_ddl(t)}" for c, t in sql_types.items()),
        )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    spark_mode = {"drop_recreate": "overwrite", "append": "append", "fail": "error"}[mode]
    writer.mode(spark_mode).save()
