"""Outside-in layer spans and the per-op Spark engine harvest for the
traced run.

``Tracer.install`` wraps each layer's public function at the name its
caller looks it up (a module global such as ``pipeline.read_any``, or a
class attribute such as ``MetadataStore.write_statistics``). A span is
(id, name, parent, op, start, end). Every span sets its own Spark job
group on entry and restores its parent's on exit, so the status tracker
attributes each job to the innermost open span: a span's ``spark_jobs``
are the jobs it ran itself, not its children's.

A lazy function's span (``cast_and_split``, ``merge_upsert``,
``dedup_last_wins`` and most curation operators) measures plan building
only; the work it describes runs in whichever eager span executes it.
"""

from __future__ import annotations

import functools
import os
import time
from importlib import import_module

#: span name -> (module, attribute path) of the name the caller looks up
LAYER_SPANS: dict[str, tuple[str, str]] = {
    "plans.process_directory": ("nspc_etl_basic_spark.plans.batch", "process_directory"),
    "plans.process_file": ("nspc_etl_basic_spark.plans.batch", "process_file"),
    "plans.run_curation": ("nspc_etl_basic_spark.plans.curation", "run_curation"),
    "sources.read_any": ("nspc_etl_basic_spark.plans.pipeline", "read_any"),
    "operators.infer_schema": ("nspc_etl_basic_spark.plans.pipeline", "infer_schema"),
    "operators.cast_and_split": ("nspc_etl_basic_spark.plans.pipeline", "cast_and_split"),
    "operators.dedup_last_wins": ("nspc_etl_basic_spark.plans.pipeline", "dedup_last_wins"),
    "operators.merge_counts": ("nspc_etl_basic_spark.plans.pipeline", "merge_counts"),
    "operators.merge_upsert": ("nspc_etl_basic_spark.plans.pipeline", "merge_upsert"),
    "operators.quality_filter": ("nspc_etl_basic_spark.operators.text", "quality_filter"),
    "operators.minhash_signatures": ("nspc_etl_basic_spark.operators.dedup", "minhash_signatures"),
    "operators.lsh_candidate_pairs": ("nspc_etl_basic_spark.operators.dedup", "lsh_candidate_pairs"),
    "operators.neardup_components": ("nspc_etl_basic_spark.operators.dedup", "neardup_components"),
    "operators.keep_best_representative": (
        "nspc_etl_basic_spark.operators.dedup", "keep_best_representative",
    ),
    "operators.assign_split": ("nspc_etl_basic_spark.operators.sampling", "assign_split"),
    "operators.pack_greedy": ("nspc_etl_basic_spark.operators.packing", "pack_greedy"),
    "operators.pack_report": ("nspc_etl_basic_spark.operators.packing", "pack_report"),
    "sinks.warehouse.write": ("nspc_etl_basic_spark.sinks.writer", "ParquetWarehouse.write"),
    "sinks.warehouse.overwrite_snapshot": (
        "nspc_etl_basic_spark.sinks.writer", "ParquetWarehouse.overwrite_snapshot",
    ),
    "sinks.metadata.write_statistics": (
        "nspc_etl_basic_spark.sinks.metadata", "MetadataStore.write_statistics",
    ),
    "sinks.metadata.write_invalid_rows": (
        "nspc_etl_basic_spark.sinks.metadata", "MetadataStore.write_invalid_rows",
    ),
    "sinks.metadata.append_batch_event": (
        "nspc_etl_basic_spark.sinks.metadata", "MetadataStore.append_batch_event",
    ),
    "sinks.metadata.completed_files": (
        "nspc_etl_basic_spark.sinks.metadata", "MetadataStore.completed_files",
    ),
}
#: the bench's own output stage (the ``noop`` writes of curation results)
MATERIALIZE = "bench.materialize"
SPAN_NAMES = (*LAYER_SPANS, MATERIALIZE)

#: harvest key -> (per-op metric name, unit)
ENGINE_METRICS = {
    "jobs": ("spark.jobs_per_op", "count"),
    "stages": ("spark.stages_per_op", "count"),
    "tasks": ("spark.tasks_per_op", "count"),
    "task_run_s": ("spark.task_run_s_per_op", "s"),
    "task_cpu_s": ("spark.task_cpu_s_per_op", "s"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes_per_op", "B"),
    "spill_bytes": ("spark.spill_bytes_per_op", "B"),
    "driver_gap_s": ("spark.driver_gap_s_per_op", "s"),
    "gc_s": ("jvm.gc_s_per_op", "s"),
    "cpu_jvm_s": ("cpu.jvm_s_per_op", "s"),
    "cpu_python_s": ("cpu.python_s_per_op", "s"),
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, with its unit."""
    units = {}
    for name in SPAN_NAMES:
        units[f"{name}.self_s"] = "s"
        units[f"{name}.spark_jobs"] = "count"
    units.update(dict(ENGINE_METRICS.values()))
    units["trace.overhead_ratio"] = "ratio"
    units["stored_bytes_per_input_byte"] = "ratio"
    units["peak_rss_mb"] = "MB"
    return units


def _resolve(module: str, path: str):
    owner = import_module(module)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, attr


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.round = ""
        self._stack: list[dict] = []
        self._op = ""
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans
    def _enter(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op or self.round, "start": time.perf_counter(),
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(f"span{span['id']}", name)
        return span

    def _exit(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(f"span{parent['id']}", parent["name"])
        else:
            self.sc.setJobGroup(f"round-{self.round}", "bench round")

    def run(self, name: str, fn, *args, **kwargs):
        span = self._enter(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._exit(span)

    def _wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            prev_op = self._op
            if name == "plans.process_file":
                # one loaded file is one op
                self._op = f"{self.round}/{os.path.basename(args[1])}"
            try:
                return self.run(name, fn, *args, **kwargs)
            finally:
                self._op = prev_op

        return traced

    def install(self) -> None:
        for name, (module, path) in LAYER_SPANS.items():
            owner, attr = _resolve(module, path)
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrapper(name, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def start_round(self, label: str) -> int:
        """Open a round; returns the index of its first span."""
        self.round = label
        self.sc.setJobGroup(f"round-{label}", "bench round")
        return len(self.spans)

    # ---- harvest (after the round, outside its timing)
    def harvest(self, first_span: int, t0_epoch_ms: float, t1_epoch_ms: float) -> dict:
        """Attribute the round's Spark jobs to its spans and read their
        stage metrics from the status store. Returns the round's engine
        totals; each span gains ``jobs``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids: list[int] = []
        for span in self.spans[first_span:]:
            ids = list(tracker.getJobIdsForGroup(f"span{span['id']}"))
            span["jobs"] = len(ids)
            job_ids += ids
        job_ids += list(tracker.getJobIdsForGroup(f"round-{self.round}"))
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
             "shuffle_write_bytes", "spill_bytes"), 0,
        )
        tot["jobs"] = len(job_ids)
        intervals = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["task_run_s"] += st.executorRunTime() / 1e3
            tot["task_cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        tot["driver_gap_s"] = _uncovered_ms(t0_epoch_ms, t1_epoch_ms, intervals) / 1e3
        return tot

    def gc_seconds(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3


def _uncovered_ms(t0: float, t1: float, intervals: list[tuple[int, int]]) -> float:
    """Length of [t0, t1] not covered by any interval."""
    covered, cursor = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, t1)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (t1 - t0) - covered)


def span_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: summed self seconds (duration minus the direct
    children's durations) and summed own Spark jobs."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out = {name: {"self_s": 0.0, "spark_jobs": 0} for name in SPAN_NAMES}
    for s in spans:
        agg = out[s["name"]]
        agg["self_s"] += s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        agg["spark_jobs"] += s.get("jobs", 0)
    return out
