"""Loader-and-curation benchmark for the engine's public entry points.

    python3 perfbench/run.py --workload load_small_upsert --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, ``local[N]`` with N = usable cores):

* ``load_small_upsert`` -- batches of three small files (one each of
  CSV, PSV and JSON; 300 to 1,800 rows; in-file duplicate keys; one file
  per batch with invalid rows) upserted in tolerant mode by
  ``plans.batch.process_directory`` into a table that set-up seeds to a
  fixed key space. One op is one ``process_file`` call.
* ``curate_corpus`` -- ``plans.curation.run_curation`` passes (quality ->
  MinHash/LSH -> components -> keep-best -> split -> pack) over a seeded
  corpus with injected near-duplicates; ``split``, ``assignment`` and
  ``pack_report`` go through the ``noop`` sink. One op is one pass.

A run starts the program's own session (``session.get_spark``), sets up
once in fresh directories (inputs + seeded tables), runs the untimed
warm-up rounds, then a fixed minimum of timed rounds, continued until
``--seconds`` have passed, then the output checks. Each end-to-end
metric is a median over rounds (the latency one over ops). ``--trace 1``
replaces the timed phase with a fixed number of traced rounds, each
between two untraced ones: the traced rounds give the per-layer numbers,
the untraced ones the baseline of the tracing overhead. In a traced
loader run every batch, traced or not, carries one more file, for a
table that does not exist yet, so the insert path (schema inference,
first write) is traced too. The last stdout line is the result; the line
before it, and ``perfbench/out/<workload>-seed<seed>-trace<t>.json``,
hold the run's telemetry: steal, per-op samples and the output checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"

#: loader: key space per table, rows of each file of one batch, warm-up,
#: minimum timed and traced batches; curation: corpus size, warm-up,
#: minimum timed and traced passes. Warm-up sizes come from
#: warmup_curve.json; the timed rounds give each metric a median over
#: rounds, so one round in a stolen CPU window moves it little.
SIZES = {
    "full": {
        "keys": 2000, "file_rows": (300, 900, 1800),
        "load_warmup": 1, "load_timed": 3, "load_traced": 1,
        "docs": 2000, "cur_warmup": 1, "cur_timed": 3, "cur_traced": 1,
    },
    "tiny": {
        "keys": 60, "file_rows": (20, 35, 50),
        "load_warmup": 0, "load_timed": 1, "load_traced": 1,
        "docs": 200, "cur_warmup": 0, "cur_timed": 1, "cur_traced": 1,
    },
}

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "op_latency_p50_s": "s",
    "cpu_s_per_op": "s",
}


def bootstrap() -> None:
    """Make the checkout's engine importable here and in Spark's Python
    workers. Exits non-zero when the engine is not next to the bench."""
    if not (ROOT / "nspc_etl_basic_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no engine package (nspc_etl_basic_spark/) in {ROOT}")
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def open_session(work: Path):
    """The program's own session on ``local[N]``, with every scratch file
    Python, Spark and the JVM write kept under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # a fixed set of JIT compiler threads: one that exits would take its
    # CPU time out of the per-thread JIT sum but not out of the process's
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    from nspc_etl_basic_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def close_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the bench
            proc.kill()
            proc.wait(timeout=30)


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Loader:
    """``load_small_upsert``."""

    name = "load_small_upsert"

    def __init__(self, spark, seed: int, size: dict, work: Path) -> None:
        self.spark, self.seed, self.size, self.work = spark, seed, size, work
        self.warmup_rounds = size["load_warmup"]
        self.timed_rounds = size["load_timed"]
        self.traced_rounds = size["load_traced"]
        self.latencies: list[float] = []
        self.tracer = None
        #: fresh-table files loaded so far; 0 until ``trace_mix``
        self.fresh: int | None = None

    def trace_mix(self) -> None:
        """From now on every batch carries one more file, for a table
        that does not exist yet: the traced run covers the insert path
        (``infer_schema``, ``ParquetWarehouse.write``) that the upsert
        files never take."""
        self.fresh = 0

    def setup(self) -> None:
        import gen
        from nspc_etl_basic_spark.config import load_config
        from nspc_etl_basic_spark.plans import batch

        self.wh = self.work / "warehouse"
        self.landing = self.work / "landing"
        seed_dir = self.work / "seed"
        for d in (self.landing, seed_dir):
            d.mkdir(parents=True)
        # default user config: files moved to processed/, per-file logs
        # on, email off
        self.config = load_config(overrides={
            "database": {"warehouse_path": str(self.wh)},
            "loader": {"table_mode": "upsert", "transaction_mode": "tolerant"},
        })
        self.scenario = gen.UpsertScenario(self.seed, self.size["keys"], self.size["file_rows"])
        self.seeds = self.scenario.seed_files()
        self.files: list = []
        self.input_bytes = 0
        for f in self.seeds:
            (seed_dir / f.name).write_text(f.text)
        res = batch.process_directory(self.spark, str(seed_dir), self.config)
        if res.status != "Completed" or res.files_processed != len(self.seeds):
            raise RuntimeError(f"table seeding failed: {res}")

    def install_clock(self) -> None:
        """Time every ``process_file`` call as one op: a thin wrapper at
        the name ``process_directory`` looks up, on in every run."""
        from nspc_etl_basic_spark.plans import batch

        inner = batch.process_file

        def clocked(*args, **kwargs):
            t = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                self.latencies.append(time.perf_counter() - t)

        batch.process_file = clocked

    def round(self, call) -> tuple[int, int]:
        """Drop one batch into the landing directory and load it; returns
        (ops, input rows). ``call`` runs the measured part."""
        from nspc_etl_basic_spark.plans import batch

        files = [self.scenario.next_file() for _ in self.size["file_rows"]]
        if self.fresh is not None:
            files.append(self.scenario.fresh_file(self.fresh))
            self.fresh += 1
        for f in files:
            (self.landing / f.name).write_text(f.text)
            self.input_bytes += len(f.text.encode())
        self.files += files
        res = call(lambda: batch.process_directory(self.spark, str(self.landing), self.config))
        if res.status != "Completed" or res.pending_processed != len(files):
            raise RuntimeError(f"batch failed: {res.status} {res.file_results}")
        return len(files), sum(f.rows_read for f in files)

    def stored_bytes_per_input_byte(self) -> float:
        """Live warehouse bytes (current version of every data table plus
        the EtlJob* tables) per byte of input files loaded."""
        from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

        wh = ParquetWarehouse(self.spark, str(self.wh))
        stored = sum(_dir_bytes(Path(wh.data_path(t))) for t in os.listdir(self.wh))
        loaded = self.input_bytes + sum(len(f.text.encode()) for f in self.seeds)
        return stored / loaded

    def attempted(self) -> int:
        return len(self.seeds) + len(self.files)

    def check(self) -> tuple[list[str], dict]:
        """EtlJobStatistics rows and final table contents against the
        generator; returns (names of failed loads, detail)."""
        import gen
        from pyspark.sql import functions as F

        from nspc_etl_basic_spark.sinks.metadata import MetadataStore
        from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

        wh = ParquetWarehouse(self.spark, str(self.wh))
        stats = MetadataStore(wh, self.config).read_statistics().collect()
        by_file: dict[str, list] = {}
        for r in stats:
            by_file.setdefault(r.SourceFile, []).append(
                (r.JobStatus, r.RowsRead, r.RowsInserted, r.RowsUpdated, r.RowsFailed)
            )
        failed = {
            f.name for f in [*self.seeds, *self.files]
            if by_file.get(f.name) != [
                ("Completed", f.rows_read, f.rows_inserted, f.rows_updated, f.rows_failed)
            ]
        }
        tables = {}
        for table, state in self.scenario.state.items():
            line = F.concat_ws(
                "|", F.col("id").cast("string"), F.col("name"),
                F.col("amount").cast("string"), F.col("qty").cast("string"),
                F.date_format("updated_at", "yyyy-MM-dd HH:mm:ss"),
            )
            h = F.conv(F.substring(F.sha2(line, 256), 1, 16), 16, 10).cast("decimal(38,0)")
            n, s = wh.read(table).agg(F.count(F.lit(1)), F.sum(h)).first()
            tables[table] = (n, int(s or 0)) == gen.state_digest(state.values())
            if not tables[table]:
                failed |= {f.name for f in [*self.seeds, *self.files] if f.table == table}
        return sorted(failed), {"tables_match": tables, "stats_rows": len(stats)}


class Curation:
    """``curate_corpus``."""

    name = "curate_corpus"
    outputs = ("split", "assignment", "pack_report")
    config = {"curation": {
        "quality": {
            "min_chars": 100, "max_chars": 20000, "min_tokens": 20,
            "max_punct_ratio": 0.1, "min_stopword_ratio": 0.02, "lang": "en",
        },
        "dedup": {"quality_col": "n_chars"},
        "split": {"weights": {"train": 0.8, "val": 0.1, "test": 0.1}},
        "pack": {"seq_len": 2048, "n_buckets": 8, "split": "train"},
    }}

    def __init__(self, spark, seed: int, size: dict, work: Path) -> None:
        self.spark, self.seed, self.size, self.work = spark, seed, size, work
        self.warmup_rounds = size["cur_warmup"]
        self.timed_rounds = size["cur_timed"]
        self.traced_rounds = size["cur_traced"]
        self.latencies: list[float] = []
        self.tracer = None
        self.fingerprints: list[dict] = []

    def trace_mix(self) -> None:
        """Traced passes do what timed passes do."""

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import gen

        docs = gen.corpus(self.seed, self.size["docs"])
        cols = ("doc_id", "text", "lang", "source", "n_chars")
        path = self.work / "documents.parquet"
        pq.write_table(pa.table({c: [d[i] for d in docs] for i, c in enumerate(cols)}), path)
        self.n_docs = len(docs)
        self.docs = self.spark.read.parquet(str(path))

    def install_clock(self) -> None:
        """A pass is timed by the round itself."""

    def _materialize(self, out: dict) -> dict:
        """Run every output through the ``noop`` sink, observing a row
        count and an order-independent hash on the way."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        fp = {}
        for name in self.outputs:
            df = out[name]
            h = F.xxhash64(*df.columns)
            obs = Observation(f"fp_{name}")
            df.observe(
                obs, F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
                F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("s"),
            ).write.format("noop").mode("overwrite").save()
            fp[name] = obs.get
        return fp

    def round(self, call) -> tuple[int, int]:
        from spans import MATERIALIZE

        from nspc_etl_basic_spark.plans import curation

        def one_pass():
            out = curation.run_curation(self.spark, self.docs, self.config)
            if self.tracer is not None:
                return self.tracer.run(MATERIALIZE, self._materialize, out)
            return self._materialize(out)

        t = time.perf_counter()
        self.fingerprints.append(call(one_pass))
        self.latencies.append(time.perf_counter() - t)
        return 1, self.n_docs

    def stored_bytes_per_input_byte(self) -> float:
        return 0.0  # curation writes nothing but noop output

    def attempted(self) -> int:
        return len(self.fingerprints)

    def check(self) -> tuple[list[str], dict]:
        """Every pass must return the rows the first pass returned, and
        the first pass must have kept a non-trivial corpus."""
        first = self.fingerprints[0]
        sane = 0 < first["split"]["n"] < self.n_docs and first["pack_report"]["n"] > 0
        failed = [
            f"pass{i}" for i, fp in enumerate(self.fingerprints) if fp != first or not sane
        ]
        return failed, {"first_pass": first}


WORKLOADS = {w.name: w for w in (Loader, Curation)}


def untimed(fn):
    return fn()


def set_up(spark, workload: str, seed: int, size: str, work: Path):
    """Create the workload and set it up: inputs generated, tables
    seeded."""
    wl = WORKLOADS[workload](spark, seed, SIZES[size], work)
    wl.setup()
    wl.install_clock()
    return wl


def timed_phase(wl, seconds: float) -> dict:
    """At least ``timed_rounds`` whole rounds, and more until ``seconds``
    have passed. Per round: wall, ops, rows, process-tree CPU and steal;
    per op: latency."""
    import telemetry

    rounds: list[dict] = []
    n_lat = len(wl.latencies)
    window, t0 = telemetry.Window(), time.perf_counter()
    while len(rounds) < wl.timed_rounds or time.perf_counter() - t0 < seconds:
        sample: dict = {}

        def timed(fn, sample=sample):
            cpu0, w, t = telemetry.tree_cpu(), telemetry.Window(), time.perf_counter()
            try:
                return fn()
            finally:
                sample["wall_s"] = time.perf_counter() - t
                cpu1 = telemetry.tree_cpu()
                sample.update({f"cpu_{k}_s": cpu1[k] - cpu0[k] for k in cpu1}, **w.read())

        sample["ops"], sample["rows"] = wl.round(timed)
        rounds.append(sample)
    return {"rounds": rounds, "latencies": wl.latencies[n_lat:], **window.read()}


def traced_phase(wl, sc) -> tuple[dict, dict]:
    """``traced_rounds`` traced rounds, each between two untraced ones
    (so warm-up drift cancels in the overhead ratio). Returns the
    per-layer metrics (per traced op) and the span list."""
    import telemetry
    from spans import ENGINE_METRICS, Tracer, span_totals

    tracer = Tracer(sc)
    wl.trace_mix()

    def plain_round() -> tuple[float, int]:
        t = time.perf_counter()
        o, _ = wl.round(untimed)
        return time.perf_counter() - t, o

    plain_s, plain_ops = plain_round()
    traced_s = 0.0
    ops = 0
    engine = {metric: 0.0 for metric, _ in ENGINE_METRICS.values()}
    for k in range(wl.traced_rounds):
        tracer.install()
        wl.tracer = tracer
        first = tracer.start_round(f"r{k}")
        gc0, cpu0, e0 = tracer.gc_seconds(), telemetry.tree_cpu(), time.time() * 1e3
        t = time.perf_counter()
        o, _ = wl.round(untimed)
        traced_s += time.perf_counter() - t
        e1, cpu1, gc1 = time.time() * 1e3, telemetry.tree_cpu(), tracer.gc_seconds()
        tracer.uninstall()
        wl.tracer = None
        ops += o
        tot = tracer.harvest(first, e0, e1)
        tot["gc_s"] = gc1 - gc0
        tot["cpu_jvm_s"] = cpu1["jvm"] - cpu0["jvm"]
        tot["cpu_python_s"] = cpu1["python"] - cpu0["python"]
        for key, (metric, _) in ENGINE_METRICS.items():
            engine[metric] += tot[key]
        s, o = plain_round()
        plain_s, plain_ops = plain_s + s, plain_ops + o
    layer = {f"{name}.{k}": v / ops
             for name, agg in span_totals(tracer.spans).items() for k, v in agg.items()}
    layer.update({metric: v / ops for metric, v in engine.items()})
    layer["trace.overhead_ratio"] = (traced_s / ops) / (plain_s / plain_ops)
    return layer, {"spans": tracer.spans, "traced_ops": ops,
                   "traced_wall_s": traced_s, "untraced_wall_s": plain_s,
                   "untraced_ops": plain_ops}


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    """One benchmark run; returns the result object plus ``telemetry``."""
    import telemetry
    from spans import layer_units

    # set-up time counts from process start, not from this line
    t_start = time.perf_counter() - telemetry.process_age_s()
    window = telemetry.Window()
    work = OUT / f"work-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = open_session(work)
    try:
        session_s = time.perf_counter() - t_start
        wl = set_up(spark, workload, seed, size, work)
        setup_s = time.perf_counter() - t_start
        for _ in range(wl.warmup_rounds):
            wl.round(untimed)
        tele = {
            "workload": workload, "seed": seed, "size": size,
            "cores": len(os.sched_getaffinity(0)), "session_s": session_s,
            "setup_s": setup_s, "warmup_rounds": wl.warmup_rounds,
        }
        if trace:
            metrics, detail = traced_phase(wl, spark.sparkContext)
            units = layer_units()
            OUT.mkdir(exist_ok=True)
            spans_path = OUT / f"spans-{workload}-seed{seed}.json"
            spans_path.write_text(json.dumps(detail.pop("spans")))
            tele.update(detail, spans_file=str(spans_path.relative_to(ROOT)))
        else:
            ph = timed_phase(wl, seconds)
            rounds = ph["rounds"]

            def per_round(fn) -> float:
                return statistics.median(fn(r) for r in rounds)

            metrics = {
                "setup_s": setup_s,
                "ops_per_s": per_round(lambda r: r["ops"] / r["wall_s"]),
                "rows_per_s": per_round(lambda r: r["rows"] / r["wall_s"]),
                "op_latency_p50_s": statistics.median(ph["latencies"]),
                # JIT compiler threads excluded: a young JVM is still
                # compiling, and that warm-up work swamps the per-op signal
                "cpu_s_per_op": per_round(
                    lambda r: (r["cpu_total_s"] - r["cpu_jit_s"]) / r["ops"]
                ),
            }
            units = E2E_UNITS
            tele.update({
                "timed_rounds": rounds, "op_latency_s": ph["latencies"],
                # no percentile above the median has >= 10 samples beyond it
                "op_latency_tail_s": None,
                "timed_steal_ppm": ph["steal_ppm"], "timed_busy_ppm": ph["busy_ppm"],
            })
        # host speed right after the measured phase
        calibrate = telemetry.calibrate_s()
        failed, checks = wl.check()
        attempted = wl.attempted()
        stored = wl.stored_bytes_per_input_byte()
        peak_rss = telemetry.tree_peak_rss_mb()
        if trace:
            metrics["stored_bytes_per_input_byte"] = stored
            metrics["peak_rss_mb"] = peak_rss
        tele.update({
            "peak_rss_mb": peak_rss,
            "checks": checks, "failed_ops": failed,
            "ops_failed_ratio": len(failed) / attempted,
            "stored_bytes_per_input_byte": stored,
            **{f"run_{k}": v for k, v in window.read().items()},
            "calibrate_s": calibrate,
        })
    finally:
        close_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        "telemetry": tele,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input scale; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)
    bootstrap()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    tele = result.pop("telemetry")
    OUT.mkdir(exist_ok=True)
    record = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    record.write_text(json.dumps({"result": result, "telemetry": tele}, indent=1))
    print(json.dumps({"telemetry": tele}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
