"""Per-query micro-bench: same methodology as bench.py (warmup at
sf0.001, noop sink, best-of-N, one `materialize.scope()` per query) but
only for the named queries — for isolating one query's steady-state cost
while optimizing it. Each query also reports the generated classes
Janino compiled in each timed run (`compiles`): a warm plan compiles
none.

Usage: python scripts/microbench.py query [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPEATS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import build_spark, warm_up  # noqa: E402
from nspc_etl_basic_spark.materialize import scope  # noqa: E402
from nspc_etl_basic_spark.session import codegen_compiles  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm_up(spark, sf_dir, names)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"microbench:{name}")
        best, runs, compiles = float("inf"), [], []
        try:
            with scope():
                for _ in range(max(1, repeats)):
                    c0 = codegen_compiles(spark)[0]
                    t0 = time.monotonic()
                    qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                    dt = time.monotonic() - t0
                    runs.append(round(dt, 3))
                    compiles.append(codegen_compiles(spark)[0] - c0)
                    best = min(best, dt)
            out[name] = {"best": round(best, 3), "runs": runs, "compiles": compiles}
        except Exception as exc:  # noqa: BLE001
            out[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
