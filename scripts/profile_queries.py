"""Per-query cost breakdown for optimization work: plan-BUILD time (the
queries() callable, incl. any eager plan-build actions), EXECUTION time
(noop sink), and the Spark JOB COUNT each phase submitted — separates
compile/driver-bound queries from job-overhead-bound and data-bound ones.
`compiles` and `compile_s` count the generated classes Janino compiled
for the query (plan build and execution) and the time it spent on them.

Usage: python scripts/profile_queries.py query [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
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


def _next_job_id(spark) -> int:
    # py4j already unboxes the AtomicInteger to a Python int here
    nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nid if isinstance(nid, int) else nid.get()


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm_up(spark, sf_dir, names)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        j0, c0 = _next_job_id(spark), codegen_compiles(spark)
        with scope():
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            t1 = time.monotonic()
            j1 = _next_job_id(spark)
            df.write.mode("overwrite").format("noop").save()
            t2 = time.monotonic()
        j2, c2 = _next_job_id(spark), codegen_compiles(spark)
        out[name] = {
            "build_s": round(t1 - t0, 3),
            "exec_s": round(t2 - t1, 3),
            "build_jobs": j1 - j0,
            "exec_jobs": j2 - j1,
            "compiles": c2[0] - c0[0],
            "compile_s": round(c2[1] - c0[1], 3),
        }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
