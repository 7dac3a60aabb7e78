"""Measure the warm-up levelling-off curve the benchmark's warm-up sizes
come from, and write it to ``perfbench/warmup_curve.json``.

    python3 perfbench/curve.py --workload load_small_upsert --rounds 10 --seed 1

One process does what a benchmark run does up to its timed phase (the
program's session, set-up), then ``--rounds`` rounds,
recording each round's wall time, process-tree CPU time (and the JIT
compiler threads' share of it) and machine steal. CPU per op levelling
off marks the end of JIT warm-up; wall time alone also moves with steal.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

import run


def measure(workload: str, rounds: int, seed: int) -> dict:
    import telemetry

    work = run.OUT / f"curve-{workload}-{os.getpid()}"
    t0 = time.perf_counter()
    spark = run.open_session(work)
    try:
        session_s = time.perf_counter() - t0
        wl = run.set_up(spark, workload, seed, "full", work)
        setup_s = time.perf_counter() - t0
        points = []
        for k in range(rounds):
            cpu0, window, t = telemetry.tree_cpu(), telemetry.Window(), time.perf_counter()
            ops, _ = wl.round(run.untimed)
            wall = time.perf_counter() - t
            cpu1 = telemetry.tree_cpu()
            points.append({
                "round": k, "ops": ops, "wall_s_per_op": wall / ops,
                "cpu_s_per_op": (cpu1["total"] - cpu0["total"]) / ops,
                "jit_cpu_s_per_op": (cpu1["jit"] - cpu0["jit"]) / ops,
                **window.read(),
            })
            print(json.dumps(points[-1]), flush=True)
        failed, _ = wl.check()
    finally:
        run.close_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"seed": seed, "session_s": session_s, "setup_s": setup_s,
            "rounds": points, "failed_ops": failed}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    run.bootstrap()
    curve = measure(args.workload, args.rounds, args.seed)
    path = run.HERE / "warmup_curve.json"
    doc = json.loads(path.read_text()) if path.exists() else {}
    doc[args.workload] = curve
    path.write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
