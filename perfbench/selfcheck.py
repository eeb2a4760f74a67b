"""Self-check of the benchmark at tiny size (a 6k-point store, 3 s runs).

    python3 perfbench/selfcheck.py

Checks, in one Spark session:
  * every workload, untraced and traced, reports zero failed ops and
    prints exactly the metric names and units BENCHMARK.json declares;
  * in a traced run, the build and action spans leave less than
    ``UNEXPLAINED_MEDIAN_PCT`` of the median read op's wall time
    unexplained, and less than ``UNEXPLAINED_MAX_PCT`` of any read's;
  * a deliberately wrong expected answer (the model loses one row after
    set-up) registers as failed ops and ``correct: false``.
Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench_run

N_POINTS = 6000
SECONDS = 3.0
# the reconciliation tolerance stated in README.md
UNEXPLAINED_MEDIAN_PCT = 10.0
UNEXPLAINED_MAX_PCT = 25.0


def _drop_one_row(model) -> None:
    i = len(model.rows) // 2
    del model.rows[i]
    del model.times[i]


def main() -> int:
    sys.path.insert(0, bench_run.ROOT)
    with open(os.path.join(bench_run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    work = os.path.join(bench_run.ROOT, ".perfbench_work",
                        f"selfcheck-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    problems = []
    spark = bench_run.start_spark(work)
    try:
        for workload in bench_run.WORKLOADS:
            for trace in (0, 1):
                sub = os.path.join(work, f"{workload}-{trace}")
                os.makedirs(sub)
                r = bench_run.run(spark, workload, 1, SECONDS, bool(trace),
                                  sub, n_points=N_POINTS)
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                tag = f"{workload} trace={trace}"
                if got != declared[trace]:
                    problems.append(f"{tag}: metrics {got} != {declared[trace]}")
                if not r["correct"] or r["failed"] or r["attempted"] < 1:
                    problems.append(f"{tag}: {r['failed']} of "
                                    f"{r['attempted']} ops failed")
                for name, limit in (
                        ("trace.unexplained_pct", UNEXPLAINED_MEDIAN_PCT),
                        ("trace.unexplained_max_pct", UNEXPLAINED_MAX_PCT)):
                    gap = r["metrics"].get(name, {}).get("value")
                    if trace and not (gap is not None and gap < limit):
                        problems.append(f"{tag}: {name} {gap} is not under "
                                        f"{limit}")
        sub = os.path.join(work, "wrong-answer")
        os.makedirs(sub)
        r = bench_run.run(spark, "serve", 1, SECONDS, False, sub,
                          n_points=N_POINTS, model_hook=_drop_one_row)
        if r["correct"] or r["failed"] < 1:
            problems.append("a wrong expected answer did not fail any op")
    finally:
        bench_run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"selfcheck: FAIL {p}")
    print("selfcheck: " + ("FAIL" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
