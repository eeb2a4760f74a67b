"""Run one benchmark workload against the tinyflux_spark in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

The run pins its own Spark session to ``local[nproc]`` with ``nproc``
shuffle partitions, builds a fresh store from the seed (``SETUPS``
times; ``setup_s`` is the median), measures one closed-loop client for
``--seconds``, checks every answer and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` adds the analytics pass, prints
the per-layer metrics and writes every span to
``.perfbench_work/trace-<workload>-<seed>.json``.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run stores are deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "ingest_mixed")


def start_spark(work: str):
    """The pinned session. Scratch space, the JVM's temp dir and the
    warehouse all point inside ``work`` so nothing lands outside the
    checkout; the status store keeps enough jobs for a traced run."""
    for d in ("spark-local", "tmp", "jtmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        # -Xms2g: without a fixed initial heap G1 grows the heap at
        # moments that depend on GC timing, and peak RSS swings between
        # runs of the same code. -XX:-UsePerfData: the JVM would
        # otherwise write its counters to /tmp, outside the checkout.
        shlex.quote("-Xms2g -XX:-UsePerfData -Djava.io.tmpdir="
                    + os.path.join(work, "jtmp")),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(
            "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    import host
    from tinyflux_spark import get_spark

    n = host.nproc()
    spark = get_spark("perfbench", cpus=n, shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    print(f"perfbench: session master={spark.sparkContext.master} "
          f"shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')}"
          f" (pinned to nproc={n})", flush=True)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(spark, workload: str, seed: int, seconds: float, trace: bool,
        work: str, n_points: int = 100_000, model_hook=None) -> dict:
    """One measured run; returns the result object."""
    import host
    from workloads import Bench

    bench = Bench(spark, work, seed, trace, n_points=n_points,
                  model_hook=model_hook)
    setup_s = bench.setup(workload)
    receipt = host.receipt(spark)
    print("perfbench: receipt " + json.dumps(receipt), flush=True)
    getattr(bench, workload)(seconds)
    if trace:
        bench.analytics()
        metrics = bench.per_layer()
        path = os.path.join(os.path.dirname(work),
                            f"trace-{workload}-{seed}.json")
        bench.tracer.write(path, {"receipt": receipt, "workload": workload,
                                  "seed": seed, "metrics": metrics})
        print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = bench.end_to_end(setup_s)
    for msg in bench.failures:
        print(f"perfbench: FAILED {msg}")
    for name, (value, unit) in metrics.items():
        print(f"perfbench: {name} = {value:.6g} {unit}")
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import tinyflux_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: no tinyflux_spark under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = start_spark(work)
    try:
        result = run(spark, args.workload, args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
