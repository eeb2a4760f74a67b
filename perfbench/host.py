"""Host receipt, memory and on-disk space, measured from outside the program."""

from __future__ import annotations

import os
import resource
import time


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def python_loop_ms() -> float:
    """Fixed pure-Python work: 2M multiply-adds. Tracks interpreter and
    CPU speed, so a slow host is not mistaken for a regression."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return (time.perf_counter() - t0) * 1000


def spark_action_floor_ms(spark) -> float:
    """Fastest of ten single-task Arrow collects of a cached 100-row
    frame: the scheduler + py4j + Arrow cost every action pays."""
    from tinyflux_spark.schema import collect_arrow_batches

    df = spark.range(100).coalesce(1).cache()
    df.count()
    for _ in range(3):
        collect_arrow_batches(df)
    best = float("inf")
    for _ in range(10):
        t0 = time.perf_counter()
        collect_arrow_batches(df)
        best = min(best, time.perf_counter() - t0)
    df.unpersist()
    return best * 1000


def receipt(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "python_loop_ms": round(python_loop_ms(), 2),
        "spark_action_floor_ms": round(spark_action_floor_ms(spark), 3),
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM child."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (own_kb + jvm_kb) / 1024


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def inodes(root: str) -> dict:
    """(dev, ino) -> size of every regular file under ``root``. MVCC
    version directories are hardlink clones, so a file reachable from
    two versions is one inode and is counted once."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.lstat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def disk_bytes(root: str) -> int:
    return sum(inodes(root).values())


def new_bytes(before: dict, after: dict) -> int:
    """Bytes in inodes present after a write and absent before it."""
    return sum(size for key, size in after.items() if key not in before)
