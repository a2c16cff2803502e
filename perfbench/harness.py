"""Session start, host record and timing statistics shared by the
workloads. Nothing here changes the package: the benchmark configures the
session the way ``bench.py`` does and reads Spark's own status from
outside.
"""

from __future__ import annotations

import os
import statistics
import time

#: the timing ladder for the tail metric: the highest of these with at
#: least ``TAIL_BEYOND`` samples above it is reported
TAIL_LADDER = (0.99, 0.95, 0.90, 0.75, 0.50)
TAIL_BEYOND = 10

#: seed of the fixed dataset the check pass runs on (expected.json)
CHECK_SEED = 0

#: the control request's median on the 4-core box the benchmark was tuned
#: on; the end-to-end timings are scaled to it
CONTROL_REF_MS = 60.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(root: str, work_dir: str) -> None:
    """Environment the package and the Python workers read; must run
    before pyspark or the package is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # the honest bench protocol: no prepared-plan reuse across runs
    os.environ["SPARK_GRAFT_PLAN_CACHE"] = "0"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    local = os.path.join(work_dir, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers unpickle package functions by import path; they
    # find the package only when the repo root is on their path
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_session(work_dir: str):
    """The bench.py session for inputs of a few MB: 8 shuffle partitions,
    AQE off, one scan split per core, ``widen`` off, a large codegen
    cache. The warehouse, scratch and temp dirs live under ``work_dir``."""
    from big_data_song_recommendation_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.files.maxPartitionBytes": str(256 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
            "spark.graft.widen.enabled": "false",
            "spark.sql.codegen.cache.maxEntries": "5000",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.local.dir": os.path.join(work_dir, "local"),
            # native libraries unpack to the JVM's temp dir
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work_dir, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def control_ms(spark, n: int = 10) -> list[float]:
    """serving_probe's fresh-plan control request, ``n`` times: build a
    one-stage plan, run one job, collect a row. A noise gauge for the
    host."""
    from pyspark.sql import functions as F

    out = []
    for i in range(n):
        t0 = time.perf_counter()
        spark.range(100_000).filter(F.col("id") == (i * 101) % 99_991).collect()
        out.append((time.perf_counter() - t0) * 1000.0)
    return out


def retained_heap_mb(spark) -> float:
    """Driver JVM heap in use after an explicit GC: the least of three
    readings, each after a GC, so that objects the context cleaner was
    still releasing do not count."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        readings.append((rt.totalMemory() - rt.freeMemory()) / 1e6)
    return min(readings)


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def loadavg() -> float:
    return os.getloadavg()[0]


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest ladder percentile with at least
    ``TAIL_BEYOND`` samples above it; the median when none has."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        i = min(n - 1, int(p * n))
        if n - 1 - i >= TAIL_BEYOND:
            return p, xs[i]
    return 0.5, statistics.median(xs)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs)
