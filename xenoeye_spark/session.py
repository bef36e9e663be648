"""SparkSession helper tuned for this engine.

Local testing runs on local[N]; the configs chosen here are the ones that
matter at cluster scale too (AQE, partial agg, arrow batching).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from xenoeye_spark.pyworker import use_daemon


def get_spark(app_name: str = "xenoeye-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # one BLAS thread per Python worker: Spark already runs one worker per
    # core, so letting numpy/OpenBLAS spawn its own thread pool in each of
    # them oversubscribes the box ~32x and destroys pandas-UDF stage times
    # (measured: >5x inflation and huge run-to-run variance on the matmul
    # kernels). Local mode: workers inherit the driver env set here.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    # workers fork from a daemon that keeps zipimport's directory cache
    # for the pyspark.zip they import from: CPython 3.10/3.11 re-read it
    # once per zipimporter on every task otherwise (pyworker.py)
    builder = use_daemon(SparkSession.builder)
    return (
        builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local[N] runs executor threads inside the driver JVM; give it
        # headroom over the 1g default for broadcasts + collects, but keep
        # the heap small — measured here, >=8g heaps degraded interpreted-
        # expression-heavy stages (GC geometry), 32g (compressed-oops
        # cutoff) catastrophically. Honored only if set before JVM launch
        # (true for our entrypoints); on a real cluster spark-submit
        # owns executor/driver sizing.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
        # same BLAS pinning for real-cluster executors (local mode relies
        # on the env inheritance set above)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        # Essential at 100 TB where static partition counts are always wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all pandas UDF exchange (the only Python hot paths we allow).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Timestamps: engine semantics are UTC processing time
        # (reference ignores flow timestamps, INTERNALS.md:126-128).
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
