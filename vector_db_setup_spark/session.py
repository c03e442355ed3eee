"""SparkSession bootstrap.

The reference opens one psycopg2 connection *per query*
(fever_multi_agent.py:60,78) — an anti-pattern we replace with a single
shared SparkSession (SURVEY.md §2.1 S7).

Defaults target correctness-run scale (local[N]); at cluster scale the
same code runs unchanged — shuffle partitioning is driven by AQE, so
``spark.sql.shuffle.partitions`` here is only the initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "vector-db-setup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the shared SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism; unset, it is
    the number of CPUs this process may run on. Key choices:

    - AQE on (coalesce + skew-join): at 100 TB the right shuffle
      partitioning is decided at runtime, not hardcoded.
    - Arrow on: pandas UDF / toPandas transfers are columnar batches.
    - Session timezone UTC: parity with DuckDB oracle on timestamps.
    - zstd parquet: best scan/size tradeoff for cold 100 TB storage.
    """
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Fixture events.parquet stores TIMESTAMP(NANOS); Spark 4 has no
        # nanos timestamp type, so read as long and convert in the
        # registry (lossless: fixture values are whole microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # One BLAS thread per Python worker: Spark supplies the
        # parallelism (local[N] / one core per task on a cluster), so an
        # uncapped OpenBLAS pool inside each Arrow worker oversubscribes
        # N tasks x N BLAS threads — measured here as ~30% system time
        # (futex churn) and 2-6x run-to-run variance on the GEMM-heavy
        # bench queries. Same reasoning as Spark's own task-cpus model:
        # intra-task math must not exceed the task's core grant.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
