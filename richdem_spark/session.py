"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "richdem_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """``extra_conf`` is applied last, so it can override any setting
    here (driver memory, shuffle partitions, ...) or add more (e.g.
    executor memory and env for ``local-cluster[...]`` masters, which
    launch real separate executor JVMs — the multi-JVM scaling evidence
    path).

    Python workers skip the per-task zip directory re-reads once they
    have imported the package: see :mod:`richdem_spark.pyworker`."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    sp = int(shuffle_partitions or cpus)
    # one BLAS/OMP thread per Python worker — the kernels parallelize
    # across tiles, not within; oversubscription thrashes at local[32]
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "64"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
