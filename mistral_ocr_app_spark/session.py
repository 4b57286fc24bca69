"""SparkSession factory tuned for the extraction workload — the one
session path for the tests, the benchmarks and every ``jobs/*.py``
entrypoint.

Local mode is the sandbox stand-in for a multi-executor cluster; all
settings are chosen to be cluster-valid (AQE on, Arrow on, shuffle
partitions sized to parallelism, not the 200 default).

Settings given to spark-submit win: under spark-submit (``--master``,
``--driver-memory``, ``--conf k=v``) every key already in the launch
conf keeps its launch value, and only the keys it leaves unset take the
defaults below. Outside spark-submit nothing is preset and the defaults
apply as they are.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# single source of truth — bench.py cites this in its written evidence
ADVISORY_PARTITION_SIZE = "2m"


def _launch_keys() -> set[str]:
    """Conf keys the spark-submit launch already fixed; empty outside it.

    spark-submit starts the driver JVM before Python and passes its
    gateway in ``PYSPARK_GATEWAY_PORT``, which PySpark never sets itself.
    Builder options would override the launch conf, so the factory leaves
    these keys out. ``spark.driver.memory`` counts as fixed there: it
    only takes effect when the JVM starts. Outside spark-submit this
    returns before the gateway starts, so ``getOrCreate`` launches the
    JVM with the factory's driver memory.
    """
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return set()
    SparkContext._ensure_initialized()
    return {"spark.driver.memory", *(k for k, _ in SparkConf().getAll())}


def get_spark(
    cores: int | None = None,
    app_name: str = "mistral_ocr_app_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # this engine's reduce stages (ordered assembly: collect_list +
        # array_sort + string building) are CPU-heavy per byte, so the
        # 64m default advisory size over-coalesces them. Measured on the
        # skewed bench corpus at 32 cores: 64m→8m gained 1.5×, 8m→2m
        # another 2× (169k turns: 2.9s→1.2s; 1M turns: 4.8s→2.4s);
        # 1m over-splits the larger shuffle and regresses
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": ADVISORY_PARTITION_SIZE,
        # AQE sizes coalesced partitions by INPUT bytes, but some of this
        # engine's stages have output/CPU cost unrelated to input size —
        # the LSH (band,bucket) self-join emits O(k²) pairs from a few
        # MB of band rows, and the default 1m minPartitionSize collapsed
        # it to ONE task (a 6s serial critical path; measured). 64k lets
        # parallelismFirst actually honor the core count on small
        # shuffles: d4 8.0s → 4.4s wall at identical total CPU, other
        # queries unchanged (the assembly reduce at 187MB never hits
        # the floor).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        "spark.sql.parquet.compression.codec": "zstd",
        **(extra_conf or {}),
    }
    launched = _launch_keys()
    # the app name is the job's identity, not a tuning default: spark-submit
    # always fills spark.app.name (with the script's file name when --name
    # is absent), so it cannot tell the factory a name was chosen
    spark = (
        SparkSession.builder.appName(app_name)
        .config(map={k: v for k, v in conf.items() if k not in launched})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
