"""SparkSession factory tuned for the KG-construction workload.

Design notes (scale-first):
* AQE on — runtime join-strategy re-planning, skew-join splitting, and
  partition coalescing are the first line of defense at 100 TB.
* Arrow on — every Python-side transform in this engine (none in the KG
  stage graph) is a vectorized pandas UDF / mapInPandas; Arrow batching
  is what makes that viable.
* shuffle.partitions defaults to max(cores*2, 32) locally; on a real
  cluster AQE's coalescing makes the initial number less critical, but we
  still set spark.sql.adaptive.coalescePartitions.initialPartitionNum high
  so AQE can only merge, never starve.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType

# Columnar batch size for Arrow transfer into pandas UDFs. 10k rows of
# ~5 KB payloads ≈ 50 MB per batch — large enough to amortize
# Python call overhead, small enough to not blow executor memory.
ARROW_BATCH_ROWS = 10_000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "arachne_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # deterministic timestamps regardless of host TZ
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: keep driver memory sane; a real deploy overrides this
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # broadcast *values* here are small, but some broadcast inputs
        # are whole sub-jobs (e.g. the fuzzy-link vocabulary: corpus
        # distinct + LSH scoring); the default 300 s cap times out at
        # low parallelism long before anything is actually wrong
        .config("spark.sql.broadcastTimeout", "1800")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A small driver-side row set (tuples in DDL ``schema`` order) as
    a DataFrame the JVM alone evaluates: one JSON literal expanded by
    ``from_json`` + ``inline``.  ``spark.createDataFrame(rows)`` would
    be a Python RDD that starts a Python worker pool on every scan.
    The literal is expanded in one slice: ``spark.range(1)`` would take
    the default parallelism, every scan a job of mostly empty tasks,
    and an aggregation over the rows a shuffle."""
    struct = DataType.fromDDL(schema)
    data = json.dumps([dict(zip(struct.names, r)) for r in rows])
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(data), ArrayType(struct)))
    )
