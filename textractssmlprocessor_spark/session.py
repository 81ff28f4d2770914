"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB target, not just local tests:
- Arrow on, with a bounded batch size so multi-MB documents cannot blow
  executor memory inside pandas UDFs (SURVEY.md §4 spill row). Spark 4
  additionally byte-caps Arrow batches at 64 MB by default
  (spark.sql.execution.arrow.maxBytesPerBatch), so a run of outlier
  documents splits into smaller batches regardless of the record cap —
  verified by pushing a 10 MB document through extract_chunks alongside
  1000 normal ones (5173 chunks, no memory incident);
- AQE on (runtime coalescing + skew-join splitting for the non-UDF stages);
- shuffle partitions sized by caller (tests use few; jobs size to cluster);
- a codegen class cache of CODEGEN_CACHE_ENTRIES: one document through
  extract -> validate -> split -> voices -> SRT generates ~107 distinct
  classes, so Spark's default of 100 evicted part of them on every request
  (72-94 Janino recompiles per warm request, the count varying with
  eviction order); sized above the engine's plans, a warm request
  compiles 0-15;
- Python workers fork from the engine's daemon (daemon.py), which drops the
  per-task re-read of pyspark.zip's directory; the package root goes on the
  workers' PYTHONPATH so the daemon imports from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH = 512  # records per Arrow batch through pandas UDFs
CODEGEN_CACHE_ENTRIES = 1000  # compiled classes kept per JVM (Spark: 100)
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "textractssmlprocessor-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = DEFAULT_ARROW_BATCH,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", "textractssmlprocessor_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
