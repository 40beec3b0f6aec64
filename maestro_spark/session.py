"""SparkSession factory with the engine's scale-minded defaults.

Single place that encodes the configs we rely on everywhere:
- AQE on (runtime re-plan, skew-join backstop, partition coalescing),
- Arrow on (every Python boundary is vectorized, BASELINE.json input_hint),
- UTC session timezone (determinism of replay equality + DuckDB parity),
- shuffle partitions sized to the parallelism level (scaling-efficiency bench
  runs the same job at local[8] and local[32]; shuffle partitions follow cores),
- file listing on the driver (``parallelPartitionDiscovery.threshold`` 4096):
  every path a table read hands ``DataFrameReader`` is a manifest-named data
  file on the POSIX filesystem the driver already works on directly (CAS
  commits by ``os.rename``/``os.link``, footer harvest at write time), so a
  read plans with one driver-side stat per file and no Spark listing job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "maestro_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver convention) or
    ``local[*]``. ``shuffle_partitions`` defaults to the core count so that the
    single hash exchange per epoch matches the executor parallelism — on a real
    cluster this is ``spark.sql.shuffle.partitions = executors * cores`` and is
    the knob the N→4N scaling bench turns.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # finer scan splits: CDC log segments are modest files whose row
        # groups must fan out across all cores, not 128MB driver-side chunks
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.files.openCostInBytes", "1048576")
        # stat up to 4096 paths on the driver instead of in a one-task-per-
        # path listing job (Spark's default above 32 paths). Measured on a
        # 4-core host, plan time of one read (median of 5): 512 files 2.86 s
        # with the job vs 0.19 s serial, 4096 files 20.2 s vs 1.52 s. A
        # default table names at most 512 files (64 buckets x maxDeltas 8).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # transcripts tables carry naive event times; keep parquet round-trips NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode: the driver heap IS the executor heap — size it for the
        # task count or 32 concurrent sort-agg tasks spill at ~150MB each
        .config("spark.driver.memory", os.environ.get("MAESTRO_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
