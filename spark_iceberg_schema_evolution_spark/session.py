"""SparkSession factory.

The reference builds a bare session (`src/utils/spark/spark_utils.py:20-30`)
and then mutates catalog conf after start (`spark_utils.py:42-56`) — confs
that are only honored at builder time on a real cluster. Here every conf is
set on the builder:

- AQE on (runtime shuffle coalescing + skew-join splitting) — the engine's
  answer to skew at the 100 TB target.
- Arrow on (fast pandas interchange for the Pandas-UDF operators).
- Session timezone pinned to UTC so timestamp semantics match the duckdb
  oracle and are cluster-location-independent.
- shuffle.partitions sized to cores for local runs (200 default is wrong in
  both directions; at cluster scale this is tuned per job or left to AQE).
- Optional Iceberg catalog wiring, preserving the conf names of the
  reference (`spark_utils.py:48-55`) but parameterized: local dev uses a
  hadoop catalog with a file:// warehouse; the Glue+S3 binding is pure
  config. Gated behind ``use_iceberg`` because the runtime jar is absent in
  this image.
- Generated code is compiled once per session. Spark keys its Janino
  cache on the generated source, holds 100 entries by default, and puts
  the codegen stage id in each ``GeneratedIteratorForCodegenStage<N>``
  class name. A corpus_ingest night generates about 140 distinct classes,
  so at local[4] the default cache recompiled 136 classes per steady
  night (2.1 s of compile): 72 were byte-identical to classes the
  100-entry LRU had evicted, 50 differed from cached ones only in the
  stage id. ``spark.sql.codegen.cache.maxEntries`` = 1000 (a static
  conf, so it is set here, not at runtime) holds the engine's working
  set, and ``spark.sql.codegen.useIdInClassName`` = false lets one
  pipeline at two stage ids share one class. In perfbench runs
  at local[4], query_mix went from 11.8 to 0.4 compiles per query and
  corpus_ingest from 124 to 44.5 per night. In local mode executor
  tasks compile through the same cache, so a miss is task CPU, not only
  driver time.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from spark_iceberg_schema_evolution_spark.config import EngineConfig


def get_spark(config: EngineConfig | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cfg = config or EngineConfig()
    builder = (
        SparkSession.builder.master(cfg.master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", cfg.timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", cfg.driver_memory)
        .config("spark.ui.enabled", str(cfg.ui_enabled).lower())
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # TIMESTAMP_MICROS, not the INT96 this build defaults to: INT96
        # carries NO parquet column statistics, which silently disables
        # footer-stats skipping (and the no-op DML gate) for every
        # timestamp column
        .config(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        .config("spark.sql.warehouse.dir", cfg.warehouse)
        # testdata events.ts is TIMESTAMP(NANOS) parquet, which the
        # vectorized reader rejects; read as nanos-since-epoch long and
        # convert with queries.load_events (ns -> us).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # manifest-planned scans pass explicit file lists (O(100) local
        # paths); the default threshold of 32 would launch a distributed
        # listing JOB for them — ~0.2 s of job scheduling to replace
        # microseconds of driver stat calls (r13)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.ui.showConsoleProgress", "false")
        # compile each generated class once per session (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # ANSI stays on (Spark 4 default): engine code uses try_* variants
        # where null-on-error cast semantics are required (evolve.py).
    )
    if cfg.use_iceberg:
        # Same mechanism as the reference's Glue wiring
        # (spark_utils.py:48-55), local hadoop catalog flavor.
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config(
                f"spark.sql.catalog.{cfg.catalog_name}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config(f"spark.sql.catalog.{cfg.catalog_name}.type", "hadoop")
            .config(
                f"spark.sql.catalog.{cfg.catalog_name}.warehouse",
                cfg.warehouse,
            )
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
