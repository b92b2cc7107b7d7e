"""SparkSession factory.

One place to configure the session so every entry point (tests, bench,
CLI, ``__spark_entry__``) gets identical semantics:

- UTC session timezone — timestamps in the testdata parquet are
  timezone-naive; pinning UTC makes ``date_trunc``/``extract`` agree with
  the DuckDB oracle.
- AQE on — runtime coalescing of shuffle partitions and skew-join
  handling; at 100 TB this is what keeps the 32 (locally) /
  thousands (cluster) of shuffle partitions right-sized.
- Arrow on — every Pandas UDF crosses the JVM/Python boundary in
  columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Iceberg Spark runtime for the Spark 4.x line. The live swap path
# (catalog/iceberg_spark.py) activates when this jar is on the driver
# classpath. The session never downloads it: place the jar in
# ``$SPARK_GRAFT_JAR_CACHE`` to enable the path; without it the session
# starts jar-less and the adapter tests stay skip-gated.
_ICEBERG_JAR = "iceberg-spark-runtime-4.0_2.13-1.10.0.jar"
ICEBERG_JAR_CACHE = os.environ.get("SPARK_GRAFT_JAR_CACHE", "/tmp/spark_graft_jars")
ICEBERG_WAREHOUSE = "/tmp/spark_graft_iceberg"


def _resolve_iceberg_runtime_jar() -> str | None:
    """The Iceberg runtime jar's path when it is present in the jar
    cache (and not disabled by ``SPARK_GRAFT_DISABLE_ICEBERG_JAR``)."""
    if os.environ.get("SPARK_GRAFT_DISABLE_ICEBERG_JAR"):
        return None
    path = os.path.join(ICEBERG_JAR_CACHE, _ICEBERG_JAR)
    return path if os.path.exists(path) else None


def get_spark(
    app_name: str = "iceberg-catalog-migrator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) so local runs
    saturate the container; on a real cluster the caller passes the real
    master / lets spark-submit inject it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # split size = min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/parallelism)); a small open cost lets the local
        # bench's ~10 MB fixtures split into one task per core instead
        # of one task per file (cluster deployments override this).
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    jar = _resolve_iceberg_runtime_jar()
    if jar:
        # runtime present: expose two hadoop-type SparkCatalogs so the
        # live swap path (catalog/iceberg_spark.py + its gated tests)
        # activates without any per-caller wiring
        builder = (
            builder.config("spark.jars", jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.it_src", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.it_src.type", "hadoop")
            .config(
                "spark.sql.catalog.it_src.warehouse",
                os.path.join(ICEBERG_WAREHOUSE, "src"),
            )
            .config("spark.sql.catalog.it_tgt", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.it_tgt.type", "hadoop")
            .config(
                "spark.sql.catalog.it_tgt.warehouse",
                os.path.join(ICEBERG_WAREHOUSE, "tgt"),
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
