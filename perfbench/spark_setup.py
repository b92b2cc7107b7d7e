"""Spark session set-up for the Spark workloads.

One set-up is: a new SparkSession from the package's ``get_spark``, a
first job, a Python-worker warm-up, and (for the query workload) the
ingest and load of every input table. The benchmark sets up several
times per run and reports the median; the first set-up also pays the
JVM launch, which is reported on its own as ``session.start_s``.
"""

from __future__ import annotations

import os
import time


def spark_conf(root: str) -> dict[str, str]:
    """Session settings that keep every file the engine writes inside
    the run's directory."""
    tmp = os.path.join(root, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def setup_once(root: str, previous=None, data_dir: str | None = None):
    """Build a fresh session (stopping ``previous``); returns
    ``(spark, timings)`` where timings has ``start_s``, ``warmup_s`` and
    ``ingest_s``."""
    from iceberg_catalog_migrator_spark.session import get_spark

    if previous is not None:
        previous.stop()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(root))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1).count()
    spark.range(16).repartition(4).mapInArrow(lambda it: it, "id long").count()
    t2 = time.perf_counter()
    ingest_s = 0.0
    if data_dir is not None:
        from iceberg_catalog_migrator_spark.sources import TABLES, load_table

        for t in TABLES:
            load_table(spark, data_dir, t)
        ingest_s = time.perf_counter() - t2
    return spark, {"start_s": t1 - t0, "warmup_s": t2 - t1, "ingest_s": ingest_s}


def calibrate_spark(spark) -> float:
    """bench.py's Spark kernel (a 32-partition aggregate over 32M rows),
    one repetition, run after set-up."""
    t0 = time.perf_counter()
    spark.range(0, 32_000_000, 1, 32).selectExpr("sum(id % 7) AS s").collect()
    return time.perf_counter() - t0


def setup_repeated(root: str, times: int, data_dir_for=None):
    """Set up ``times`` sessions in a row, keeping the last one.
    ``data_dir_for(i)`` names the input directory of set-up ``i``: each
    gets its own path, so each pays a cold ingest."""
    spark = None
    records = []
    for i in range(times):
        t0 = time.perf_counter()
        spark, parts = setup_once(
            root, spark, data_dir_for(i) if data_dir_for is not None else None
        )
        parts["total_s"] = time.perf_counter() - t0
        records.append(parts)
    return spark, records
