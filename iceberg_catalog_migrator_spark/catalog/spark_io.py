"""Spark data-plane for pointer tables.

``write_table`` persists a DataFrame as the data of a catalog table
(parquet under ``<location>/data``, metadata JSON beside it);
``read_table`` resolves identifier → metadata location → data location →
``spark.read.parquet``. With the Iceberg runtime jar on a cluster these
become ``df.writeTo("cat.ns.t")`` / ``spark.table("cat.ns.t")``; the
catalog API calls are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .base import Catalog, read_table_metadata, write_table_metadata
from .identifiers import TableIdentifier


def write_table(
    catalog: Catalog,
    identifier: TableIdentifier,
    df: DataFrame,
    location: str,
) -> str:
    """Create a catalog table whose data is the given DataFrame."""
    data_location = os.path.join(location, "data")
    df.write.mode("overwrite").parquet(data_location)
    metadata_location = write_table_metadata(
        location, schema_ddl=df.schema.simpleString(), version=1
    )
    catalog.register_table(identifier, metadata_location)
    return metadata_location


def read_table(spark: SparkSession, catalog: Catalog, identifier: TableIdentifier) -> DataFrame:
    """Resolve the metadata pointer and scan the table's data files."""
    metadata_location = catalog.load_table_metadata_location(identifier)
    meta = read_table_metadata(metadata_location)
    return spark.read.parquet(os.path.join(meta["location"], "data"))
