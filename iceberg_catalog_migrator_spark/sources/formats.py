"""Multi-format source/sink layer.

Parquet is the native layout (vectorized scan + pushdown), but real
pipelines ingest from and export to ORC, JSON-lines, and CSV. The two
rules this module enforces:

- **Writes are format-explicit and overwrite-atomic** per Spark's file
  committer; CSV always writes a header so files are self-describing.
- **Reads never infer schemas.** Schema inference is an extra full scan
  AND a correctness hazard (a column of "123"-shaped strings silently
  becomes int on Monday and string on Tuesday). Callers pass the
  authoritative schema; the reader applies it in FAILFAST mode so a
  malformed row is an error, not a silent null.

Format capability notes (enforced here, not discovered at runtime):
CSV cannot carry arrays/structs/maps (flat schemas only); JSON-lines
carries arrays natively; ORC and parquet carry everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType

SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv")

_FLAT_ONLY = frozenset({"csv"})


def _check_format(fmt: str) -> str:
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {SUPPORTED_FORMATS}")
    return fmt


def _has_nested(schema: StructType) -> bool:
    return any(
        isinstance(f.dataType, (ArrayType, MapType, StructType)) for f in schema.fields
    )


def write_as(df: DataFrame, path: str, fmt: str, partition_by: list[str] | None = None) -> None:
    """Persist ``df`` at ``path`` in ``fmt`` (overwrite semantics)."""
    _check_format(fmt)
    if fmt in _FLAT_ONLY and _has_nested(df.schema):
        raise ValueError(f"{fmt} cannot carry nested columns: {df.schema.simpleString()}")
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_as(spark: SparkSession, path: str, fmt: str, schema: StructType) -> DataFrame:
    """Load ``path`` as ``fmt`` with the given authoritative schema."""
    _check_format(fmt)
    reader = spark.read.format(fmt).schema(schema)
    if fmt in ("csv", "json"):
        reader = reader.option("mode", "FAILFAST")
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def roundtrip(df: DataFrame, path: str, fmt: str) -> DataFrame:
    """Write then re-read — the equivalence contract used by the tests:
    any registered query must produce identical results over a
    round-tripped copy of its inputs."""
    write_as(df, path, fmt)
    return read_as(df.sparkSession, path, fmt, df.schema)


def shard_expr(key_col: str, n_shards: int):
    """Deterministic shard id 0..n_shards-1 from md5 of the key.

    15 hex chars = 60 bits, inside a signed BIGINT, so the modulo is
    exact integer arithmetic — never double-rounded. Pure column
    expression: the assignment depends only on the key value, never on
    partitioning, task order, or cluster size."""
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
    return (h.cast("bigint") % n_shards).cast("int")


def write_clustered(
    df: DataFrame, path: str, cluster_by: list[str], n_files: int
) -> None:
    """Range-cluster the data on ``cluster_by`` before writing, so each
    output file covers a narrow value range of those columns.

    Parquet scans prune by file- and row-group-level min/max statistics;
    on an unclustered layout every file spans the whole value domain and
    nothing can be skipped. Range partitioning + an in-partition sort
    gives each file a tight (min, max) envelope on the cluster columns —
    a filter on them then reads a handful of files instead of all of
    them. This is the single biggest scan lever at 100 TB after
    partition pruning; the layout cost is one range shuffle at write
    time. (Range clustering, the layout Spark produces natively; a
    multi-column needle-in-everything workload would interleave bits —
    z-order — at the cost of per-column envelope width.)"""
    (
        df.repartitionByRange(n_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite a parquet directory into ~target-sized files and return
    the new file count.

    Long-running ingest (streaming epochs, per-task appends) accretes
    thousands of tiny files; every downstream scan then pays one task +
    one open per file. Compaction sizes output by actual on-disk bytes
    — not row counts, which misestimate wide/narrow tables — stages the
    rewrite through a sibling temp dir, and VALIDATES the compacted copy
    (row count and schema vs source) before the original is touched, so
    a failed or short rewrite never destroys data. Leftovers from a
    crashed prior run are detected up front: a stranded ``_compact_old``
    aborts with explicit recovery instructions; a stranded
    ``_compact_tmp`` (unvalidated partial write) is cleared.

    Durability caveat, stated plainly: the swap is two ``os.rename``
    calls, not one atomic operation. Between them the directory briefly
    does not exist (a concurrent reader opening at that instant fails
    and should retry), and a crash in the window leaves the data intact
    under ``<path>._compact_old`` — recoverable by renaming back, never
    half-written. POSIX offers no atomic directory *swap*; on object
    storage the same pattern lands under a new prefix and flips a
    table/catalog pointer instead — the reference's metadata-pointer
    model, `CatalogMigrator.java:208-224`, applied to file layout."""
    import glob
    import os
    import shutil

    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # leftovers from a crashed prior run: a stranded _old means the swap
    # died mid-flight and PATH may be the (validated) new copy or gone —
    # refuse with the recovery step rather than guess; a stranded _tmp is
    # just an unvalidated partial write, safe to clear
    if os.path.exists(old):
        raise RuntimeError(
            f"found {old!r} from an interrupted compaction swap; recover "
            f"first: if {path!r} is missing or incomplete, rename "
            f"{old!r} back to {path!r}, otherwise delete {old!r}"
        )
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    src_rows = df.count()
    try:
        # repartition (not coalesce): coalesce collapses scan parallelism
        # into the write tasks; a shuffle keeps the read wide and only the
        # final write narrow
        df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)
        rewritten = spark.read.parquet(tmp)
        new_rows = rewritten.count()
        if new_rows != src_rows:
            raise RuntimeError(
                f"compaction rewrite of {path!r} produced {new_rows} rows, "
                f"expected {src_rows}; original left untouched"
            )
        if rewritten.schema != df.schema:
            raise RuntimeError(
                f"compaction rewrite of {path!r} changed the schema "
                f"({df.schema.simpleString()} -> "
                f"{rewritten.schema.simpleString()}); original left untouched"
            )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def write_sharded(
    df: DataFrame, path: str, key_col: str, n_shards: int, fmt: str = "parquet"
) -> None:
    """Sharded corpus export: every row lands in shard
    ``md5(key) % n_shards`` regardless of input partitioning or
    parallelism, so re-running the export (on any cluster size)
    produces identical shard membership — the property downstream
    training jobs need to resume, cache, and mix shards by name.
    Repartitioning on the shard column means each shard directory is
    written by one task set with no cross-shard file interleaving."""
    sharded = df.withColumn("shard", shard_expr(key_col, n_shards))
    write_as(sharded.repartition(n_shards, "shard"), path, fmt, partition_by=["shard"])


def zorder_expr(x_col: str, y_col: str, bits: int = 16):
    """Morton (z-order) key: interleave ``bits`` bits of two normalized
    non-negative integer columns. Pure column expression — JVM-side,
    deterministic, no UDF."""
    from pyspark.sql import functions as F

    terms = []
    for i in range(bits):
        terms.append(
            f"shiftleft(shiftright({x_col}, {i}) & 1, {2 * i})"
        )
        terms.append(
            f"shiftleft(shiftright({y_col}, {i}) & 1, {2 * i + 1})"
        )
    return F.expr(" + ".join(terms)).cast("bigint")


def write_zorder_clustered(
    df: DataFrame, path: str, x_col: str, y_col: str, n_files: int, bits: int = 16
) -> None:
    """Two-dimensional clustering: range-partition on the Morton key so
    every output file covers a small RECTANGLE of the (x, y) domain.

    ``write_clustered`` on one column gives tight envelopes on that
    column and full-width envelopes on every other; a workload that
    filters on either of two columns needs both envelopes bounded, and
    bit interleaving is the standard trade — each file's per-column
    envelope is ~sqrt(files) wider than a dedicated sort, but BOTH
    columns prune. The normalization min/max are four scalars collected
    at layout time (the same class of metadata read repartitionByRange's
    sampling does); the z-key itself is a pure column expression, so the
    layout cost stays one range shuffle."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # timestamps cluster by their epoch micros; numerics as-is
    def _numeric(col: str):
        if isinstance(df.schema[col].dataType, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(F.col(col))
        return F.col(col)

    nx, ny = _numeric(x_col), _numeric(y_col)
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(nx), F.max(nx), F.min(ny), F.max(ny)
    ).collect()[0]
    top = (1 << bits) - 1
    span_x = max(1, hi_x - lo_x)
    span_y = max(1, hi_y - lo_y)
    xn = ((nx - lo_x) * top / span_x).cast("bigint")
    yn = ((ny - lo_y) * top / span_y).cast("bigint")
    z = df.withColumn("_zx", xn).withColumn("_zy", yn).withColumn(
        "_z", zorder_expr("_zx", "_zy", bits)
    )
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_zx", "_zy", "_z")
        .write.mode("overwrite")
        .parquet(path)
    )
