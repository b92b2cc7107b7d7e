"""Merge-on-read deletes: the one module that owns their rules, for
both delete kinds.

An equality-delete file lists key tuples; it hides a data row iff the
row's key tuple is listed AND the delete is sequenced after the row's
data file (Iceberg's data-sequence-number rule). A positional delete
names ``(file, pos)`` coordinates — a data file and a row ordinal in
it — and hides exactly those physical rows. Every read path — the
snapshot-table DataFrame reads (``snapshots.py``), the connector's
per-file Arrow readers (``snapshot_stream.py``), the foreign Iceberg
reader and adopter (``iceberg_read.py``) and the Iceberg exporter
(``iceberg_format.py``) — applies those rules through this module:

- :func:`_key_type` / :func:`_keys_table`: one key schema and one
  driver- or executor-side Arrow loader for equality-delete files,
  whichever writer produced them;
- :func:`_filter_by_keys`: the Arrow semi/anti selection of data rows
  by a loaded key set;
- :func:`_eq_applies` / :func:`_eq_exempt_files`: the sequence rule
  per (delete file, data file), for Arrow and Python planners;
- :func:`_hide_sequenced`: the same rule as one DataFrame kernel;
- :func:`_coords_table`: one Arrow loader of the distinct delete
  coordinates of any mix of the three coordinate formats — the
  engine's vector parquet (``_file`` / ``_pos``), spec position-delete
  parquet (``file_path`` / ``pos``) and puffin deletion vectors (DVs)
  — optionally scoped to some data files;
- :func:`_coords_df`: the same coordinates as a DataFrame under a
  declared schema (no schema-inference job), DVs decoded
  executor-side;
- :func:`_by_coords`: the DataFrame semi/anti selection of rows by a
  coordinate frame;
- :func:`_row_identity`: each data row's ``(file, pos)`` coordinates,
  from Spark's parquet ``_metadata`` columns.

Null keys never match, on every path (SQL equi-join semantics).
"""

from __future__ import annotations

import pyarrow as pa


def _delete_seq(snap: dict, d: str) -> float:
    """Sequence stamp of delete file ``d``; a legacy unstamped delete
    reads as +infinity (applies to everything)."""
    return snap.get("delete_seqs", {}).get(d, float("inf"))


def _file_seq(snap: dict, f: str) -> int:
    """Sequence stamp of data file ``f``; a legacy unstamped data file
    reads as 0 (older than every delete)."""
    return snap.get("file_seqs", {}).get(f, 0)


def _eq_applies(snap: dict, d: str, f: str) -> bool:
    """Does equality-delete file ``d`` apply to data file ``f`` under
    ``snap``? Iceberg's data-sequence rule: only when the delete is
    sequenced AFTER the data file."""
    return _delete_seq(snap, d) > _file_seq(snap, f)


def _eq_exempt_files(snap: dict, files: list[str]) -> list[str]:
    """Data files among ``files`` escaping AT LEAST ONE pending
    equality delete — those the OLDEST delete file does not reach (a
    key re-appended after its deletion, an append after any delete, or
    a merge's own output). A file between the oldest and a younger
    delete's sequence is still hidden by the younger deletes, so this
    is a TRIGGER for the per-file sequence-aware path, not a
    skip-deletes-entirely list. Empty only while every data file is
    older than every pending delete (no append since the first one)."""
    dels = snap.get("deletes", [])
    if not dels:
        return []
    oldest = min(dels, key=lambda d: _delete_seq(snap, d))
    return [f for f in files if not _eq_applies(snap, oldest, f)]


def _key_type(t: pa.DataType) -> pa.DataType:
    """The one Arrow type a delete-key column loads as, whichever
    writer produced the file: integers widen to int64, floats to
    float64, large strings/binaries narrow to the plain ones, and
    timestamps go to microseconds — UTC-adjusted when the file says so
    or when they are Spark's legacy INT96 (read as naive nanoseconds),
    naive otherwise (TIMESTAMP_NTZ)."""
    if pa.types.is_signed_integer(t):
        return pa.int64()
    if pa.types.is_floating(t):
        return pa.float64()
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_timestamp(t):
        utc = t.tz is not None or t.unit == "ns"
        return pa.timestamp("us", tz="UTC" if utc else None)
    return t


def _keys_table(paths: list, keys: list, seqs: list | None = None) -> pa.Table:
    """Distinct keys-only arrow table from the given delete files —
    small by the merge-on-read write contract — with every file cast to
    one key schema (:func:`_key_type`) so Spark- and Arrow-written
    files, or files written before a key widening, concatenate. With
    ``seqs`` (one sequence number per path) each key also carries
    ``_dseq``, the largest sequence among the files listing it: a key
    hides a row iff some delete file sequenced after the row's data
    file lists it."""
    import pyarrow.parquet as pq

    parts = []
    for i, p in enumerate(paths):
        t = pq.read_table(p, columns=keys)
        t = t.cast(pa.schema([(f.name, _key_type(f.type)) for f in t.schema]))
        if seqs is not None:
            dseq = pa.array([float(seqs[i])] * len(t), pa.float64())
            t = t.append_column("_dseq", dseq)
        parts.append(t)
    grouped = pa.concat_tables(parts).group_by(keys)
    if seqs is None:
        return grouped.aggregate([])
    return grouped.aggregate([("_dseq", "max")]).rename_columns([*keys, "_dseq"])


def _filter_by_keys(
    tbl: pa.Table, keys_tbl: pa.Table, keys: list, keep_matching: bool
) -> pa.Table:
    """Order-preserving semi/anti selection of ``tbl`` rows whose key
    tuple appears in ``keys_tbl`` — vectorized (arrow is_in / hash
    join). Null keys never match (SQL semantics, the same as the
    DataFrame joins of :func:`_hide_sequenced` and the snapshot reads'
    left-anti join)."""
    import numpy as np
    import pyarrow.compute as pc

    # the data side's key columns are compared in the delete keys'
    # (widened, unit-normalized) types
    if len(keys) == 1:
        k = keys[0]
        col = tbl[k].cast(keys_tbl.schema.field(k).type)
        in_set = pc.is_in(col, value_set=keys_tbl[k].combine_chunks().drop_null())
        mask = pc.fill_null(in_set if keep_matching else pc.invert(in_set), False)
        return tbl.filter(mask)
    idx = pa.array(np.arange(len(tbl), dtype="int64"))
    tmp = tbl.select(keys).cast(keys_tbl.select(keys).schema)
    tmp = tmp.append_column("__idx", idx)
    join_type = "left semi" if keep_matching else "left anti"
    kept = tmp.join(keys_tbl, keys=keys, join_type=join_type)
    return tbl.take(np.sort(kept["__idx"].to_numpy(zero_copy_only=False)))


def _hide_sequenced(
    df, file_seqs, keys, key_cols: list, file_col: str, broadcast_keys: bool
):
    """Rows of ``df`` that no sequence-scoped equality delete hides —
    :func:`_eq_applies` as one DataFrame kernel. ``file_seqs`` maps
    each data file (``file_col``, a column ``df`` carries) to its
    sequence number ``_fseq``; ``keys`` holds each deleted key tuple
    with ``_dseq``, the largest sequence among the delete files listing
    it. A row survives iff its key is unlisted or listed only by
    deletes sequenced at or before its file. The file map is
    metadata-sized and broadcast; ``broadcast_keys`` says whether the
    key frame is too (driver-loaded key sets are, Spark-built ones are
    left to the planner)."""
    from pyspark.sql import functions as F

    return (
        df.join(F.broadcast(file_seqs), file_col, "left")
        .join(F.broadcast(keys) if broadcast_keys else keys, key_cols, "left")
        .filter(F.col("_dseq").isNull() | (F.col("_dseq") <= F.col("_fseq")))
        .drop("_dseq", "_fseq")
    )


# ------------------------------------------------------------ positional
_COORDS = ["_file", "_pos"]
_COORD_SCHEMA = pa.schema([("_file", pa.string()), ("_pos", pa.int64())])


def _dv_coords(dv: dict) -> pa.Table:
    """The coordinates one deletion vector holds: ``dv`` is a
    ``{puffin, offset, length, referenced}`` descriptor, the blob the
    COMPLETE position set of its one referenced data file."""
    from .puffin import dv_positions, read_blob

    blob = read_blob(dv["puffin"], int(dv["offset"]), int(dv["length"]))
    pos = pa.array(dv_positions(blob), pa.int64())
    return pa.table(
        [pa.repeat(dv["referenced"], len(pos)), pos], schema=_COORD_SCHEMA
    )


def _coords_table(sources: list, files=None) -> pa.Table:
    """Distinct ``(_file, _pos)`` delete coordinates of ``sources``,
    sorted, loaded driver-side. A source is a parquet path — the
    engine's vector file or a spec position-delete file, told apart by
    its footer — or a DV descriptor (a dict, see :func:`_dv_coords`).
    ``_file`` is the data file as the source names it (table-relative
    for engine vectors, the manifest path otherwise). ``files`` keeps
    only coordinates in those data files; a DV referencing none of
    them is not decoded."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keep = None if files is None else pa.array(sorted(set(files)), pa.string())
    parts = [_COORD_SCHEMA.empty_table()]
    for s in sources:
        if isinstance(s, dict):
            if files is not None and s["referenced"] not in files:
                continue
            t = _dv_coords(s)
        else:
            with pq.ParquetFile(s) as pf:
                engine = "_file" in pf.schema_arrow.names
                t = pf.read(columns=_COORDS if engine else ["file_path", "pos"])
            t = t.rename_columns(_COORDS).cast(_COORD_SCHEMA)
        if keep is not None:
            t = t.filter(pc.is_in(t["_file"], value_set=keep))
        parts.append(t)
    t = pa.concat_tables(parts).group_by(_COORDS).aggregate([])
    return t.sort_by([(c, "ascending") for c in _COORDS])


def _basename(c):
    """The last path segment of string Column ``c``."""
    from pyspark.sql import functions as F

    return F.element_at(F.split(c, "/"), -1)


def _coords_df(spark, sources: list, file_key=None, names=_COORDS):
    """:func:`_coords_table`'s coordinates as a distributed, distinct
    DataFrame with columns ``names``. Both parquet layouts are read in
    one scan under one declared schema — each file fills the pair of
    columns it has — so no schema-inference job runs. DV bitmaps decode
    EXECUTOR-side, one task per blob: the driver ships only the
    metadata-sized descriptors, so 10^9 deleted positions never reach
    driver memory. ``file_key`` (a Column function) rewrites the file
    column, e.g. to :func:`_basename` to meet :func:`_row_identity`."""
    from pyspark.sql import functions as F

    paths = [s for s in sources if not isinstance(s, dict)]
    dvs = [s for s in sources if isinstance(s, dict)]
    parts = []
    if paths:
        raw = spark.read.schema(
            "_file string, _pos bigint, file_path string, pos bigint"
        ).parquet(*paths)
        parts.append(
            raw.select(
                F.coalesce("_file", "file_path").alias("_file"),
                F.coalesce("_pos", "pos").alias("_pos"),
            )
        )
    if dvs:
        meta = spark.createDataFrame(
            [(d["referenced"], d["puffin"], d["offset"], d["length"]) for d in dvs],
            "referenced string, puffin string, offset bigint, length bigint",
        )
        if len(dvs) > 1:  # one task per blob: expansion parallelizes
            meta = meta.repartition(min(len(dvs), 64))

        def expand(batches):
            for pdf in batches:
                for dv in pdf.to_dict("records"):
                    yield _dv_coords(dv).to_pandas()

        parts.append(meta.mapInPandas(expand, "_file string, _pos bigint"))
    out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    if file_key is not None:
        out = out.withColumn("_file", file_key(F.col("_file")))
    return out.distinct().toDF(*names)


def _by_coords(df, coords, keep_matching: bool):
    """Rows of ``df`` whose ``(file, pos)`` coordinates — the columns
    ``coords`` carries, e.g. from :func:`_row_identity` — are (semi)
    or are not (anti) listed in ``coords``."""
    how = "left_semi" if keep_matching else "left_anti"
    return df.join(coords, coords.columns, how)


def _row_identity(prefix: str = "", names=_COORDS) -> list:
    """Each raw row's ``(file, pos)`` coordinates as two Columns named
    ``names``, from Spark's parquet ``_metadata`` (JVM-side, exact, no
    extra scan): ``prefix`` + the data file's basename, and the row's
    ordinal in it. The engine keys its vectors by ``data/<name>`` so a
    table can move; a foreign reader keys by the basename alone.
    ``_metadata.file_path`` percent-escapes specials (space -> %20)
    while manifests and vectors hold raw names, so the basename is
    decoded — only when a '%' is present, which keeps a literal '+'
    intact (url_decode would turn it into a space)."""
    from pyspark.sql import functions as F

    b = _basename(F.col("_metadata.file_path"))
    b = F.when(b.contains("%"), F.url_decode(b)).otherwise(b)
    return [
        F.concat(F.lit(prefix), b).alias(names[0]),
        F.col("_metadata.row_index").alias(names[1]),
    ]
