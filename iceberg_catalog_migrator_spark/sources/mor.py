"""Merge-on-read equality deletes: the one module that owns their rules.

An equality-delete file lists key tuples; it hides a data row iff the
row's key tuple is listed AND the delete is sequenced after the row's
data file (Iceberg's data-sequence-number rule). Every read path —
the snapshot-table DataFrame reads (``snapshots.py``), the connector's
per-file Arrow readers (``snapshot_stream.py``) and the foreign Iceberg
reader (``iceberg_read.py``) — applies that rule through this module:

- :func:`_key_type` / :func:`_keys_table`: one key schema and one
  driver- or executor-side Arrow loader for delete files, whichever
  writer produced them;
- :func:`_filter_by_keys`: the Arrow semi/anti selection of data rows
  by a loaded key set;
- :func:`_eq_applies` / :func:`_eq_exempt_files`: the sequence rule
  per (delete file, data file), for Arrow and Python planners;
- :func:`_hide_sequenced`: the same rule as one DataFrame kernel.

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
