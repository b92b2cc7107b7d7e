"""Property test of the file-pruning planner (``sources/pruning.py``).

Tables are built through the public API — identity, ``bucket[N]``,
``truncate[W]`` and ``day`` partition specs, plain appends without
stats, ``record_file_stats``, ``track_schema``, ``widen_column``
(int -> bigint) and ``rename_column`` — and probed with point sets,
ranges and merge sources whose key type may be narrower than the
table's. For every plan:

- the kept files are a superset of the files holding a matching row,
  read file by file with pyarrow;
- the columnar plan keeps exactly what the manifest dict loop keeps on
  the same value sets;
- a ``merge_upsert`` of that source leaves the visible rows equal to a
  Python model.
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import pruning
from iceberg_catalog_migrator_spark.sources.plan_index import _part_meta_from_snap
from iceberg_catalog_migrator_spark.sources.snapshots import (
    SnapshotTable,
    _merge_prune,
    _written_column_name,
    append_partitioned,
    merge_upsert,
    record_file_stats,
    rename_column,
    track_schema,
    widen_column,
)

D0 = datetime.date(2024, 1, 1)
SCHEMA = "k {}, s string, d date, v bigint"

_specs = st.lists(
    st.sampled_from(
        [
            ("k", "identity"),
            ("k", "bucket[4]"),
            ("k", "bucket[8]"),
            ("k", "truncate[1]"),
            ("s", "identity"),
            ("s", "truncate[1]"),
            ("d", "day"),
        ]
    ),
    min_size=1,
    max_size=2,
    unique_by=lambda e: e[0],
)
_steps = st.lists(
    st.one_of(
        st.tuples(st.just("partitioned"), _specs),
        st.sampled_from(
            [("plain",), ("stats",), ("track",), ("widen",), ("rename",)]
        ),
    ),
    max_size=4,
)


def _row(k: int, v: int) -> tuple:
    return (k, "abcde"[k % 5] * (1 + k % 2), D0 + datetime.timedelta(days=k % 4), v)


class _Table:
    """A snapshot table plus the model of its rows and its key column's
    current name and type."""

    def __init__(self, spark, path, ktype):
        self.t = SnapshotTable(spark, path)
        self.spark = spark
        self.key, self.ktype = "k", ktype
        self.tracked = False
        self.rows: list[tuple] = []

    def frame(self, rows, ktype=None):
        df = self.spark.createDataFrame(rows, SCHEMA.format(ktype or self.ktype))
        return df.withColumnRenamed("k", self.key).repartition(2)

    def apply(self, step, n: int):
        rows = [_row(k, n) for k in range(n * 7 % 30, n * 7 % 30 + 24)]
        op = step[0]
        if op == "partitioned":
            spec = [(self.key if c == "k" else c, tr) for c, tr in step[1]]
            append_partitioned(self.t, self.frame(rows), spec)
        elif op == "plain":
            self.t.append(self.frame(rows).coalesce(1))
        elif op == "stats":
            record_file_stats(self.t, [self.key])
            return
        elif op == "track" and not self.tracked:
            track_schema(self.t)
            self.tracked = True
            return
        elif op == "widen" and self.tracked and self.ktype == "int":
            widen_column(self.t, self.key, "bigint")
            self.ktype = "bigint"
            return
        elif op == "rename" and self.tracked and self.key == "k":
            rename_column(self.t, "k", "key")
            self.key = "key"
            return
        else:
            return
        self.rows += rows

    def matching_files(self, snap, match) -> set:
        """Files holding a row for which ``match({column: value})`` holds,
        read file by file under the names each file was written with."""
        out = set()
        for f in snap["files"]:
            names = {c: _written_column_name(snap, f, c) for c in (self.key, "s", "d")}
            tbl = pq.read_table(os.path.join(self.t.path, f))
            cols = {
                c: tbl.column(w).to_pylist() if w in tbl.column_names else [None] * tbl.num_rows
                for c, w in names.items()
            }
            if any(
                match({c: cols[c][i] for c in cols}) for i in range(tbl.num_rows)
            ):
                out.add(f)
        return out


def _check_plan(table, sid, snap, ranges, values, cols, match, **kw):
    plan = pruning.plan_files(table.t, sid, ranges, values, cols, snap=snap, **kw)
    assert set(plan.files) >= table.matching_files(snap, match)
    if plan.doc is not None:
        dict_plan = pruning._plan_dict(
            snap, ranges, plan.wanted, _part_meta_from_snap(snap), None
        )
        assert sorted(dict_plan.files) == sorted(plan.files)
    return plan


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    ktype=st.sampled_from(["int", "bigint"]),
    first=_specs,
    steps=_steps,
    point=st.integers(-2, 60),
    other=st.sampled_from([None, ("s", "b"), ("s", "cc"), ("d", D0)]),
    lo=st.integers(-2, 60),
    width=st.integers(0, 20),
    src_keys=st.lists(st.integers(-2, 60), min_size=1, max_size=4, unique=True),
    narrow=st.booleans(),
)
def test_planner_keeps_every_matching_file(
    spark, ktype, first, steps, point, other, lo, width, src_keys, narrow
):
    with tempfile.TemporaryDirectory() as root:
        tb = _Table(spark, os.path.join(root, "t"), ktype)
        for n, step in enumerate([("partitioned", first), *steps]):
            tb.apply(step, n)
        key = tb.key
        sid = tb.t.current_snapshot_id()
        snap = tb.t._load_snap(sid)

        # point sets (a scan builds the sidecar)
        values = {key: [point], **({other[0]: [other[1]]} if other else {})}
        _check_plan(
            tb, sid, snap, (), values, list(values),
            lambda r: all(r[c] == vs[0] for c, vs in values.items()),
        )
        # a range on the key column
        hi = lo + width
        _check_plan(
            tb, sid, snap, [(key, ">=", lo), (key, "<=", hi)], None, (),
            lambda r: r[key] is not None and lo <= r[key] <= hi,
        )

        # a merge source, possibly typed narrower than the table's key
        src_type = "int" if narrow else tb.ktype
        src_rows = [_row(k, 99) for k in src_keys]
        src = tb.frame(src_rows, src_type)
        keys = set(src_keys)
        ranges = [(key, ">=", min(keys)), (key, "<=", max(keys))]
        _check_plan(
            tb, sid, snap, ranges, src, [key], lambda r: r[key] in keys,
            build_index=False,
        )
        bounds = src.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        touched, _, _ = _merge_prune(tb.t, snap, src, [key], bounds)
        assert set(touched) >= tb.matching_files(snap, lambda r: r[key] in keys)

        merge_upsert(tb.t, src, [key])
        want = sorted([r for r in tb.rows if r[0] not in keys] + src_rows)
        got = tb.t.read().select(key, "s", "d", "v").collect()
        assert sorted(tuple(r) for r in got) == want
