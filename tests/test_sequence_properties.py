"""Property-based sequence-number semantics: hypothesis-generated
interleavings of append / equality-delete / positional-delete /
compaction / merge-upsert replayed against a pure-Python VISIBLE-SET
reference.

The point of Iceberg's data-sequence-number rule (spec: equality delete
files apply only to data files from strictly prior sequence numbers) is
that every operation behaves as a point-in-time edit of the visible row
set — a delete can never reach forward into rows appended after it, a
merge's output can never be swallowed by the deletes it read through.
So the naive sequential model IS the specification, and the engine's
physical machinery (per-file sequence stamps, delete-file carry and
hygiene rewrites, vector coordinates, merge COW + consumed-entry drops,
compaction) must reproduce it exactly on every interleaving.

Every history is also read back through the other two equality-delete
kernels — the ``snapshot_commits`` batch reader (per-file Arrow) and an
Iceberg export read by ``read_iceberg_table`` — and through the v2
export adopted back into the engine (its position-delete files
converted to vectors); each must return the same bag of rows. The
changelog from the first snapshot to the head must be the reference's
multiset difference, and the legacy metadata COUNT(*) (no maintained
``visible_rows``: record counts minus vector coordinates) must match
the reference, or refuse while an equality delete is pending.

Same style as the MERGE property test; the per-example Spark round trip
caps max_examples."""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources.iceberg_format import (
    export_iceberg_metadata,
)
from iceberg_catalog_migrator_spark.sources.iceberg_read import (
    adopt_iceberg_table,
    read_iceberg_table,
)
from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
    register_snapshot_stream_source,
)
from iceberg_catalog_migrator_spark.sources.snapshots import (
    SnapshotError,
    SnapshotTable,
    compact_deletes,
    delete_where,
    delete_where_positional,
    merge_upsert,
    metadata_count,
    read_with_deletes,
)

rows_batches = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 50)), min_size=1, max_size=6
)

ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), rows_batches),
        st.tuples(
            st.just("delete_eq"),
            st.sets(st.integers(0, 9), min_size=1, max_size=4),
        ),
        # predicate k % m = r over the physical rows
        st.tuples(
            st.just("pos_delete"),
            st.tuples(st.integers(2, 4), st.integers(0, 3)),
        ),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(
            st.just("merge"),
            st.dictionaries(
                st.integers(0, 9), st.integers(0, 50), min_size=1, max_size=4
            ),
        ),
    ),
    min_size=1,
    max_size=5,
)


def _reference(initial, op_list):
    """The visible (k, v) multiset after replaying the ops naively."""
    visible = list(initial)
    for kind, arg in op_list:
        if kind == "append":
            visible.extend(arg)
        elif kind == "delete_eq":
            visible = [(k, v) for k, v in visible if k not in arg]
        elif kind == "pos_delete":
            m, r = arg
            r %= m
            visible = [(k, v) for k, v in visible if k % m != r]
        elif kind == "compact":
            pass  # row-preserving
        elif kind == "merge":
            # merge_upsert's documented contract: delta rows REPLACE
            # current rows with the same key (duplicate-keyed target
            # rows deliberately collapse to the one delta row), and
            # unmatched delta rows insert
            visible = [(k, v) for k, v in visible if k not in arg]
            visible.extend(sorted(arg.items()))
    return Counter(visible)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(rows_batches, ops)
def test_op_interleavings_match_visible_set_reference(
    spark, tmp_path_factory, initial, op_list
):
    root = tmp_path_factory.mktemp("seq_prop")
    table = SnapshotTable(spark, str(root / "tbl"))
    first = table.append(spark.createDataFrame(initial, "k long, v long"))
    for kind, arg in op_list:
        if kind == "append":
            table.append(spark.createDataFrame(arg, "k long, v long"))
        elif kind == "delete_eq":
            delete_where(
                table,
                ["k"],
                spark.createDataFrame([(k,) for k in sorted(arg)], "k long"),
            )
        elif kind == "pos_delete":
            m, r = arg
            delete_where_positional(table, f"k % {m} = {r % m}")
        elif kind == "compact":
            compact_deletes(table)
        elif kind == "merge":
            merge_upsert(
                table,
                spark.createDataFrame(
                    sorted(arg.items()), "k long, v long"
                ),
                ["k"],
            )
    def bag(df):
        return Counter((r["k"], r["v"]) for r in df.collect())

    got = bag(read_with_deletes(table))
    ref = _reference(initial, op_list)
    assert got == ref
    register_snapshot_stream_source(spark)
    batch = spark.read.format("snapshot_commits").option("path", table.path)
    assert bag(batch.load()) == ref
    exported = export_iceberg_metadata(table)  # v2: no row lineage
    assert bag(read_iceberg_table(spark, exported["metadata_location"])) == ref
    adopted = adopt_iceberg_table(
        spark, exported["metadata_location"], str(root / "adopted")
    )
    assert bag(read_with_deletes(adopted)) == ref
    changes = table.read_changelog(first, table.current_snapshot_id()).collect()
    before = Counter(initial)
    for kind, expected in (("insert", ref - before), ("delete", before - ref)):
        assert Counter(
            (r["k"], r["v"]) for r in changes if r["_change_type"] == kind
        ) == expected
    # the maintained visible-row summary (metadata-only COUNT(*)) must
    # agree with the scan across EVERY delete/merge/compact interleaving
    head = table._load_snap(table.current_snapshot_id())
    assert head.get("visible_rows") == sum(ref.values())
    assert metadata_count(table) == sum(ref.values())
    # without the summary, COUNT(*) falls back to record counts minus
    # the distinct vector coordinates, and refuses pending equality
    # deletes
    load = table._load_snap
    table._load_snap = lambda sid: {
        k: v for k, v in load(sid).items() if k != "visible_rows"
    }
    if head.get("deletes"):
        with pytest.raises(SnapshotError, match="pending equality deletes"):
            metadata_count(table)
    else:
        assert metadata_count(table) == sum(ref.values())
