"""Property-based, differential MERGE semantics: both copy-on-write entry
points, each replayed against its own pure-Python model over generated
target tables — duplicate and null keys, an ``int`` source into a
``bigint`` table, row-lineage tables, pending deletion vectors and
pending equality deletes.

- :func:`merge_into` against the ANSI MERGE contract: first clause
  wins, unmatched-target rows kept, unmatched-source rows take the
  first insert clause or drop, MOR-hidden rows count as NOT MATCHED,
  nulls never match.
- :func:`merge_upsert` against an anti-join + union: every visible
  target row whose key the source carries gives way, and every source
  row lands (an updated key keeps the smallest id it replaces).
- On key-unique targets the two agree with each other when
  ``merge_into`` runs ``update *`` + ``insert *`` (on a branch at the
  upsert's parent snapshot).

On a lineage table kept and updated rows keep their ``_row_id`` and
inserts take fresh consecutive ids in key order. Insert clauses assign
``*``, a literal or the key alone, and every merged column must read
back with the table's type. The per-example Spark round trips cap
tier-1 at the ``tier1`` hypothesis profile's count;
``SPARK_GRAFT_HYPOTHESIS=sweep`` runs the sweep's (tests/conftest.py)."""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_catalog_migrator_spark.sources.snapshots import (
    MergeClause,
    SnapshotTable,
    delete_where,
    delete_where_positional,
    enable_row_lineage,
    merge_into,
    merge_upsert,
    read_with_deletes,
    read_with_lineage,
)

# conditions over the joined row: target columns bare, source as src_*.
# Insert-clause conditions may reference SOURCE columns only (SQL null
# semantics would make a target reference vacuously false anyway).
_CONDS = {
    None: lambda v, sv: True,
    "v % 2 = 0": lambda v, sv: v % 2 == 0,
    "src_v > 50": lambda v, sv: sv > 50,
    "v < src_v": lambda v, sv: v < sv,
}
_INS_CONDS = {
    None: lambda sv: True,
    "src_v % 2 = 1": lambda sv: sv % 2 == 1,
    "src_v > 50": lambda sv: sv > 50,
}
_ASSIGNS = {
    "*": lambda k, v, sv: (k, sv),
    "bump": lambda k, v, sv: (k, sv + 100),
    "keep_v": lambda k, v, sv: (k, v + 1),
}
_ASSIGN_SQL = {
    "*": "*",
    "bump": {"v": "src_v + 100"},
    "keep_v": {"v": "v + 1"},
}
# insert assignments: a literal is an int into the bigint table, and a
# column an insert leaves unassigned is NULL
_INS_ASSIGNS = {
    "*": lambda k, sv: (k, sv),
    "zero": lambda k, sv: (k, 0),
    "key_only": lambda k, sv: (k, None),
}
_INS_ASSIGN_SQL = {
    "*": "*",
    "zero": {"k": "src_k", "v": "0"},
    "key_only": {"k": "src_k"},
}
# pending deletion vectors: rows matching the predicate are hidden
_POS = {
    None: lambda v: False,
    "v % 3 = 0": lambda v: v % 3 == 0,
    "v > 80": lambda v: v > 80,
}

matched_clauses = st.lists(
    st.one_of(
        st.tuples(
            st.just("update"),
            st.sampled_from(sorted(_CONDS, key=str)),
            st.sampled_from(sorted(_ASSIGNS)),
        ),
        st.tuples(
            st.just("delete"), st.sampled_from(sorted(_CONDS, key=str)), st.none()
        ),
    ),
    max_size=3,
)
insert_clauses = st.lists(
    st.tuples(
        st.just("insert"),
        st.sampled_from(sorted(_INS_CONDS, key=str)),
        st.sampled_from(sorted(_INS_ASSIGNS)),
    ),
    max_size=2,
)
# about one key in eleven is null: nulls never match in MERGE ON
keys = st.integers(-1, 9).map(lambda k: None if k < 0 else k)
target_rows = st.lists(st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=12)
unique_target_rows = st.dictionaries(
    st.integers(0, 9), st.integers(0, 100), min_size=1, max_size=10
).map(lambda d: sorted(d.items()))
source_rows = st.dictionaries(
    st.integers(-1, 12).map(lambda k: None if k < 0 else k),
    st.integers(0, 100),
    max_size=8,
)


def _states(rows):
    return st.fixed_dictionaries(
        {
            "rows": rows,
            "lineage": st.booleans(),
            "eq_keys": st.sets(st.integers(0, 9), max_size=3),
            "pos": st.sampled_from(sorted(_POS, key=str)),
            "narrow": st.booleans(),
        }
    )


def _key_order(row):
    return (row[0] is not None, row[0] or 0)  # Spark's ascending: nulls first


def _table(spark, path, state):
    """The target table in the generated state: the rows appended in key
    order (so files hold disjoint key ranges and pruning carries some),
    then lineage, an equality delete and a deletion vector, each when
    the state asks for it. Returns the table, its visible rows as
    ``(k, v, _row_id)`` (id None without lineage) and the id counter."""
    t = SnapshotTable(spark, path)
    rows = sorted(state["rows"], key=_key_order)
    t.append(spark.createDataFrame(rows, "k long, v long"))
    if state["lineage"]:
        enable_row_lineage(t)
    if state["eq_keys"]:
        doomed = spark.createDataFrame([(k,) for k in sorted(state["eq_keys"])], "k long")
        delete_where(t, ["k"], doomed)
    if state["pos"] is not None:
        delete_where_positional(t, state["pos"])
    want = Counter(
        (k, v)
        for k, v in rows
        if (k is None or k not in state["eq_keys"]) and not _POS[state["pos"]](v)
    )
    if not state["lineage"]:
        return t, [(k, v, None) for k, v in want.elements()], None
    visible = [(r["k"], r["v"], r["_row_id"]) for r in read_with_lineage(t).collect()]
    assert Counter((k, v) for k, v, _ in visible) == want
    return t, visible, t._load_snap(t.current_snapshot_id())["next_row_id"]


def _source(spark, source, narrow):
    typ = "int" if narrow else "bigint"
    rows = sorted(source.items(), key=_key_order)
    df = spark.createDataFrame(rows or [(0, 0)], f"k {typ}, v {typ}")
    return df if rows else df.limit(0)


def _read(t, lineage, ref=None):
    df = read_with_lineage(t, ref=ref) if lineage else read_with_deletes(t, ref=ref)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert (types["k"], types["v"]) == ("bigint", "bigint")  # never narrowed
    return [(r["k"], r["v"], r["_row_id"] if lineage else None) for r in df.collect()]


def _assert_merged(t, got, expected, next_id):
    """``got`` equals the model's ``expected`` rows; on a lineage table
    model rows with an id keep it, and the model's inserts (id None) hold
    fresh consecutive ids from the counter in key order."""
    if next_id is None:
        assert Counter((k, v) for k, v, _ in got) == Counter(
            (k, v) for k, v, _ in expected
        )
        return
    assert Counter(r for r in got if r[2] < next_id) == Counter(
        r for r in expected if r[2] is not None
    )
    fresh = sorted((r for r in got if r[2] >= next_id), key=lambda r: r[2])
    inserts = sorted(((k, v) for k, v, rid in expected if rid is None), key=_key_order)
    assert [(k, v) for k, v, _ in fresh] == inserts
    assert [r[2] for r in fresh] == list(range(next_id, next_id + len(fresh)))
    assert t._load_snap(t.current_snapshot_id())["next_row_id"] == next_id + len(fresh)


def _ansi_model(visible, source, matched, inserts):
    """Pure-Python ANSI MERGE over the visible ``(k, v, id)`` rows."""
    out = []
    for k, v, rid in visible:
        sv = source.get(k) if k is not None else None
        if sv is None:
            out.append((k, v, rid))
            continue
        for kind, cond, assign in matched:
            if _CONDS[cond](v, sv):
                if kind == "update":
                    out.append((*_ASSIGNS[assign](k, v, sv), rid))
                break  # delete: row dropped; either way first clause won
        else:
            out.append((k, v, rid))
    tkeys = {k for k, _, _ in visible if k is not None}
    for k, sv in source.items():
        if k is not None and k in tkeys:
            continue
        for _, cond, assign in inserts:
            if _INS_CONDS[cond](sv):
                out.append((*_INS_ASSIGNS[assign](k, sv), None))
                break
    return out


def _upsert_model(visible, source):
    """Anti-join + union over the visible ``(k, v, id)`` rows: a source
    key replaces every visible row of that key, and the source row keeps
    the smallest id among them (None: an insert)."""
    ids = {}
    for k, _, rid in visible:
        if k is not None and k in source:
            ids[k] = rid if ids.get(k) is None else min(ids[k], rid)
    kept = [r for r in visible if r[0] is None or r[0] not in source]
    return kept + [(k, sv, ids.get(k)) for k, sv in source.items()]


@pytest.mark.slow
@settings(settings.get_profile("property"), deadline=None)
@given(_states(target_rows), source_rows, matched_clauses, insert_clauses)
def test_merge_into_matches_reference_executor(
    spark, tmp_path_factory, state, source, matched, inserts
):
    path = str(tmp_path_factory.mktemp("merge_prop") / "tbl")
    t, visible, next_id = _table(spark, path, state)
    clauses = [
        MergeClause(kind, cond, _ASSIGN_SQL[assign] if assign else None)
        for kind, cond, assign in matched
    ] + [MergeClause("insert", cond, _INS_ASSIGN_SQL[a]) for _, cond, a in inserts]
    merge_into(t, _source(spark, source, state["narrow"]), ["k"], clauses)
    expected = _ansi_model(visible, source, matched, inserts)
    _assert_merged(t, _read(t, state["lineage"]), expected, next_id)


@pytest.mark.slow
@settings(settings.get_profile("property"), deadline=None)
@given(_states(st.one_of(target_rows, unique_target_rows)), source_rows)
def test_merge_upsert_matches_anti_join_model(spark, tmp_path_factory, state, source):
    """The upsert on main against its model; on a key-unique visible
    target, ``update *`` + ``insert *`` through ``merge_into`` on a
    branch at the same snapshot writes the same rows, ids included."""
    path = str(tmp_path_factory.mktemp("upsert_prop") / "tbl")
    t, visible, next_id = _table(spark, path, state)
    visible_keys = [k for k, _, _ in visible if k is not None]
    key_unique = len(visible_keys) == len(set(visible_keys))
    if key_unique:
        t.create_branch("star")
    src = _source(spark, source, state["narrow"])
    merge_upsert(t, src, ["k"])
    got = _read(t, state["lineage"])
    _assert_merged(t, got, _upsert_model(visible, source), next_id)
    if key_unique:
        star = [MergeClause("update"), MergeClause("insert")]
        merge_into(t, src, ["k"], star, ref="star")
        assert Counter(_read(t, state["lineage"], ref="star")) == Counter(got)
