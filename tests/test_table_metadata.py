"""One TableMetadata module (``catalog/table_metadata.py``): every
``metadata.json`` the engine writes is a spec doc.

Spark-free: schemas round-trip DDL -> spec schema -> Spark type; every
doc kind the engine writes validates (the pointer docs of a pyarrow +
``_commit`` history on ``CatalogArbitratedTable``, REST CreateTable and
staged-create docs, an export); a stock client's LoadTable over HTTP
finds the spec's required fields on an engine-created and on a
CAS-committed table."""

import json
import os
import urllib.request

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_catalog_migrator_spark.catalog import HadoopCatalog, SqlCatalog, TableIdentifier
from iceberg_catalog_migrator_spark.catalog.base import (
    METADATA_DIR,
    VERSION_HINT,
    TableAlreadyExistsError,
    read_table_metadata,
    write_table_metadata,
)
from iceberg_catalog_migrator_spark.catalog.rest_server import IcebergRestCatalogServer
from iceberg_catalog_migrator_spark.catalog.table_metadata import (
    MetadataError,
    iceberg_schema,
    load_metadata,
    max_field_id,
    metadata_version,
    schema_from_ddl,
    spark_type,
    validate,
)
from iceberg_catalog_migrator_spark.sources import iceberg_format
from iceberg_catalog_migrator_spark.sources.snapshots import (
    MAIN,
    CatalogArbitratedTable,
    SnapshotError,
)

IDENT = TableIdentifier.of("lake", "orders_md")
#: what a stock client needs from LoadTable beyond the v1 fields
_SPEC_KEYS = (
    "schemas",
    "current-schema-id",
    "last-column-id",
    "partition-specs",
    "default-spec-id",
    "last-partition-id",
    "sort-orders",
    "default-sort-order-id",
    "last-sequence-number",
)


# ------------------------------------------------------------ types
_PRIMITIVES = st.sampled_from(
    ["bigint", "int", "double", "float", "string", "boolean", "date", "timestamp", "timestamp_ntz", "binary"]
) | st.integers(1, 38).flatmap(lambda p: st.integers(0, p).map(lambda s: f"decimal({p},{s})"))
_NAMES = st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True)


def _struct(children):
    return st.lists(st.tuples(_NAMES, children), min_size=1, max_size=3, unique_by=lambda c: c[0]).map(
        lambda cols: "struct<" + ",".join(f"{n}:{t}" for n, t in cols) + ">"
    )


_TYPES = st.recursive(
    _PRIMITIVES,
    lambda children: _struct(children)
    | children.map(lambda t: f"array<{t}>")
    | st.tuples(_PRIMITIVES, children).map(lambda kv: f"map<{kv[0]},{kv[1]}>"),
    max_leaves=8,
)
_COLUMNS = st.lists(st.tuples(_NAMES, _TYPES), min_size=1, max_size=4, unique_by=lambda c: c[0])


def _ids(node) -> list[int]:
    """Every field id in a spec type or schema, in document order."""
    out = []
    if isinstance(node, dict):
        out += [node[k] for k in ("id", "element-id", "key-id", "value-id") if k in node]
        for k in ("fields", "type", "element", "key", "value"):
            out += _ids(node.get(k))
    elif isinstance(node, list):
        for item in node:
            out += _ids(item)
    return out


@settings(settings.get_profile("property"))
@given(columns=_COLUMNS, struct_form=st.booleans())
def test_ddl_round_trips_through_the_spec_schema(columns, struct_form):
    """Both DDL forms give one spec schema; its Spark type is the DDL's
    struct, and field ids are 1..N, each assigned once."""
    if struct_form:
        ddl = "struct<" + ",".join(f"{n}:{t}" for n, t in columns) + ">"
    else:
        ddl = ", ".join(f"{n} {t}" for n, t in columns)
    schema = schema_from_ddl(ddl)
    assert spark_type(schema) == "struct<" + ",".join(f"{n}:{t}" for n, t in columns) + ">"
    assert [f["id"] for f in schema["fields"]] == list(range(1, len(columns) + 1))
    ids = _ids(schema)
    assert sorted(ids) == list(range(1, len(ids) + 1))
    assert max_field_id(schema) == len(ids)


def test_narrow_integers_widen_and_unknown_types_refuse():
    schema = schema_from_ddl("a smallint, b tinyint, c INT")
    assert [f["type"] for f in schema["fields"]] == ["int", "int", "int"]
    with pytest.raises(MetadataError, match="cannot convert column type"):
        schema_from_ddl("v interval")
    with pytest.raises(SnapshotError, match="cannot import Iceberg column type"):
        spark_type("variant")


def test_tracked_ids_are_kept_and_nested_ids_follow_them():
    schema = iceberg_schema([(3, "a", "bigint"), (7, "s", "struct<x:int,y:array<string>>")], 4)
    assert schema["schema-id"] == 4
    assert [f["id"] for f in schema["fields"]] == [3, 7]
    assert _ids(schema["fields"][1]["type"]) == [8, 9, 10]


# ------------------------------------------------------------ order, parse
def test_one_version_order_for_both_names():
    assert metadata_version("/t/metadata/v12.metadata.json") == 12
    assert metadata_version("v12-audit.metadata.json") == 12
    assert metadata_version("00012-9c0e6f2a.metadata.json") == 12
    with pytest.raises(SnapshotError, match="cannot order metadata file"):
        metadata_version("garbage.metadata.json")


def test_the_parser_is_lenient_and_the_writer_strict(tmp_path):
    """A hand-written v3 doc without sort-orders reads; the writer
    refuses to write it."""
    doc = {
        "format-version": 3,
        "next-row-id": 0,
        "table-uuid": "u",
        "location": str(tmp_path),
        "last-sequence-number": 0,
        "last-updated-ms": 1,
        "last-column-id": 1,
        "current-schema-id": 0,
        "schemas": [schema_from_ddl("id bigint")],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
    }
    p = tmp_path / "v1.metadata.json"
    p.write_text(json.dumps(doc))
    assert load_metadata(str(tmp_path)) == (str(p), doc)
    with pytest.raises(MetadataError, match="sort-orders"):
        validate(doc)
    p.write_text(json.dumps({**doc, "format-version": 4}))
    with pytest.raises(MetadataError, match="format-version"):
        load_metadata(str(p))


def test_the_exporter_fingerprint_hashes_the_metadata_module():
    from iceberg_catalog_migrator_spark.catalog import table_metadata

    assert table_metadata.__file__ in iceberg_format._FINGERPRINTED


# ------------------------------------------------------------ pointer docs
@pytest.fixture()
def catalog(tmp_path):
    cat = SqlCatalog("arbiter", str(tmp_path / "cat.db"))
    cat.create_namespace(("lake",))
    yield cat
    cat.close()


def _append(t, ref=MAIN):
    """Commit one new pyarrow-written file on top of ``ref``'s head."""
    parent = t.head(ref)
    base = t._load_snap(parent)["files"] if parent else []
    new = t._write_arrow_file(pa.table({"k": list(range(len(base) * 10, len(base) * 10 + 10))}))
    return t._commit(base + [new], "append", parent, ref=ref)


def _track(t):
    """The snapshot ``track_schema`` commits, without Spark: column k is
    field id 1 of schema 0."""
    parent = t.head()
    files = t._load_snap(parent)["files"]
    extra = {
        "schemas": [{"schema_id": 0, "fields": [{"id": 1, "name": "k", "type": "bigint"}]}],
        "current_schema_id": 0,
        "next_field_id": 2,
        "file_schema_ids": {f: 0 for f in files},
    }
    return t._commit(files, "track-schema", parent, extra=extra)


def _cas_history(catalog, path):
    """A CAS-committed table: appends, schema tracking, a branch
    commit, and a fast-forward of main to the branch."""
    t = CatalogArbitratedTable.create(None, catalog, IDENT, path, "struct<k:bigint>")
    _append(t)
    _track(t)
    t.create_branch("audit")
    _append(t, "audit")
    t.fast_forward(MAIN, "audit")
    _append(t)
    return t


def test_every_pointer_doc_is_a_spec_doc(catalog, tmp_path):
    t = _cas_history(catalog, str(tmp_path / "tbl"))
    meta = os.path.join(t.path, METADATA_DIR)
    docs = sorted(n for n in os.listdir(meta) if n.endswith(".metadata.json"))
    assert "v0.metadata.json" in docs and any("-audit" in n for n in docs)
    tracked = {f["id"]: f["name"] for f in t._load_snap(t.head())["schemas"][0]["fields"]}
    uuids = set()
    for name in docs:
        doc = read_table_metadata(os.path.join(meta, name))
        validate(doc)
        assert doc["current-snapshot-id"] == -1 and doc["snapshots"] == []
        assert doc["properties"]["table-kind"] == "snapshot-table"
        assert "schema-ddl" not in doc and "data-location" not in doc
        (schema,) = doc["schemas"]
        assert {f["id"]: f["name"] for f in schema["fields"]} == tracked
        uuids.add(doc["table-uuid"])
    assert len(uuids) == 1
    # the engine-created table of the migration plane too
    loc = write_table_metadata(str(tmp_path / "plain"), "id bigint, v bigint, tag string", 1)
    validate(read_table_metadata(loc))


def test_hadoop_register_creates_its_doc_exclusively(tmp_path):
    src = write_table_metadata(str(tmp_path / "src"), "struct<id:bigint>", 1)
    hadoop = HadoopCatalog("h", str(tmp_path / "wh"))
    ident = TableIdentifier.of("lake", "t")
    hadoop.register_table(ident, src)
    loc = hadoop.load_table_metadata_location(ident)
    assert read_table_metadata(loc) == read_table_metadata(src)
    with open(os.path.join(os.path.dirname(loc), VERSION_HINT)) as f:
        assert f.read() == "1"
    # a doc already at v1 (no hint yet: not a table) is never overwritten
    other = TableIdentifier.of("lake", "u")
    stale = os.path.join(str(tmp_path / "wh"), "lake", "u", METADATA_DIR, "v1.metadata.json")
    os.makedirs(os.path.dirname(stale))
    with open(stale, "w") as f:
        f.write("{}")
    with pytest.raises(TableAlreadyExistsError):
        hadoop.register_table(other, src)
    with open(stale) as f:
        assert f.read() == "{}"


# ------------------------------------------------------------ over HTTP
@pytest.fixture()
def served(tmp_path):
    store = SqlCatalog("store", str(tmp_path / "store.db"))
    store.create_namespace(("lake",))
    server = IcebergRestCatalogServer(store, warehouse=str(tmp_path / "wh"))
    uri = server.start()
    yield uri, store
    server.close()
    store.close()


def _http(uri, method, path, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(uri + path, data=data, method=method)
    with urllib.request.urlopen(req, timeout=10) as r:
        return json.loads(r.read())


def test_load_table_serves_spec_docs_to_a_stock_client(served, tmp_path):
    """LoadTable on an engine-created table and on a CAS-committed one
    (commits, a branch, a fast-forward) finds the spec's required
    fields, with the snapshot's tracked field ids."""
    uri, store = served
    created = write_table_metadata(str(tmp_path / "created"), "struct<id:bigint>", 1)
    _http(uri, "POST", "/v1/namespaces/lake/register", {"name": "created", "metadata-location": created})
    t = _cas_history(store, str(tmp_path / "tbl"))
    for name in ("created", IDENT.name):
        got = _http(uri, "GET", f"/v1/namespaces/lake/tables/{name}")["metadata"]
        assert [k for k in _SPEC_KEYS if k not in got] == []
        validate(got)
    tracked = t._load_snap(t.head())["schemas"][0]["fields"]
    (schema,) = got["schemas"]
    assert [(f["id"], f["name"]) for f in schema["fields"]] == [(f["id"], f["name"]) for f in tracked]
    assert got["properties"]["snapshot-id"] == str(t.head())


def test_rest_create_commit_and_staged_create_docs_validate(served):
    uri, _ = served
    schema = {"type": "struct", "fields": [{"id": 1, "name": "id", "required": True, "type": "long"}]}
    created = _http(uri, "POST", "/v1/namespaces/lake/tables", {"name": "t", "schema": schema})
    validate(read_table_metadata(created["metadata-location"]))
    props = [{"action": "set-properties", "updates": {"owner": "etl"}}]
    out = _http(uri, "POST", "/v1/namespaces/lake/tables/t", {"requirements": [], "updates": props})
    assert out["metadata"] == read_table_metadata(out["metadata-location"])
    validate(out["metadata"])
    assert [e["metadata-file"] for e in out["metadata"]["metadata-log"]] == [created["metadata-location"]]
    updates = [
        {"action": "add-schema", "schema": schema},
        {"action": "set-current-schema", "schema-id": -1},
    ]
    out = _http(
        uri,
        "POST",
        "/v1/namespaces/lake/tables/staged",
        {"requirements": [{"type": "assert-create"}], "updates": updates},
    )
    assert out["metadata"] == read_table_metadata(out["metadata-location"])
    validate(out["metadata"])


def test_an_export_validates(catalog, tmp_path):
    t = _cas_history(catalog, str(tmp_path / "tbl"))
    out = iceberg_format.export_iceberg_metadata(t)
    doc = read_table_metadata(out["metadata_location"])
    validate(doc)
    assert doc["current-snapshot-id"] == t.head()
    again = iceberg_format.export_iceberg_metadata(t)
    assert again["metadata_location"] != out["metadata_location"]
    assert read_table_metadata(again["metadata_location"])["metadata-log"] == [
        {"timestamp-ms": doc["last-updated-ms"], "metadata-file": out["metadata_location"]}
    ]
