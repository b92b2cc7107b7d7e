"""Wire-real Iceberg REST catalog: the public REST-catalog OpenAPI
routes served over real localhost HTTP (catalog/rest_server.py) and the
RestCatalog client speaking them (catalog/service.py).

The reference's REST path drives ``org.apache.iceberg.rest.RESTCatalog``
over a wire protocol (``api/.../CatalogMigrationUtil.java:36-46,70-96``;
README REST examples); these tests pin that the engine's REST type
leaves process for every operation — raw-protocol shape, error
envelopes, multi-level namespace encoding, commit arbitration, the CLI
scenario over REST on BOTH sides, and the migrate-then-resolve
roundtrip on an exported Iceberg pointer."""

import json
import os
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.catalog import (
    CatalogError,
    CatalogMigrator,
    NoSuchTableError,
    SqlCatalog,
    TableIdentifier,
    build_catalog,
)
from iceberg_catalog_migrator_spark.catalog.base import write_table_metadata
from iceberg_catalog_migrator_spark.catalog.rest_server import (
    IcebergRestCatalogServer,
)
from iceberg_catalog_migrator_spark.catalog.service import RestCatalog
from iceberg_catalog_migrator_spark.cli.main import run

ID_SCHEMA = "struct<id:bigint>"


@pytest.fixture()
def served(tmp_path):
    """A REST endpoint over a SqlCatalog store, plus the raw uri."""
    store = SqlCatalog("store", str(tmp_path / "store.db"))
    server = IcebergRestCatalogServer(store, owns_store=True)
    uri = server.start()
    yield uri, store, server
    server.close()


def _get(uri, path):
    try:
        with urllib.request.urlopen(uri + path, timeout=10) as r:
            return r.status, json.loads(r.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


# ------------------------------------------------------- raw protocol
def test_config_endpoint_shape(served):
    uri, _, _ = served
    status, payload = _get(uri, "/v1/config")
    assert status == 200
    assert payload == {"defaults": {}, "overrides": {}}


def test_error_envelope_is_spec_error_model(served):
    """Errors return the spec's ErrorModel with the Iceberg exception
    type names clients dispatch on."""
    uri, store, _ = served
    store.create_namespace(("db",))
    status, payload = _get(uri, "/v1/namespaces/db/tables/missing")
    assert status == 404
    assert payload["error"]["type"] == "NoSuchTableException"
    assert payload["error"]["code"] == 404
    assert "missing" in payload["error"]["message"]
    status, payload = _get(uri, "/v1/namespaces/nope")
    assert status == 404
    assert payload["error"]["type"] == "NoSuchNamespaceException"


def test_multilevel_namespace_unit_separator(served):
    """Multi-level namespaces travel as %1F-joined path segments and
    the parent= query parameter, per the spec."""
    uri, store, _ = served
    store.create_namespace(("a",))
    store.create_namespace(("a", "b"))
    status, payload = _get(uri, "/v1/namespaces/a%1Fb")
    assert status == 200 and payload["namespace"] == ["a", "b"]
    status, payload = _get(uri, "/v1/namespaces?parent=a")
    assert status == 200 and payload["namespaces"] == [["a", "b"]]


def test_register_and_load_over_raw_http(served, tmp_path):
    uri, store, server = served
    store.create_namespace(("db",))
    meta = write_table_metadata(str(tmp_path / "wh" / "t1"), ID_SCHEMA, version=1)
    req = urllib.request.Request(
        uri + "/v1/namespaces/db/register",
        data=json.dumps({"name": "t1", "metadata-location": meta}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=10) as r:
        payload = json.loads(r.read())
    assert payload["metadata-location"] == meta
    # LoadTableResult carries the metadata document itself
    assert payload["metadata"]["schemas"][0]["fields"] == [
        {"id": 1, "name": "id", "required": False, "type": "long"}
    ]
    status, payload = _get(uri, "/v1/namespaces/db/tables/t1")
    assert status == 200 and payload["metadata-location"] == meta
    assert server.requests_served == 2  # register + load, both on-wire


# ------------------------------------------------------------- client
def test_client_all_calls_travel_the_wire(tmp_path):
    """Every RestCatalog operation increments the endpoint's request
    counter — nothing short-circuits in process."""
    c = RestCatalog("c", {"uri": str(tmp_path / "rest.db")})
    try:
        n0 = c._server.requests_served  # config handshake already done
        assert n0 >= 1
        c.create_namespace(("db",))
        meta = write_table_metadata(
            str(tmp_path / "wh" / "t1"), ID_SCHEMA, version=1
        )
        ident = TableIdentifier.of("db", "t1")
        c.register_table(ident, meta)
        assert c.load_table_metadata_location(ident) == meta
        assert c.table_exists(ident)
        assert c.list_tables(("db",)) == [ident]
        assert c.list_namespaces() == [("db",)]
        assert c.drop_table(ident)
        assert c._server.requests_served >= n0 + 7
    finally:
        c.close()


def test_client_against_external_endpoint(served, tmp_path):
    """uri=http://... connects to an already-running endpoint (the
    reference's RESTCatalog deployment shape) — no self-hosting."""
    uri, store, _ = served
    c = RestCatalog("remote", {"uri": uri})
    try:
        assert c._server is None
        c.create_namespace(("db",))
        meta = write_table_metadata(
            str(tmp_path / "wh" / "ext"), ID_SCHEMA, version=1
        )
        c.register_table(TableIdentifier.of("db", "ext"), meta)
        # visible through the STORE directly: it really is one service
        assert store.load_table_metadata_location(
            TableIdentifier.of("db", "ext")
        ) == meta
    finally:
        c.close()


def test_client_error_classes_and_messages(tmp_path):
    """Error envelopes map back to the local exception classes with
    the reference-pinned message text verbatim."""
    c = RestCatalog("c", {"uri": str(tmp_path / "rest.db")})
    try:
        c.create_namespace(("db",))
        meta = write_table_metadata(
            str(tmp_path / "wh" / "t"), ID_SCHEMA, version=1
        )
        ident = TableIdentifier.of("db", "t")
        c.register_table(ident, meta)
        with pytest.raises(Exception, match=r"^Table already exists: db\.t$"):
            c.register_table(ident, meta)
        with pytest.raises(NoSuchTableError, match=r"^Table does not exist: db\.z$"):
            c.load_table_metadata_location(TableIdentifier.of("db", "z"))
        with pytest.raises(CatalogError, match="Namespace does not exist: nsx"):
            c.register_table(TableIdentifier.of("nsx", "t"), meta)
        with pytest.raises(CatalogError, match="purge drops"):
            c.drop_table(ident, purge=True)
    finally:
        c.close()


def test_client_requires_uri():
    with pytest.raises(ValueError, match="Invalid uri for http client"):
        RestCatalog("c", {})


def test_swap_arbitration_over_http(tmp_path):
    """Commit arbitration over the wire: of N clients racing the same
    expected pointer through the commit route, exactly one wins —
    the same guarantee SqlCatalog provides locally."""
    path = str(tmp_path / "rest.db")
    seed = RestCatalog("seed", {"uri": path})
    ident = TableIdentifier.of("db", "t")
    try:
        seed.create_namespace(("db",))
        meta = write_table_metadata(
            str(tmp_path / "wh" / "t"), ID_SCHEMA, version=1
        )
        seed.register_table(ident, meta)
        clients = [RestCatalog(f"c{i}", {"uri": path}) for i in range(4)]
        try:
            with ThreadPoolExecutor(4) as pool:
                wins = list(
                    pool.map(
                        lambda c: c.swap_table_metadata_location(
                            ident, meta, f"{meta}.{c.name}"
                        ),
                        clients,
                    )
                )
            assert sum(wins) == 1
            winner = clients[wins.index(True)]
            assert seed.load_table_metadata_location(ident).endswith(
                winner.name
            )
        finally:
            for c in clients:
                c.close()
    finally:
        seed.close()


# ----------------------------------------------- CLI over REST x REST
def test_cli_migrate_rest_to_rest(tmp_path, caplog):
    """The reference's README scenario — REST on BOTH sides — through
    the CLI over real HTTP: migrate mode moves every pointer, the
    source entries drop, the target resolves them."""
    import logging

    caplog.set_level(logging.INFO)
    src_uri = str(tmp_path / "src_rest.db")
    tgt_uri = str(tmp_path / "tgt_rest.db")
    src = build_catalog("REST", "source", {"uri": src_uri})
    metas = {}
    for ns, tbl in [("foo", "tbl1"), ("foo", "tbl2"), ("bar", "tbl3")]:
        if not src.namespace_exists((ns,)):
            src.create_namespace((ns,))
        meta = write_table_metadata(
            str(tmp_path / "meta" / ns / tbl), ID_SCHEMA, version=1
        )
        src.register_table(TableIdentifier.of(ns, tbl), meta)
        metas[(ns, tbl)] = meta
    src.close()
    code = run(
        [
            "migrate",
            "--source-catalog-type", "REST",
            "--source-catalog-properties", f"uri={src_uri}",
            "--target-catalog-type", "REST",
            "--target-catalog-properties", f"uri={tgt_uri}",
            "--output-dir", str(tmp_path / "out"),
            "--disable-safety-prompts",
        ]
    )
    assert code == 0
    src = build_catalog("REST", "source", {"uri": src_uri})
    tgt = build_catalog("REST", "target", {"uri": tgt_uri})
    try:
        for (ns, tbl), meta in metas.items():
            ident = TableIdentifier.of(ns, tbl)
            assert not src.table_exists(ident)
            assert tgt.load_table_metadata_location(ident) == meta
    finally:
        src.close()
        tgt.close()


# ---------------------------- migrate-then-resolve on Iceberg pointer
def test_migrate_then_resolve_exported_iceberg_pointer(spark, tmp_path):
    """The full loop the reference exists for, REST to REST over real
    HTTP: an engine table exports spec Iceberg metadata, the pointer
    registers in a REST source catalog, the migrator moves it, and the
    TARGET-resolved location reads back the identical rows through the
    Iceberg importer."""
    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        export_iceberg_metadata,
    )
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        IcebergTable,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "orders"))
    t.append(
        spark.range(0, 1_000)
        .select(
            F.col("id").alias("o_id"),
            (F.col("id") % 7).cast("double").alias("o_amt"),
        )
        .repartition(2)
    )
    out = export_iceberg_metadata(t)
    pointer = out["metadata_location"]
    assert os.path.isfile(pointer)

    src = build_catalog("REST", "source", {"uri": str(tmp_path / "s.db")})
    tgt = build_catalog("REST", "target", {"uri": str(tmp_path / "t.db")})
    try:
        src.create_namespace(("sales",))
        ident = TableIdentifier.of("sales", "orders")
        src.register_table(ident, pointer)
        m = CatalogMigrator(src, tgt, delete_entries_from_source_catalog=True)
        m.register_tables(m.get_matching_table_identifiers(None))
        assert m.result().registered_table_identifiers == [ident]
        assert not src.table_exists(ident)
        resolved = tgt.load_table_metadata_location(ident)
        assert resolved == pointer
        got = IcebergTable(spark, resolved).read()
        assert got.count() == 1_000
        assert got.agg(F.sum("o_amt")).collect()[0][0] == pytest.approx(
            sum((i % 7) * 1.0 for i in range(1_000))
        )
    finally:
        src.close()
        tgt.close()


def test_table_names_with_reserved_characters_roundtrip(tmp_path):
    """Names containing '#', '?', spaces or '%' percent-encode into
    request paths (a raw '#' would be stripped as a URI fragment and
    silently retarget the request at the WRONG table) and decode
    server-side, so every operation round-trips exactly."""
    c = RestCatalog("c", {"uri": str(tmp_path / "rest.db")})
    try:
        c.create_namespace(("db",))
        plain = TableIdentifier.of("db", "t")
        tricky = [
            TableIdentifier.of("db", "t#v2"),
            TableIdentifier.of("db", "t v2"),
            TableIdentifier.of("db", "t?x=1"),
            TableIdentifier.of("db", "t%20odd"),
        ]
        metas = {}
        for i, ident in enumerate([plain, *tricky]):
            meta = write_table_metadata(
                str(tmp_path / "wh" / f"t{i}"), ID_SCHEMA, version=1
            )
            c.register_table(ident, meta)
            metas[ident] = meta
        for ident in tricky:
            assert c.table_exists(ident)
            assert c.load_table_metadata_location(ident) == metas[ident]
        assert set(c.list_tables(("db",))) == {plain, *tricky}
        # dropping the tricky name must NOT touch the plain one
        assert c.drop_table(tricky[0])
        assert not c.table_exists(tricky[0])
        assert c.table_exists(plain)
        assert c.load_table_metadata_location(plain) == metas[plain]
    finally:
        c.close()


def test_route_prefix_from_config_overrides(tmp_path):
    """The spec serves a route prefix via config overrides; the client
    must prepend it to every subsequent route. A client that ignores
    the prefix 404s on everything."""
    store = SqlCatalog("store", str(tmp_path / "p.db"))
    server = IcebergRestCatalogServer(store, owns_store=True, prefix="ws/acct1")
    uri = server.start()
    try:
        status, payload = _get(uri, "/v1/config")
        assert payload["overrides"] == {"prefix": "ws/acct1"}
        # unprefixed route 404s
        status, _ = _get(uri, "/v1/namespaces")
        assert status == 404
        # the client picks the prefix up from the handshake
        c = RestCatalog("c", {"uri": uri})
        try:
            assert c._prefix == "ws/acct1"
            c.create_namespace(("db",))
            meta = write_table_metadata(
                str(tmp_path / "wh" / "t"), ID_SCHEMA, version=1
            )
            ident = TableIdentifier.of("db", "t")
            c.register_table(ident, meta)
            assert c.load_table_metadata_location(ident) == meta
            assert store.table_exists(ident)
        finally:
            c.close()
    finally:
        server.close()


def test_bearer_token_auth(tmp_path):
    """A token-protected endpoint rejects unauthenticated requests
    with the spec's 401 NotAuthorizedException; the client sends the
    `token` property as a Bearer credential."""
    store = SqlCatalog("store", str(tmp_path / "a.db"))
    server = IcebergRestCatalogServer(store, owns_store=True, token="s3cr3t")
    uri = server.start()
    try:
        # config stays open (the real handshake can negotiate auth)
        status, _ = _get(uri, "/v1/config")
        assert status == 200
        status, payload = _get(uri, "/v1/namespaces")
        assert status == 401
        assert payload["error"]["type"] == "NotAuthorizedException"
        # wrong token also refuses
        bad = RestCatalog("bad", {"uri": uri, "token": "wrong"})
        try:
            with pytest.raises(CatalogError, match="Not authorized"):
                bad.list_namespaces()
        finally:
            bad.close()
        good = RestCatalog("good", {"uri": uri, "token": "s3cr3t"})
        try:
            good.create_namespace(("db",))
            assert good.list_namespaces() == [("db",)]
        finally:
            good.close()
    finally:
        server.close()


def test_keepalive_stream_survives_error_short_circuits(tmp_path):
    """An early 401/404 short-circuit must DRAIN the unread POST body:
    leftover bytes on the kept-alive socket would be parsed as the
    next request line and desync every later exchange on the pooled
    connection (code-review round-13b finding #2)."""
    store = SqlCatalog("store", str(tmp_path / "ka.db"))
    server = IcebergRestCatalogServer(store, owns_store=True, token="tk")
    uri = server.start()
    try:
        import http.client

        host = uri.split("//", 1)[1]
        conn = http.client.HTTPConnection(host, timeout=10)
        body = json.dumps({"namespace": ["db"], "pad": "x" * 500}).encode()
        # unauthorized POST with a large body on a persistent connection
        conn.request(
            "POST",
            "/v1/namespaces",
            body=body,
            headers={"Content-Type": "application/json"},
        )
        r = conn.getresponse()
        assert r.status == 401
        r.read()
        # the SAME connection must serve the next request cleanly
        conn.request(
            "GET",
            "/v1/namespaces",
            headers={"Authorization": "Bearer tk"},
        )
        r2 = conn.getresponse()
        assert r2.status == 200
        assert json.loads(r2.read()) == {"namespaces": []}
        conn.close()
    finally:
        server.close()


def test_write_verbs_do_not_silently_retry(tmp_path):
    """A mutating request on a dead socket surfaces the ambiguity to
    the caller instead of replaying (a landed commit replayed would
    fail its own CAS requirement and make the caller unlink the live
    metadata doc); reads retry transparently (code-review round-13b
    finding #1)."""
    c = RestCatalog("c", {"uri": str(tmp_path / "retry.db")})
    try:
        c.create_namespace(("db",))
        # poison the pooled connection: server-side socket gone
        c._http().sock.close()
        # read: transparent retry on a fresh connection
        assert c.list_namespaces() == [("db",)]
        # poison again: a WRITE must raise, not replay
        c._http().sock.close()
        with pytest.raises(Exception):
            c.create_namespace(("db2",))
        # the connection pool recovered for the next call
        assert c.namespace_exists(("db",))
    finally:
        c.close()


def test_table_named_namespace_classifies_as_table_collision(tmp_path):
    """ADVICE round-13: the client keyed namespace-vs-table collision
    disambiguation on a SUBSTRING ('Namespace' in message); a table
    literally named 'Namespace' must still raise the table-collision
    class, exactly as the local SqlCatalog does."""
    from iceberg_catalog_migrator_spark.catalog import (
        NamespaceAlreadyExistsError,
        TableAlreadyExistsError,
    )

    c = RestCatalog("c", {"uri": str(tmp_path / "rest.db")})
    try:
        c.create_namespace(("db",))
        meta = write_table_metadata(
            str(tmp_path / "wh" / "Namespace"), ID_SCHEMA, version=1
        )
        ident = TableIdentifier.of("db", "Namespace")
        c.register_table(ident, meta)
        with pytest.raises(
            TableAlreadyExistsError,
            match=r"^Table already exists: db\.Namespace$",
        ):
            c.register_table(ident, meta)
        # and the namespace collision still classifies as a namespace
        with pytest.raises(NamespaceAlreadyExistsError):
            c.create_namespace(("db",))
    finally:
        c.close()


def test_closed_client_fails_fast(tmp_path):
    """ADVICE round-13: close() can only clear the calling thread's
    pooled connection; a post-close request must fail with a clear
    error instead of reusing a dead socket or minting a fresh one
    against a torn-down server."""
    c = RestCatalog("c", {"uri": str(tmp_path / "rest.db")})
    c.create_namespace(("db",))
    c.close()
    with pytest.raises(CatalogError, match="closed"):
        c.list_namespaces()
    # idempotent close stays safe
    c.close()


def test_requests_served_counts_concurrent_traffic(tmp_path):
    """ADVICE round-13: the wire counter is incremented under a lock —
    N concurrent requests must count exactly N (tests assert on this
    counter to prove traffic crossed the wire)."""
    store = SqlCatalog("store", str(tmp_path / "store.db"))
    server = IcebergRestCatalogServer(store, owns_store=True)
    uri = server.start()
    try:
        base = server.requests_served
        n = 64
        with ThreadPoolExecutor(max_workers=16) as ex:
            list(ex.map(lambda _: _get(uri, "/v1/config"), range(n)))
        assert server.requests_served == base + n
    finally:
        server.close()


def test_list_routes_paginate(tmp_path):
    """Spec pagination (VERDICT round-13 ask #5): pageSize/pageToken on
    ListTables and ListNamespaces — a small page size walks the whole
    catalog across >1 wire request with no loss or duplication."""
    store = SqlCatalog("store", str(tmp_path / "store.db"))
    server = IcebergRestCatalogServer(store, owns_store=True)
    uri = server.start()
    try:
        store.create_namespace(("db",))
        for i in range(7):
            store.create_namespace(("db", f"sub{i}"))
            meta = write_table_metadata(
                str(tmp_path / "wh" / f"t{i}"), ID_SCHEMA, version=1
            )
            store.register_table(TableIdentifier.of("db", f"t{i}"), meta)
        # raw protocol: a page carries at most pageSize items plus a
        # resumable next-page-token; the last page omits the token
        status, page1 = _get(uri, "/v1/namespaces/db/tables?pageSize=3")
        assert status == 200
        assert len(page1["identifiers"]) == 3
        tok = page1["next-page-token"]
        status, page2 = _get(
            uri, f"/v1/namespaces/db/tables?pageSize=3&pageToken={tok}"
        )
        assert len(page2["identifiers"]) == 3
        status, page3 = _get(
            uri,
            "/v1/namespaces/db/tables?pageSize=3&pageToken="
            + page2["next-page-token"],
        )
        assert len(page3["identifiers"]) == 1
        assert "next-page-token" not in page3
        names = [
            t["name"]
            for p in (page1, page2, page3)
            for t in p["identifiers"]
        ]
        assert names == sorted(f"t{i}" for i in range(7))
        # client side: rest.page-size makes the client iterate pages —
        # completeness plus >1 wire request per listing
        c = RestCatalog(
            "c", {"uri": uri, "rest.page-size": "2"}
        )
        try:
            base = server.requests_served
            tables = c.list_tables(("db",))
            assert sorted(t.name for t in tables) == sorted(
                f"t{i}" for i in range(7)
            )
            assert server.requests_served - base >= 4  # ceil(7/2) pages
            base = server.requests_served
            subs = c.list_namespaces(("db",))
            assert sorted(subs) == [("db", f"sub{i}") for i in range(7)]
            assert server.requests_served - base >= 4
        finally:
            c.close()
        # unpaginated request stays whole (backward compatible)
        status, whole = _get(uri, "/v1/namespaces/db/tables")
        assert len(whole["identifiers"]) == 7
        assert "next-page-token" not in whole
        # garbage inputs refuse loudly, not silently serve page 1
        status, err = _get(uri, "/v1/namespaces/db/tables?pageSize=0")
        assert status == 400
        status, err = _get(
            uri, "/v1/namespaces/db/tables?pageSize=3&pageToken=%25%25"
        )
        assert status == 400
    finally:
        server.close()
