"""Iceberg REST-catalog server: the public REST Catalog OpenAPI over a
local catalog store, on real localhost HTTP.

The reference's most consequential catalog type is REST
(``api/.../CatalogMigrationUtil.java:36-46`` lists it; its README's
examples drive ``org.apache.iceberg.rest.RESTCatalog`` against a wire
endpoint). This module makes that type wire-real in-sandbox: a
``ThreadingHTTPServer`` implementing the spec's catalog routes
(``rest-catalog-open-api.yaml``, Apache Iceberg) fronting any local
:class:`~.base.Catalog` store, so the :class:`~.service.RestCatalog`
client — and through it the migrator and CLI — speaks the actual
protocol end-to-end instead of short-circuiting in process.

Routes implemented (the subset a catalog client needs for listing,
registration, creation, resolution, drops, renames and commits):

======  =============================================  ===========================
GET     /v1/config                                     CatalogConfig
GET     /v1/namespaces[?parent=a%1Fb]                  ListNamespaces
POST    /v1/namespaces                                 CreateNamespace
GET     /v1/namespaces/{ns}                            LoadNamespace
HEAD    /v1/namespaces/{ns}                            NamespaceExists
DELETE  /v1/namespaces/{ns}                            DropNamespace (empty only)
POST    /v1/namespaces/{ns}/properties                 UpdateNamespaceProperties
GET     /v1/namespaces/{ns}/tables                     ListTables
POST    /v1/namespaces/{ns}/tables                     CreateTable (+ stage-create)
POST    /v1/namespaces/{ns}/register                   RegisterTable
GET     /v1/namespaces/{ns}/tables/{tbl}[?snapshots=]  LoadTable (all | refs)
HEAD    /v1/namespaces/{ns}/tables/{tbl}               TableExists
DELETE  /v1/namespaces/{ns}/tables/{tbl}               DropTable (no purge)
POST    /v1/namespaces/{ns}/tables/{tbl}               CommitTable (CAS)
POST    /v1/namespaces/{ns}/tables/{tbl}/metrics       ReportMetrics (accepted, discarded)
POST    /v1/tables/rename                              RenameTable
POST    /v1/transactions/commit                        CommitTransaction
======  =============================================  ===========================

Multi-level namespaces join on the spec's ``0x1F`` unit separator in
URL paths and the ``parent`` query parameter. Errors return the spec's
``ErrorModel`` envelope ``{"error": {"message", "type", "code"}}`` with
the Iceberg exception-type names clients dispatch on
(``NoSuchTableException``, ``AlreadyExistsException``, ...); the
message text passes through VERBATIM so the reference-pinned CLI
phrasing survives the wire.

Commit arbitration: the spec's ``POST .../tables/{tbl}`` commit
envelope carries requirements + updates. Each table change is resolved
to one pointer swap (``_resolve_change``), in either of two
vocabularies:

- the engine's pointer-table model, where the unit of commit IS the
  metadata location: the pair ``assert-current-metadata-location`` /
  ``set-current-metadata-location`` names both ends of the swap, and
  the client wrote the doc;
- the spec's snapshot vocabulary (``assert-ref-snapshot-id``,
  ``assert-table-uuid``, ``add-snapshot``, ``set-snapshot-ref``,
  schema, spec, sort-order and property updates), which the server
  applies to the current doc before writing the next one itself; an
  ``assert-create`` commit mints a staged table's first doc instead.

A lost swap or a failed requirement returns the spec's 409
``CommitFailedException``, which the client surfaces as a lost
compare-and-swap — the same one-winner arbitration
``SqlCatalog.swap_table_metadata_location`` provides locally.
``transactions/commit`` resolves every change the same way and applies
all swaps in one store transaction, all-or-nothing.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .base import (
    PURGE_REFUSAL_MESSAGE,
    Catalog,
    CatalogError,
    NamespaceAlreadyExistsError,
    NamespaceNotEmptyError,
    NoSuchNamespaceError,
    NoSuchTableError,
    TableAlreadyExistsError,
    UnprocessableError,
    read_table_metadata,
)
from .identifiers import TableIdentifier

#: the spec's multi-level namespace separator in URL path segments
NS_SEPARATOR = "\x1f"


def _error_payload(exc: Exception) -> tuple[int, dict]:
    """Map a catalog exception to the spec's ErrorModel envelope."""
    from .rest_managed import CommitConflictError

    if isinstance(exc, CommitConflictError):
        code, typ = 409, "CommitFailedException"
        return code, {"error": {"message": str(exc), "type": typ, "code": code}}
    if isinstance(exc, NoSuchTableError):
        code, typ = 404, "NoSuchTableException"
    elif isinstance(exc, NoSuchNamespaceError):
        code, typ = 404, "NoSuchNamespaceException"
    elif isinstance(exc, NamespaceNotEmptyError):
        # stock clients key non-empty drops on this exact 409 type
        code, typ = 409, "NamespaceNotEmptyException"
    elif isinstance(exc, UnprocessableError):
        # the spec pins 422 for semantically invalid property updates
        code, typ = 422, "UnprocessableEntityException"
    elif isinstance(exc, (TableAlreadyExistsError, NamespaceAlreadyExistsError)):
        code, typ = 409, "AlreadyExistsException"
    elif isinstance(exc, CatalogError) and str(exc).startswith(
        "Namespace does not exist:"
    ):
        # the stores raise plain CatalogError for a missing PARENT
        # namespace (sql.py:190); key on that exact pinned prefix so an
        # unrelated error that merely contains "does not exist" (e.g. a
        # missing metadata file) is not misreported as a 404 namespace
        code, typ = 404, "NoSuchNamespaceException"
    elif isinstance(exc, CatalogError):
        code, typ = 400, "BadRequestException"
    else:
        code, typ = 500, "InternalServerError"
    return code, {"error": {"message": str(exc), "type": typ, "code": code}}


def _filter_ref_snapshots(metadata: dict) -> dict:
    """``metadata`` with its snapshot list limited to those reachable
    from ``refs`` (plus ``current-snapshot-id``) through
    parent-snapshot-id ancestry — the spec's ``snapshots=refs``
    LoadTable mode. Pointer-only docs (no snapshot vocabulary) pass
    through untouched."""
    snaps = metadata.get("snapshots")
    if not isinstance(snaps, list) or not snaps:
        return metadata
    by_id = {s.get("snapshot-id"): s for s in snaps}
    keep: set = set()
    heads = [
        r.get("snapshot-id") for r in (metadata.get("refs") or {}).values()
    ]
    cur = metadata.get("current-snapshot-id")
    if cur is not None and cur != -1:
        heads.append(cur)
    for sid in heads:
        while sid in by_id and sid not in keep:
            keep.add(sid)
            sid = by_id[sid].get("parent-snapshot-id")
    return {
        **metadata,
        "snapshots": [s for s in snaps if s.get("snapshot-id") in keep],
        "snapshot-log": [
            e
            for e in metadata.get("snapshot-log", [])
            if e.get("snapshot-id") in keep
        ],
    }


def _unlink_quiet(*paths: str) -> None:
    """Remove candidate metadata docs that lost their pointer CAS (or
    never reached it) — orphans must not linger, and the file may
    already be gone."""
    for path in paths:
        try:
            os.unlink(path)
        except OSError:
            pass


def _decode_ns(segment: str) -> tuple[str, ...]:
    raw = urllib.parse.unquote(segment)
    return tuple(raw.split(NS_SEPARATOR)) if raw else ()


def _paginate(items: list, query: dict, key) -> tuple[list, str | None]:
    """Spec pagination for the list routes (``pageToken``/``pageSize``
    on ListNamespaces/ListTables): items sort by ``key``, the opaque
    token is the base64 of the LAST KEY SERVED — resuming is "strictly
    after this key", so a huge catalog streams in bounded pages and
    concurrent create/drop between pages can neither duplicate nor
    skip entries that existed throughout (an offset token would do
    both). Returns (page, next-page-token-or-None)."""
    import base64

    items = sorted(items, key=key)
    tok = query.get("pageToken", [None])[0]
    if tok:
        try:
            # validate=True: the default decoder silently DISCARDS
            # non-alphabet bytes, so a garbage token would quietly
            # decode to "" and re-serve page 1 forever
            last = base64.b64decode(
                tok.encode("ascii"), altchars=b"-_", validate=True
            ).decode("utf-8")
        except Exception as exc:  # noqa: BLE001 - wire boundary
            raise CatalogError(f"Invalid pageToken: {tok!r}") from exc
        items = [it for it in items if key(it) > last]
    size_raw = query.get("pageSize", [None])[0]
    if size_raw is None:
        # spec: server chooses the size; everything in one page keeps
        # non-paginating clients whole
        return items, None
    try:
        size = int(size_raw)
    except ValueError as exc:
        raise CatalogError(f"Invalid pageSize: {size_raw!r}") from exc
    if size <= 0:
        raise CatalogError(f"Invalid pageSize: {size_raw!r}")
    if len(items) <= size:
        return items, None
    page = items[:size]
    next_token = base64.urlsafe_b64encode(
        key(page[-1]).encode("utf-8")
    ).decode("ascii")
    return page, next_token


class _Handler(BaseHTTPRequestHandler):
    # the store is attached to the server object by IcebergRestCatalogServer
    protocol_version = "HTTP/1.1"
    # response headers and body are separate sends on a kept-alive
    # socket: Nagle + the client's delayed ACK would stall each reply
    disable_nagle_algorithm = True

    def log_message(self, format, *args):  # noqa: A002 - stdlib signature
        pass  # a catalog fixture must not spam test stderr

    # ---------------------------------------------------------- plumbing
    def _send_json(self, code: int, payload: dict | None) -> None:
        body = b"" if payload is None else json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if self.command != "HEAD" and body:
            self.wfile.write(body)

    def _read_body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        return json.loads(self.rfile.read(n)) if n else {}

    def _route(self):
        """(parts, query) with the /v1 prefix (and the server's
        configured route prefix, if any) stripped, or None."""
        # ThreadingHTTPServer handles requests on concurrent threads;
        # a bare += is a read-modify-write race that undercounts, and
        # tests assert on this counter to prove traffic crossed the wire
        with self.server.requests_lock:  # type: ignore[attr-defined]
            self.server.requests_served += 1  # type: ignore[attr-defined]
        lat = getattr(self.server, "latency_ms", 0.0)
        if lat:
            import time

            time.sleep(lat / 1000.0)
        parsed = urllib.parse.urlsplit(self.path)
        # keep INTERIOR empty segments: the empty namespace renders as
        # an empty path segment (/v1/namespaces//tables)
        stripped = parsed.path.strip("/")
        parts = stripped.split("/") if stripped else []
        if not parts or parts[0] != "v1":
            self._drain_body()
            self._send_json(
                404,
                {
                    "error": {
                        "message": f"No route for {parsed.path}",
                        "type": "NotFoundException",
                        "code": 404,
                    }
                },
            )
            return None
        parts = parts[1:]
        # bearer-token auth (spec's OAuth shape): everything except the
        # config handshake requires the credential when configured
        token = getattr(self.server, "token", None)
        if token is not None and parts != ["config"]:
            got = self.headers.get("Authorization", "")
            if got != f"Bearer {token}":
                self._drain_body()
                self._send_json(
                    401,
                    {
                        "error": {
                            "message": "Not authorized",
                            "type": "NotAuthorizedException",
                            "code": 401,
                        }
                    },
                )
                return None
        # route prefix (spec: served via config overrides and inserted
        # VERBATIM by clients — may span multiple path segments)
        prefix = getattr(self.server, "prefix", None)
        segs = [s for s in (prefix or "").strip("/").split("/") if s]
        if segs and parts != ["config"]:
            if parts[: len(segs)] != segs:
                self._drain_body()
                self._send_json(
                    404,
                    {
                        "error": {
                            "message": f"No route for {parsed.path} "
                            f"(expected prefix {prefix!r})",
                            "type": "NotFoundException",
                            "code": 404,
                        }
                    },
                )
                return None
            parts = parts[len(segs):]
        return parts, urllib.parse.parse_qs(parsed.query)

    def _drain_body(self) -> None:
        """Consume an unread request body before an early error
        response: on an HTTP/1.1 keep-alive socket, leftover body
        bytes would be parsed as the NEXT request line and desync
        every later exchange on the pooled connection."""
        n = int(self.headers.get("Content-Length") or 0)
        if n:
            self.rfile.read(n)

    def _dispatch(self, fn) -> None:
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - wire boundary
            self._send_json(*_error_payload(exc))

    @property
    def store(self) -> Catalog:
        return self.server.store  # type: ignore[attr-defined]

    def _load_table_result(self, ident: TableIdentifier) -> dict:
        loc = self.store.load_table_metadata_location(ident)
        try:
            metadata = read_table_metadata(loc)
        except Exception:  # noqa: BLE001 - foreign/absent doc: pointer-only
            metadata = {}
        return {"metadata-location": loc, "metadata": metadata}

    # ------------------------------------------------------------ verbs
    def do_GET(self) -> None:  # noqa: N802 - stdlib naming
        routed = self._route()
        if routed is None:
            return
        parts, query = routed

        def handle():
            if parts == ["config"]:
                overrides = {}
                prefix = getattr(self.server, "prefix", None)
                if prefix:
                    overrides["prefix"] = prefix
                self._send_json(
                    200, {"defaults": {}, "overrides": overrides}
                )
            elif parts == ["namespaces"]:
                parent = _decode_ns(query.get("parent", [""])[0])
                page, nxt = _paginate(
                    self.store.list_namespaces(parent),
                    query,
                    key=lambda ns: NS_SEPARATOR.join(ns),
                )
                body = {"namespaces": [list(ns) for ns in page]}
                if nxt is not None:
                    body["next-page-token"] = nxt
                self._send_json(200, body)
            elif len(parts) == 2 and parts[0] == "namespaces":
                ns = _decode_ns(parts[1])
                get_props = getattr(
                    self.store, "namespace_properties", None
                )
                if get_props and ns:
                    # one lookup does both on the hot path; the typed
                    # 404 is guaranteed at the WIRE layer regardless of
                    # the store's error phrasing (the EMPTY namespace
                    # exists virtually with no stored row — fallback
                    # below)
                    try:
                        props = get_props(ns)
                    except Exception as exc:
                        if not self.store.namespace_exists(ns):
                            raise NoSuchNamespaceError(
                                f"Namespace does not exist: {'.'.join(ns)}"
                            ) from exc
                        raise
                else:
                    if not self.store.namespace_exists(ns):
                        raise NoSuchNamespaceError(
                            f"Namespace does not exist: {'.'.join(ns)}"
                        )
                    props = {}
                self._send_json(
                    200, {"namespace": list(ns), "properties": props}
                )
            elif len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables":
                ns = _decode_ns(parts[1])
                page, nxt = _paginate(
                    self.store.list_tables(ns), query, key=lambda t: t.name
                )
                body = {
                    "identifiers": [
                        {"namespace": list(t.namespace), "name": t.name}
                        for t in page
                    ]
                }
                if nxt is not None:
                    body["next-page-token"] = nxt
                self._send_json(200, body)
            elif len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
                ident = TableIdentifier(
                    namespace=_decode_ns(parts[1]), name=urllib.parse.unquote(parts[3])
                )
                result = self._load_table_result(ident)
                mode = query.get("snapshots", ["all"])[0]
                if mode == "refs":
                    # spec LoadTable snapshots=refs: serve only the
                    # snapshots reachable from refs (ancestry chased
                    # through parent-snapshot-id) — a client that only
                    # reads branch/tag heads skips a long expire-able
                    # history's payload
                    result = {
                        **result,
                        "metadata": _filter_ref_snapshots(
                            result["metadata"]
                        ),
                    }
                elif mode != "all":
                    raise CatalogError(
                        f"unsupported snapshots mode {mode!r}: all | refs"
                    )
                self._send_json(200, result)
            else:
                raise CatalogError(f"No route for GET /{'/'.join(parts)}")

        self._dispatch(handle)

    def do_HEAD(self) -> None:  # noqa: N802
        routed = self._route()
        if routed is None:
            return
        parts, _ = routed

        def handle():
            if len(parts) == 2 and parts[0] == "namespaces":
                exists = self.store.namespace_exists(_decode_ns(parts[1]))
            elif len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
                exists = self.store.table_exists(
                    TableIdentifier(
                        namespace=_decode_ns(parts[1]), name=urllib.parse.unquote(parts[3])
                    )
                )
            else:
                raise CatalogError(f"No route for HEAD /{'/'.join(parts)}")
            self._send_json(204 if exists else 404, None)

        self._dispatch(handle)

    def do_POST(self) -> None:  # noqa: N802
        routed = self._route()
        if routed is None:
            return
        parts, _ = routed

        def handle():
            body = self._read_body()
            if parts == ["transactions", "commit"]:
                self._commit_transaction(body)
            elif parts == ["tables", "rename"]:
                # spec RenameTable: atomic in the store (one guarded
                # UPDATE), refuses missing source / taken destination
                src = body.get("source") or {}
                dst = body.get("destination") or {}
                for label, ident in (("source", src), ("destination", dst)):
                    if not isinstance(ident.get("name"), str) or not ident["name"]:
                        # a None name would otherwise surface as an
                        # opaque 500 out of the store's constraints
                        raise CatalogError(
                            f"renameTable {label} needs a non-empty name"
                        )
                self.store.rename_table(
                    TableIdentifier(
                        namespace=tuple(src.get("namespace") or ()),
                        name=src.get("name"),
                    ),
                    TableIdentifier(
                        namespace=tuple(dst.get("namespace") or ()),
                        name=dst.get("name"),
                    ),
                )
                self._send_json(204, None)
            elif parts == ["namespaces"]:
                ns = tuple(body.get("namespace") or ())
                props = body.get("properties") or {}
                # properties are part of the Catalog contract now:
                # stores without a properties column refuse explicitly
                # (no exception-probing — a TypeError from malformed
                # input must not read as a capability gap)
                self.store.create_namespace(ns, props or None)
                self._send_json(
                    200, {"namespace": list(ns), "properties": props}
                )
            elif (
                len(parts) == 3
                and parts[0] == "namespaces"
                and parts[2] == "properties"
            ):
                # spec UpdateNamespaceProperties: {removals, updates} ->
                # {updated, removed, missing} (absent removals are
                # reported, not errors)
                ns = _decode_ns(parts[1])
                fn = getattr(self.store, "update_namespace_properties", None)
                if fn is None:
                    raise CatalogError(
                        f"catalog {self.store.name!r} does not support "
                        "namespace properties"
                    )
                result = fn(
                    ns,
                    removals=body.get("removals") or [],
                    updates=body.get("updates") or {},
                )
                self._send_json(200, result)
            elif len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "register":
                ident = TableIdentifier(
                    namespace=_decode_ns(parts[1]), name=body["name"]
                )
                self.store.register_table(ident, body["metadata-location"])
                self._send_json(200, self._load_table_result(ident))
            elif len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables":
                # spec CreateTable: mint a spec-shaped metadata doc the
                # endpoint owns structurally, register its pointer —
                # this is the route a STOCK Iceberg client starts with
                from .rest_managed import build_create_doc, write_metadata_doc

                ns = _decode_ns(parts[1])
                if not self.store.namespace_exists(ns):
                    raise NoSuchNamespaceError(
                        f"Namespace does not exist: {'.'.join(ns)}"
                    )
                location, doc = build_create_doc(
                    body, ns, getattr(self.server, "warehouse", None)
                )
                ident = TableIdentifier(namespace=ns, name=body["name"])
                if body.get("stage-create"):
                    # spec staged create (CTAS/RTAS): NO pointer, NO
                    # metadata file — the endpoint stages statelessly;
                    # the follow-up commit (assert-create for CTAS, the
                    # plain snapshot vocabulary for RTAS) mints the
                    # durable state and its pointer CAS decides races.
                    # A replace keeps the live table's uuid so the
                    # client's assert-table-uuid holds at commit time.
                    try:
                        cur = self.store.load_table_metadata_location(ident)
                        doc["table-uuid"] = read_table_metadata(cur).get(
                            "table-uuid", doc["table-uuid"]
                        )
                    except NoSuchTableError:
                        pass
                    except (OSError, ValueError):
                        # live pointer's metadata file missing/corrupt:
                        # stage with the skeleton's fresh uuid exactly
                        # like the no-table case instead of surfacing a
                        # 500 (ADVICE r15); the follow-up commit's CAS
                        # still arbitrates
                        pass
                    self._send_json(200, {"metadata": doc})
                    return
                loc, doc = write_metadata_doc(doc)
                try:
                    self.store.register_table(ident, loc)
                except Exception:
                    # the pointer never existed: remove the orphan doc
                    _unlink_quiet(loc)
                    raise
                self._send_json(
                    200, {"metadata-location": loc, "metadata": doc}
                )
            elif (
                len(parts) == 5
                and parts[0] == "namespaces"
                and parts[2] == "tables"
                and parts[4] == "metrics"
            ):
                # spec ReportMetrics: stock clients POST scan metrics
                # after every read and treat failures as warnings — a
                # no-route 404 on each scan is pure wire noise. Accept
                # and discard (204); the request counter records it.
                ident = TableIdentifier(
                    namespace=_decode_ns(parts[1]),
                    name=urllib.parse.unquote(parts[3]),
                )
                if not self.store.table_exists(ident):
                    raise NoSuchTableError(
                        f"Table does not exist: {ident}"
                    )
                self._send_json(204, None)
            elif len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
                self._commit_table(
                    TableIdentifier(
                        namespace=_decode_ns(parts[1]), name=urllib.parse.unquote(parts[3])
                    ),
                    body,
                )
            else:
                raise CatalogError(f"No route for POST /{'/'.join(parts)}")

        self._dispatch(handle)

    def _commit_table(self, ident: TableIdentifier, body: dict) -> None:
        """Both commit vocabularies, one arbitration point.

        Pointer-table model (the engine's own client): one
        ``assert-current-metadata-location`` requirement + one
        ``set-current-metadata-location`` update — the client wrote the
        candidate doc itself; the server only swaps the pointer.

        Spec snapshot vocabulary (stock Iceberg clients):
        ``assert-ref-snapshot-id`` / ``add-snapshot`` /
        ``set-snapshot-ref`` / schema-spec-order-property updates — the
        SERVER owns the doc: it loads the current metadata, checks the
        requirements (409 on conflict), applies the updates, writes the
        next metadata file, and swaps the pointer. Either way the
        store's atomic swap decides races, so a foreign commit and an
        engine commit arbitrate through the same CAS."""
        from .rest_managed import CommitConflictError, is_pointer_commit

        if not is_pointer_commit(body) and any(
            r.get("type") == "assert-create"
            for r in body.get("requirements") or []
        ):
            self._commit_staged_create(ident, body)
            return
        expected, new, doc, written = self._resolve_change(ident, body)
        if not self.store.swap_table_metadata_location(ident, expected, new):
            if written:
                # the losing candidate doc must not linger as an orphan
                _unlink_quiet(new)
            raise CommitConflictError(
                f"Commit failed: metadata for {ident} changed concurrently"
            )
        self._send_json(200, {"metadata-location": new, "metadata": doc})

    def _resolve_change(
        self, ident: TableIdentifier, change: dict
    ) -> tuple[str, str, dict, bool]:
        """One table change as the pointer swap it asks for:
        ``(expected, new, doc, written)``. The pointer-model pair names
        both locations (the client wrote the doc, so ``doc`` is empty);
        spec updates are applied to the current doc and the next doc is
        written here (``written``: the caller unlinks it when its swap
        does not happen)."""
        from .rest_managed import apply_commit, is_pointer_commit, write_metadata_doc

        if is_pointer_commit(change):
            expected = next(
                (
                    r.get("metadata-location")
                    for r in change.get("requirements") or []
                    if r.get("type") == "assert-current-metadata-location"
                ),
                None,
            )
            new = next(
                (
                    u.get("metadata-location")
                    for u in change.get("updates") or []
                    if u.get("action") == "set-current-metadata-location"
                ),
                None,
            )
            if expected is None or new is None:
                raise CatalogError(
                    "a pointer-model commit requires both "
                    "assert-current-metadata-location and "
                    "set-current-metadata-location"
                )
            return expected, new, {}, False
        current = self.store.load_table_metadata_location(ident)
        doc = read_table_metadata(current)
        new, new_doc = write_metadata_doc(
            apply_commit(doc, change),
            prior_location=current,
            prior_updated_ms=doc.get("last-updated-ms"),
        )
        return current, new, new_doc, True

    def _commit_transaction(self, body: dict) -> None:
        """Spec CommitTransaction (``POST /v1/transactions/commit``):
        N CommitTableRequests validated against the CURRENT state, N
        candidate metadata docs written, then ONE store transaction
        applies every pointer swap — all-or-nothing. A stale
        requirement on ANY table 409s the whole transaction, a crash
        between validations leaves no partial pointer state (only
        unreferenced candidate files, same as the single-table path),
        and the same CAS arbitration decides races with every other
        commit vocabulary."""
        from .rest_managed import CommitConflictError, is_pointer_commit

        changes = body.get("table-changes")
        if not isinstance(changes, list) or not changes:
            raise CatalogError(
                "transactions/commit needs a non-empty table-changes list"
            )
        multi_swap = getattr(
            self.store, "swap_table_metadata_locations", None
        )
        if multi_swap is None:
            raise CatalogError(
                f"catalog {self.store.name!r} cannot apply atomic "
                "multi-table transactions"
            )
        swaps: list[tuple[TableIdentifier, str, str]] = []
        written: list[str] = []
        seen: dict[TableIdentifier, bool] = {}  # ident -> all-pointer?
        try:
            for ch in changes:
                ident_d = ch.get("identifier") or {}
                if not isinstance(ident_d.get("name"), str) or not ident_d["name"]:
                    raise CatalogError(
                        "each table-change needs an identifier with "
                        "namespace and name"
                    )
                ident = TableIdentifier(
                    namespace=tuple(ident_d.get("namespace") or ()),
                    name=ident_d["name"],
                )
                pointer = is_pointer_commit(ch)
                if ident in seen and not (pointer and seen[ident]):
                    # a repeated SPEC-vocabulary change can never win:
                    # both validations read the same pointer, so the
                    # second swap's CAS is doomed — a malformed request
                    # (merge the changes), not a retriable 409.
                    # Chained POINTER-model changes are fine: the
                    # store's sequential in-transaction UPDATEs let
                    # change 2 assert what change 1 set.
                    raise CatalogError(
                        f"transactions/commit names {ident} twice with "
                        "server-applied updates; merge its changes into "
                        "one table-change"
                    )
                seen[ident] = pointer and seen.get(ident, True)
                if any(
                    r.get("type") == "assert-create"
                    for r in ch.get("requirements") or []
                ):
                    # a staged create needs an INSERT, not a swap — the
                    # multi-CAS can't mint tables; refuse loudly rather
                    # than half-support it
                    raise CatalogError(
                        "staged creates (assert-create) are not supported "
                        "inside transactions/commit; commit the staged "
                        "table individually"
                    )
                expected, new, _, written_here = self._resolve_change(ident, ch)
                if written_here:
                    written.append(new)
                swaps.append((ident, expected, new))
            if not multi_swap(swaps):
                raise CommitConflictError(
                    "Commit failed: one or more tables in the "
                    "transaction changed concurrently"
                )
        except Exception:
            # NO pointer moved (the store rolled the batch back or we
            # never reached it): the candidate docs must not linger
            _unlink_quiet(*written)
            raise
        self._send_json(204, None)

    def _commit_staged_create(
        self, ident: TableIdentifier, body: dict
    ) -> None:
        """The CTAS half of staged creation: a CommitTable whose
        requirements carry ``assert-create`` builds the table's FIRST
        metadata from the commit's own updates (the stock client's
        ``createChanges`` vocabulary) over an empty skeleton — the
        endpoint keeps no staged state, so the table's existence is
        minted atomically by the store's register (a racing staged
        create loses with the spec's 409 CommitFailedException)."""
        from .rest_managed import (
            CommitConflictError,
            apply_commit,
            build_stage_skeleton,
            write_metadata_doc,
        )

        if self.store.table_exists(ident):
            raise CommitConflictError(
                "Requirement failed: table already exists"
            )
        if not self.store.namespace_exists(ident.namespace):
            raise NoSuchNamespaceError(
                f"Namespace does not exist: {'.'.join(ident.namespace)}"
            )
        explicit_loc = next(
            (
                u.get("location")
                for u in body.get("updates") or []
                if u.get("action") == "set-location"
            ),
            None,
        )
        base = build_stage_skeleton(
            ident.namespace,
            ident.name,
            getattr(self.server, "warehouse", None),
            location=explicit_loc,
        )
        new_doc = apply_commit(base, body, staged=True)
        if new_doc.get("current-schema-id") not in {
            s.get("schema-id") for s in new_doc.get("schemas", [])
        }:
            raise CatalogError(
                "staged-create commit must carry the metadata-building "
                "updates (add-schema + set-current-schema): this "
                "endpoint stages statelessly"
            )
        new_loc, new_doc = write_metadata_doc(new_doc)
        try:
            self.store.register_table(ident, new_loc)
        except TableAlreadyExistsError:
            # lost the create race after our existence probe
            _unlink_quiet(new_loc)
            raise CommitConflictError(
                "Requirement failed: table already exists"
            ) from None
        except Exception:
            _unlink_quiet(new_loc)
            raise
        self._send_json(
            200, {"metadata-location": new_loc, "metadata": new_doc}
        )

    def do_DELETE(self) -> None:  # noqa: N802
        routed = self._route()
        if routed is None:
            return
        parts, query = routed

        def handle():
            if len(parts) == 2 and parts[0] == "namespaces":
                # spec DropNamespace: empty namespaces only (the store
                # refuses non-empty ones loudly), 404 when absent
                ns = _decode_ns(parts[1])
                if not self.store.drop_namespace(ns):
                    raise NoSuchNamespaceError(
                        f"Namespace does not exist: {'.'.join(ns)}"
                    )
                self._send_json(204, None)
            elif len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
                ident = TableIdentifier(
                    namespace=_decode_ns(parts[1]), name=urllib.parse.unquote(parts[3])
                )
                purge = query.get("purgeRequested", ["false"])[0] == "true"
                if purge:
                    # one policy, one text (see base.PURGE_REFUSAL_MESSAGE
                    # for the rationale) — store, client and wire route
                    # all refuse identically
                    raise CatalogError(PURGE_REFUSAL_MESSAGE)
                if not self.store.drop_table(ident, purge=False):
                    raise NoSuchTableError(f"Table does not exist: {ident}")
                self._send_json(204, None)
            else:
                raise CatalogError(f"No route for DELETE /{'/'.join(parts)}")

        self._dispatch(handle)


class IcebergRestCatalogServer:
    """A localhost REST-catalog endpoint over a catalog store.

    ``start()`` binds an ephemeral 127.0.0.1 port and serves on a
    daemon thread; ``close()`` shuts the server down (and the store,
    when this server owns it)."""

    def __init__(
        self,
        store: Catalog,
        owns_store: bool = False,
        prefix: str | None = None,
        token: str | None = None,
        latency_ms: float = 0.0,
        warehouse: str | None = None,
    ) -> None:
        self.store = store
        self._owns_store = owns_store
        self.prefix = prefix
        self.token = token
        #: filesystem root for tables CREATED through the spec route
        #: without an explicit location (foreign clients rarely send
        #: one); None = such creates refuse with the reason named
        self.warehouse = warehouse
        #: artificial per-request delay — benchmarking aid simulating a
        #: REMOTE catalog service (localhost answers in ~2ms; real
        #: endpoints sit tens of ms away, which is what the migrator's
        #: request fan-out exists to amortize)
        self.latency_ms = latency_ms
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.uri: str | None = None

    def start(self) -> str:
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.daemon_threads = True
        self._httpd.store = self.store  # type: ignore[attr-defined]
        self._httpd.warehouse = self.warehouse  # type: ignore[attr-defined]
        self._httpd.prefix = self.prefix  # type: ignore[attr-defined]
        self._httpd.token = self.token  # type: ignore[attr-defined]
        self._httpd.latency_ms = self.latency_ms  # type: ignore[attr-defined]
        self._httpd.requests_served = 0  # type: ignore[attr-defined]
        self._httpd.requests_lock = threading.Lock()  # type: ignore[attr-defined]
        host, port = self._httpd.server_address[:2]
        self.uri = f"http://{host}:{port}"
        self._thread = threading.Thread(
            target=self._httpd.serve_forever,
            name=f"iceberg-rest-{port}",
            daemon=True,
        )
        self._thread.start()
        return self.uri

    @property
    def requests_served(self) -> int:
        """How many HTTP requests this endpoint has handled — lets
        tests assert traffic really travelled the wire."""
        return getattr(self._httpd, "requests_served", 0)

    def close(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            if self._thread is not None:
                self._thread.join(timeout=5)
            self._httpd = None
        if self._owns_store:
            self.store.close()

    def __enter__(self) -> "IcebergRestCatalogServer":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.close()
