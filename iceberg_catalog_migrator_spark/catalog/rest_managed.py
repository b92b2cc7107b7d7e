"""Managed-table plane for the REST catalog server: the spec's
CreateTable route and snapshot-vocabulary commit envelope, translated
onto spec-shaped ``metadata.json`` documents the endpoint OWNS
structurally (not just a pointer it arbitrates).

This is what lets a FOREIGN Iceberg client talk to the endpoint: the
reference's own REST path exists to serve stock clients
(``CatalogMigrationUtil.java:36-46,70-96`` builds
``org.apache.iceberg.rest.RESTCatalog``), and a stock client creates
tables with POST ``/v1/namespaces/{ns}/tables`` and commits with
``assert-ref-snapshot-id`` / ``add-snapshot`` / ``set-snapshot-ref`` —
not with the pointer-model ``set-current-metadata-location`` the
engine's own client uses. Both vocabularies are served; the store's
atomic pointer swap stays the single arbitration point, so a foreign
commit and an engine commit race through the same CAS.

Everything here is pure document logic (build / check / apply); docs
are built and written through :mod:`.table_metadata`, and the HTTP
wiring lives in :mod:`.rest_server`. Shapes follow the public Iceberg
table-spec and REST-spec JSON forms.
"""

from __future__ import annotations

import copy
import os
import time

from .base import CatalogError
from .table_metadata import build_metadata, max_field_id

__all__ = [
    "CommitConflictError",
    "apply_commit",
    "build_create_doc",
    "is_pointer_commit",
    "table_location",
]


class CommitConflictError(CatalogError):
    """A commit requirement failed against the current table state —
    maps to the spec's 409 ``CommitFailedException`` (a retryable
    conflict), unlike :class:`CatalogError`'s 400 (a bad request)."""


# --------------------------------------------------------------- create
def _normalize_spec(spec: dict | None, next_field_id: int = 1000) -> dict:
    """A PartitionSpec JSON with spec-id and per-field field-ids filled
    (CreateTableRequest may omit both; partition field ids start at
    1000 per the spec)."""
    if not spec or not spec.get("fields"):
        return {"spec-id": 0, "fields": []}
    fields = []
    fid = next_field_id
    for f in spec["fields"]:
        if not isinstance(f.get("source-id"), int) or not f.get("transform"):
            raise CatalogError(
                f"partition field needs source-id and transform: {f!r}"
            )
        g = dict(f)
        if not isinstance(g.get("field-id"), int):
            g["field-id"] = fid
            fid += 1
        g.setdefault("name", f"p{g['field-id']}")
        fields.append(g)
    return {"spec-id": int(spec.get("spec-id") or 0), "fields": fields}


def _normalize_order(order: dict | None) -> dict:
    if not order or not order.get("fields"):
        return {"order-id": 0, "fields": []}
    return {
        "order-id": int(order.get("order-id") or 1),
        "fields": list(order["fields"]),
    }


def table_location(
    location: str | None, warehouse: str | None, namespace: tuple[str, ...], name: str
) -> str:
    """``location`` when a request names one, else the table's
    directory under the server-side warehouse root."""
    if location:
        return location
    if not warehouse:
        raise CatalogError(
            f"creating {name!r} without an explicit location needs a "
            "server-side warehouse root (none configured)"
        )
    return os.path.join(warehouse, *namespace, name)


def build_create_doc(
    body: dict, namespace: tuple[str, ...], warehouse: str | None
) -> dict:
    """The fresh spec doc for the spec's CreateTableRequest. The schema
    arrives in Iceberg JSON form and is stored verbatim (schema-id
    forced to 0 — it is the first schema)."""
    name = body.get("name")
    schema = body.get("schema")
    if not name or not isinstance(schema, dict) or schema.get("type") != "struct":
        raise CatalogError(
            "CreateTable requires 'name' and a struct 'schema'"
        )
    spec = _normalize_spec(body.get("partition-spec"))
    order = _normalize_order(body.get("write-order"))
    return build_metadata(
        table_location(body.get("location"), warehouse, namespace, name),
        [{**schema, "schema-id": 0}],
        default_spec_id=spec["spec-id"],
        partition_specs=[spec],
        default_sort_order_id=order["order-id"],
        sort_orders=([{"order-id": 0, "fields": []}] if order["order-id"] != 0 else [])
        + [order],
        properties=dict(body.get("properties") or {}),
    )


# --------------------------------------------------------------- commit
def is_pointer_commit(body: dict) -> bool:
    """True when the envelope speaks the engine's pointer-table model
    (``assert/set-current-metadata-location``) rather than the spec's
    snapshot vocabulary."""
    reqs = body.get("requirements") or []
    updates = body.get("updates") or []
    return any(
        r.get("type") == "assert-current-metadata-location" for r in reqs
    ) or any(
        u.get("action") == "set-current-metadata-location" for u in updates
    )


def _drop_stats_entries(doc: dict, key: str, sid) -> None:
    """Drop the ``key`` list's entries for snapshot ``sid`` in place —
    the one spelling of replace-on-rewrite shared by all four
    statistics actions and the remove-snapshots purge."""
    doc[key] = [
        e for e in doc.get(key, []) if e.get("snapshot-id") != sid
    ]


#: requirement type -> (the doc field it asserts, the requirement's field)
_ASSERTED_FIELDS = {
    "assert-last-assigned-field-id": ("last-column-id", "last-assigned-field-id"),
    "assert-current-schema-id": ("current-schema-id", "current-schema-id"),
    "assert-last-assigned-partition-id": ("last-partition-id", "last-assigned-partition-id"),
    "assert-default-spec-id": ("default-spec-id", "default-spec-id"),
    "assert-default-sort-order-id": ("default-sort-order-id", "default-sort-order-id"),
}


def _check_requirements(
    doc: dict, requirements: list, staged: bool = False
) -> None:
    for r in requirements:
        t = r.get("type")
        if t == "assert-table-uuid":
            if doc.get("table-uuid") != r.get("uuid"):
                raise CommitConflictError(
                    f"Requirement failed: table uuid is "
                    f"{doc.get('table-uuid')}, expected {r.get('uuid')}"
                )
        elif t == "assert-ref-snapshot-id":
            ref = r.get("ref")
            want = r.get("snapshot-id")  # null = ref must not exist yet
            cur = ((doc.get("refs") or {}).get(ref) or {}).get("snapshot-id")
            if cur != want:
                raise CommitConflictError(
                    f"Requirement failed: branch {ref} was created "
                    "concurrently or has changed: expected snapshot id "
                    f"{want}, found {cur}"
                )
        elif t == "assert-create":
            if staged:
                # staged-create path: the route established the table's
                # absence and the pointer CAS at register decides races
                continue
            # the table exists (we loaded its doc) — a staged create
            # lost by definition
            raise CommitConflictError(
                "Requirement failed: table already exists"
            )
        elif t in _ASSERTED_FIELDS:
            field, asserted = _ASSERTED_FIELDS[t]
            if doc.get(field) != r.get(asserted):
                raise CommitConflictError(
                    f"Requirement failed: {field} is {doc.get(field)}, "
                    f"expected {r.get(asserted)}"
                )
        else:
            # an unknown requirement silently treated as satisfied
            # would let a conflicting commit through — refuse loudly
            raise CatalogError(f"unsupported commit requirement: {t!r}")


def apply_commit(doc: dict, body: dict, staged: bool = False) -> dict:
    """Check the spec requirements against ``doc`` and apply the spec
    updates; returns the NEW doc (input untouched). Raises
    :class:`CommitConflictError` (→ 409) on requirement failure and
    :class:`CatalogError` (→ 400) on unsupported/invalid shapes —
    unknown actions refuse loudly rather than dropping updates.
    ``staged`` marks a staged-create commit over an empty skeleton
    (``assert-create`` is then satisfied by construction)."""
    if (doc.get("properties") or {}).get("table-kind") == "snapshot-table":
        raise CatalogError(
            "table is an engine snapshot table, whose catalog doc records "
            "the engine's head; its commits swap the pointer "
            "(set-current-metadata-location), not snapshot-vocabulary "
            "updates"
        )
    _check_requirements(doc, body.get("requirements") or [], staged=staged)
    new = copy.deepcopy(doc)
    last_added = {"schema": None, "spec": None, "order": None}
    for u in body.get("updates") or []:
        a = u.get("action")
        if a == "assign-uuid":
            new["table-uuid"] = u["uuid"]
        elif a == "upgrade-format-version":
            fv = int(u["format-version"])
            if fv < new.get("format-version", 2):
                raise CatalogError(
                    f"cannot downgrade format-version to {fv}"
                )
            new["format-version"] = fv
            if fv >= 3:
                new.setdefault("next-row-id", 0)  # the spec's v3 upgrade
        elif a == "add-schema":
            s = dict(u["schema"])
            taken = {sc.get("schema-id") for sc in new.get("schemas", [])}
            sid = s.get("schema-id")
            if not isinstance(sid, int) or sid in taken:
                sid = max((x for x in taken if isinstance(x, int)), default=-1) + 1
                s["schema-id"] = sid
            new.setdefault("schemas", []).append(s)
            new["last-column-id"] = max(
                new.get("last-column-id", 0),
                int(u.get("last-column-id") or 0),
                max_field_id(s),
            )
            last_added["schema"] = sid
        elif a == "set-current-schema":
            sid = int(u["schema-id"])
            if sid == -1:
                if last_added["schema"] is None:
                    raise CatalogError(
                        "set-current-schema -1 without a preceding "
                        "add-schema in this commit"
                    )
                sid = last_added["schema"]
            if sid not in {
                sc.get("schema-id") for sc in new.get("schemas", [])
            }:
                raise CatalogError(f"no schema with id {sid}")
            new["current-schema-id"] = sid
        elif a == "add-spec":
            sp = _normalize_spec(
                u["spec"], next_field_id=new.get("last-partition-id", 999) + 1
            )
            taken = {
                p.get("spec-id") for p in new.get("partition-specs", [])
            }
            if sp["spec-id"] in taken:
                sp["spec-id"] = max(taken, default=-1) + 1
            new.setdefault("partition-specs", []).append(sp)
            new["last-partition-id"] = max(
                new.get("last-partition-id", 999),
                max((f["field-id"] for f in sp["fields"]), default=999),
            )
            last_added["spec"] = sp["spec-id"]
        elif a == "set-default-spec":
            sid = int(u["spec-id"])
            if sid == -1:
                if last_added["spec"] is None:
                    raise CatalogError(
                        "set-default-spec -1 without a preceding add-spec"
                    )
                sid = last_added["spec"]
            if sid not in {
                p.get("spec-id") for p in new.get("partition-specs", [])
            }:
                raise CatalogError(f"no partition spec with id {sid}")
            new["default-spec-id"] = sid
        elif a == "add-sort-order":
            so = dict(u["sort-order"])
            taken = {o.get("order-id") for o in new.get("sort-orders", [])}
            if so.get("order-id") in taken:
                so["order-id"] = max(taken, default=0) + 1
            new.setdefault("sort-orders", []).append(so)
            last_added["order"] = so["order-id"]
        elif a == "set-default-sort-order":
            oid = int(u["sort-order-id"])
            if oid == -1:
                if last_added["order"] is None:
                    raise CatalogError(
                        "set-default-sort-order -1 without a preceding "
                        "add-sort-order"
                    )
                oid = last_added["order"]
            if oid not in {
                o.get("order-id") for o in new.get("sort-orders", [])
            }:
                raise CatalogError(f"no sort order with id {oid}")
            new["default-sort-order-id"] = oid
        elif a == "add-snapshot":
            snap = dict(u["snapshot"])
            for req_key in ("snapshot-id", "timestamp-ms", "manifest-list"):
                if req_key not in snap:
                    raise CatalogError(
                        f"add-snapshot is missing {req_key!r}"
                    )
            if snap["snapshot-id"] in {
                s["snapshot-id"] for s in new.get("snapshots", [])
            }:
                raise CatalogError(
                    f"snapshot {snap['snapshot-id']} already exists"
                )
            new.setdefault("snapshots", []).append(snap)
            new["last-sequence-number"] = max(
                new.get("last-sequence-number", 0),
                int(snap.get("sequence-number", 0)),
            )
        elif a == "set-snapshot-ref":
            name = u.get("ref-name")
            sid = u.get("snapshot-id")
            typ = u.get("type")
            if not name or sid is None or typ not in ("branch", "tag"):
                raise CatalogError(
                    "set-snapshot-ref needs ref-name, snapshot-id and "
                    "type branch|tag"
                )
            by_id = {
                s["snapshot-id"]: s for s in new.get("snapshots", [])
            }
            if sid not in by_id:
                raise CatalogError(
                    f"set-snapshot-ref names unknown snapshot {sid}"
                )
            ref = {"snapshot-id": sid, "type": typ}
            for opt in (
                "min-snapshots-to-keep",
                "max-snapshot-age-ms",
                "max-ref-age-ms",
            ):
                if u.get(opt) is not None:
                    ref[opt] = u[opt]
            new.setdefault("refs", {})[name] = ref
            if name == "main":
                new["current-snapshot-id"] = sid
                new.setdefault("snapshot-log", []).append(
                    {
                        "snapshot-id": sid,
                        "timestamp-ms": by_id[sid]["timestamp-ms"],
                    }
                )
        elif a == "remove-snapshot-ref":
            name = u.get("ref-name")
            (new.get("refs") or {}).pop(name, None)
            if name == "main":
                new["current-snapshot-id"] = -1
        elif a == "remove-snapshots":
            drop = set(u.get("snapshot-ids") or [])
            # refuse to orphan a ref: a metadata doc whose main ref (or
            # any branch/tag) points at a removed snapshot fails every
            # subsequent reader — the stock builder rejects this too
            still_referenced = sorted(
                sid
                for sid in drop
                if sid == new.get("current-snapshot-id")
                or any(
                    r.get("snapshot-id") == sid
                    for r in (new.get("refs") or {}).values()
                )
            )
            if still_referenced:
                raise CatalogError(
                    "remove-snapshots would orphan referenced snapshot(s) "
                    + ", ".join(str(s) for s in still_referenced)
                )
            new["snapshots"] = [
                s
                for s in new.get("snapshots", [])
                if s["snapshot-id"] not in drop
            ]
            new["snapshot-log"] = [
                e
                for e in new.get("snapshot-log", [])
                if e["snapshot-id"] not in drop
            ]
            # statistics files of expired snapshots go with them (the
            # stock builder does the same) — else stale entries
            # accumulate unboundedly across expire cycles
            for sid in drop:
                _drop_stats_entries(new, "statistics", sid)
                _drop_stats_entries(new, "partition-statistics", sid)
        elif a in (
            "set-statistics",
            "remove-statistics",
            "set-partition-statistics",
            "remove-partition-statistics",
        ):
            # the spec's per-snapshot statistics-file registration:
            # replace-on-rewrite lists (what a stock client commits
            # after writing a puffin)
            key = (
                "partition-statistics"
                if "partition" in a
                else "statistics"
            )
            entry = None
            if a.startswith("set-"):
                entry = u.get(key) or {}
                sid = entry.get("snapshot-id", u.get("snapshot-id"))
                # a bare entry would persist and then fail every stock
                # reader's required-field parse, bricking the table —
                # reject at commit time like add-snapshot does
                for req_key in ("statistics-path", "file-size-in-bytes"):
                    if req_key not in entry:
                        raise CatalogError(f"{a} is missing {req_key!r}")
            else:
                sid = u.get("snapshot-id")
            if sid is None:
                raise CatalogError(f"{a} needs snapshot-id")
            _drop_stats_entries(new, key, sid)
            if entry is not None:
                new[key].append({**entry, "snapshot-id": sid})
        elif a == "set-properties":
            new.setdefault("properties", {}).update(u.get("updates") or {})
        elif a == "remove-properties":
            for k in u.get("removals") or []:
                new.get("properties", {}).pop(k, None)
        elif a == "set-location":
            new["location"] = u["location"]
        else:
            raise CatalogError(f"unsupported commit update action: {a!r}")
    new["last-updated-ms"] = int(time.time() * 1000)
    return new
