"""migrate workload: the paper's operation, REST catalog to REST catalog.

Each round seeds a source catalog with a nested namespace tree (depth
1-3) and its tables, starts two catalog endpoints in their own
processes (2 ms injected latency per request), and migrates every table
with ``CatalogMigrator(..., delete_entries_from_source_catalog=True)
.register_tables(ids, parallelism=nproc)``. A round's set-up is the
seeding plus the endpoint start; its wall time is discovery plus
registration. Each ``register_table`` call is one latency sample; it
covers namespace create, load, register and drop.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

from common import TimedProxy, median, percentile, self_times, span_stats

ROUNDS = 4
#: tables per round per second of ``--seconds``
TABLES_PER_SECOND = 30
LATENCY_MS = 2.0
CLIENT_METHODS = {
    "list_namespaces": "list_namespaces",
    "list_tables": "list_tables",
    "create_namespace": "create_namespace",
    "load_table_metadata_location": "load",
    "register_table": "register",
    "drop_table": "drop",
}
SERVER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_server.py")


def namespace_tree(rng: random.Random) -> list[tuple[str, ...]]:
    """A seeded namespace tree: 6 roots, each with 1-3 children, each
    child with 0-2 grandchildren."""
    out = []
    for a in range(6):
        root = (f"ns{a}",)
        out.append(root)
        for b in range(rng.randint(1, 3)):
            child = root + (f"sub{b}",)
            out.append(child)
            for c in range(rng.randint(0, 2)):
                out.append(child + (f"leaf{c}",))
    return out


def seed_source(db: str, warehouse: str, rng: random.Random, n: int) -> dict[str, str]:
    """Create the source store directly; returns identifier -> metadata
    location for every seeded table."""
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.catalog.base import write_table_metadata

    namespaces = namespace_tree(rng)
    src = SqlCatalog("source", db)
    for ns in namespaces:
        src.create_namespace(ns)
    seeded = {}
    for i in range(n):
        ns = rng.choice(namespaces)
        ident = TableIdentifier.of(*ns, f"t{i:05d}")
        loc = write_table_metadata(
            os.path.join(warehouse, *ns, f"t{i:05d}"), "struct<id:bigint>", version=1
        )
        src.register_table(ident, loc)
        seeded[str(ident)] = loc
    src.close()
    return seeded


class Endpoint:
    """A catalog endpoint process over one sqlite store."""

    def __init__(self, db: str, trace: bool) -> None:
        self.db = db
        self.out = db + ".server.json"
        self.proc = subprocess.Popen(
            [sys.executable, SERVER, db, str(LATENCY_MS), "1" if trace else "0", self.out],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def uri(self) -> str:
        line = self.proc.stdout.readline().strip()
        if not line.startswith("http://"):
            self.stop()
            raise RuntimeError(f"catalog endpoint for {self.db} did not start")
        return line

    def stop(self) -> dict:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        if not os.path.exists(self.out):
            return {"requests_served": 0, "spans": []}
        with open(self.out) as f:
            return json.load(f)


def check(root: str, seeded: dict[str, str], result, ids) -> tuple[list[str], int]:
    """Target lists exactly the seeded set with identical metadata
    locations; the source ends empty; no identifier failed. Also
    returns how many namespaces the target holds."""
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog

    problems = []
    if result.failed_to_register_table_identifiers:
        problems.append(f"{len(result.failed_to_register_table_identifiers)} failed to register")
    if result.failed_to_delete_table_identifiers:
        problems.append(f"{len(result.failed_to_delete_table_identifiers)} failed to delete")
    if sorted(str(i) for i in ids) != sorted(seeded):
        problems.append(f"discovered {len(ids)} of {len(seeded)} tables")
    for name, want in (("target", seeded), ("source", {})):
        cat = SqlCatalog(name, os.path.join(root, f"{name}.db"))
        namespaces = _all_namespaces(cat)
        got = {
            str(t): cat.load_table_metadata_location(t)
            for ns in [(), *namespaces]
            for t in cat.list_tables(ns)
        }
        cat.close()
        if got != want:
            problems.append(f"{name} holds {len(got)} tables, expected {len(want)}")
        if name == "target":
            target_namespaces = len(namespaces)
    return problems, target_namespaces


def _all_namespaces(cat) -> list[tuple[str, ...]]:
    out, todo = [], [()]
    while todo:
        for ns in cat.list_namespaces(todo.pop()):
            out.append(ns)
            todo.append(ns)
    return out


def one_round(ctx, index: int, rng: random.Random, n: int) -> dict:
    from iceberg_catalog_migrator_spark.catalog import CatalogMigrator
    from iceberg_catalog_migrator_spark.catalog.service import RestCatalog

    root = os.path.join(ctx.root, f"round{index}")
    os.makedirs(root)
    tracer = ctx.tracer
    t0 = time.perf_counter()
    seeded = seed_source(os.path.join(root, "source.db"), os.path.join(root, "wh"), rng, n)
    endpoints = {k: Endpoint(os.path.join(root, f"{k}.db"), ctx.trace) for k in ("source", "target")}
    uris = {k: e.uri() for k, e in endpoints.items()}
    clients = {k: RestCatalog(k, {"uri": u}) for k, u in uris.items()}
    setup_s = time.perf_counter() - t0

    if ctx.trace:
        wrapped = {k: TimedProxy(c, tracer, "catalog", CLIENT_METHODS) for k, c in clients.items()}
    else:
        wrapped = clients
    migrator = CatalogMigrator(
        wrapped["source"], wrapped["target"], delete_entries_from_source_catalog=True
    )
    latencies: list[float] = []
    register_one = migrator.register_table

    def timed_register(identifier):
        with tracer.span("migrator.register_table") as sp:
            out = register_one(identifier)
        latencies.append(sp.seconds)
        return out

    migrator.register_table = timed_register
    t1 = time.perf_counter()
    with tracer.span("migrator.discover") as discover:
        ids = migrator.get_matching_table_identifiers(None)
    migrator.register_tables(ids, parallelism=ctx.nproc)
    wall_s = time.perf_counter() - t1
    result = migrator.result()

    for c in clients.values():
        c.close()
    served = {k: e.stop() for k, e in endpoints.items()}
    problems, namespaces = check(root, seeded, result, ids)
    return {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "register_s": wall_s - discover.seconds,
        "discover_s": discover.seconds,
        "latencies": latencies,
        "tables": n,
        "attempted": len(seeded),
        "failed": len(seeded) - len(result.registered_table_identifiers) + (1 if problems else 0),
        "problems": problems,
        "namespaces": namespaces,
        "requests": sum(s["requests_served"] for s in served.values()),
        "server_spans": [sp for s in served.values() for sp in s["spans"]],
    }


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    n = max(int(TABLES_PER_SECOND * ctx.seconds), 20)
    rounds = [one_round(ctx, i, rng, n) for i in range(ROUNDS)]
    latencies = [x for r in rounds for x in r["latencies"]]
    errors = {f"round{i}": "; ".join(r["problems"]) for i, r in enumerate(rounds) if r["problems"]}
    total_tables = sum(r["tables"] for r in rounds)
    register_s = sum(r["register_s"] for r in rounds)

    spans = ctx.tracer.spans
    server_spans = [sp for r in rounds for sp in r["server_spans"]]
    layer: dict[str, float] = {
        "migrate.tables_per_s": total_tables / sum(r["wall_s"] for r in rounds),
        "migrate.table_p50_ms": median(latencies) * 1000.0,
        "migrate.table_p99_ms": percentile(latencies, 99.0) * 1000.0,
        "migrator.discover_s": median([r["discover_s"] for r in rounds]),
        "rest.requests_per_table": sum(r["requests"] for r in rounds) / total_tables,
    }
    if ctx.trace:
        for op in CLIENT_METHODS.values():
            calls, busy, p50 = span_stats(spans, f"catalog.{op}")
            layer[f"catalog.{op}.calls"] = calls / ROUNDS
            layer[f"catalog.{op}.busy_s"] = busy / ROUNDS
            layer[f"catalog.{op}.p50_ms"] = p50
        for op in ("load", "register", "drop"):
            layer[f"store.{op}.busy_s"] = span_stats(server_spans, f"store.{op}")[1] / ROUNDS
        attempts = layer["catalog.create_namespace.calls"] * ROUNDS
        created = sum(r["namespaces"] for r in rounds)
        layer["catalog.create_namespace.useful_ratio"] = created / attempts if attempts else 0.0
        layer["migrator.inflight_mean"] = sum(latencies) / register_s
        # time inside register_table but outside every catalog call
        own = self_times(spans)
        layer["migrator.self_s"] = (
            sum(own[s[0]] for s in spans if s[1] == "migrator.register_table") / ROUNDS
        )
    return {
        "attempted": sum(r["attempted"] for r in rounds),
        "failed": sum(r["failed"] for r in rounds),
        "errors": errors,
        "remote_spans": len(server_spans),
        "e2e": {
            "setup_s": median([r["setup_s"] for r in rounds]),
            "wall_s": median([r["wall_s"] for r in rounds]),
            "op_p50_ms": median(latencies) * 1000.0,
        },
        "layer": layer,
        "info": {
            "tables_per_round": n,
            "rounds": ROUNDS,
            "latency_ms_injected": LATENCY_MS,
            "parallelism": ctx.nproc,
            "samples": len(latencies),
            "setup_s": [r["setup_s"] for r in rounds],
            "wall_s": [r["wall_s"] for r in rounds],
        },
    }
