"""The per-layer metric catalogue: every name a traced run reports, and
its unit. A traced run reports all of them on every workload; a layer
the workload leaves idle reads 0."""

from __future__ import annotations

CATALOG_OPS = ("list_namespaces", "list_tables", "create_namespace", "load", "register", "drop")
STORE_OPS = ("load", "register", "drop")
TABLE_OPS = ("append", "delete", "merge", "compact", "mor_read", "publish")
TABLE_OP_FIELDS = ("driver_s", "job_s", "jobs", "stages", "tasks", "shuffle_bytes")
QUERY_FAMILIES = ("sql", "dedup", "pipeline")
QUERY_FIELDS = (
    "build_s",
    "exec_s",
    "job_busy_s",
    "nonjob_s",
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def all_layer_metrics() -> list[str]:
    names: list[str] = []
    # catalog layer (migrate)
    for op in CATALOG_OPS:
        names += [f"catalog.{op}.calls", f"catalog.{op}.busy_s", f"catalog.{op}.p50_ms"]
    names += [f"store.{op}.busy_s" for op in STORE_OPS]
    names += [
        "rest.requests_per_table",
        "catalog.create_namespace.useful_ratio",
        "migrator.discover_s",
        "migrator.inflight_mean",
        "migrator.self_s",
        "migrate.tables_per_s",
        "migrate.table_p50_ms",
        "migrate.table_p99_ms",
    ]
    # snapshot-table layer (table_commits)
    for op in TABLE_OPS:
        names += [f"{op}.{f}" for f in TABLE_OP_FIELDS]
    names += [
        "table.metadata_bytes_per_commit",
        "table.write_amp",
        "merge.files_rewritten_ratio",
        "cas.attempts_per_commit",
        "publish.export_s",
        "publish.read_s",
        "commits.append_p50_s",
        "commits.delete_p50_s",
        "commits.merge_p50_s",
        "commits.mor_read_p50_s",
        "commits.table_wall_s",
    ]
    # queries / operators (query_suite)
    for fam in QUERY_FAMILIES:
        names += [f"{fam}.{f}" for f in QUERY_FIELDS]
    names += ["query.wall_s", "query.p50_s", "query.p75_s"]
    # session (Spark workloads)
    names += ["session.start_s", "session.warmup_s", "tables.ingest_s"]
    names.append("trace.overhead_frac")
    return names


_SPECIAL_UNITS = {
    "migrate.tables_per_s": "1/s",
    "rest.requests_per_table": "count",
    "table.metadata_bytes_per_commit": "bytes",
    "cas.attempts_per_commit": "count",
}


def unit_of(name: str) -> str:
    if name in _SPECIAL_UNITS:
        return _SPECIAL_UNITS[name]
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("bytes"):
        return "bytes"
    if last in ("calls", "jobs", "stages", "tasks"):
        return "count"
    return "ratio"
