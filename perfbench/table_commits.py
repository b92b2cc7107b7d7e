"""table_commits workload: one writer on a catalog-arbitrated snapshot
table, where every commit is a compare-and-swap in a ``SqlCatalog``.

A fixed seeded sequence of rounds. Each round appends a seeded batch,
equality-deletes about 1% of recent keys (merge-on-read), and reads the
visible rows back (count and checksum); these three are the round's
commit cycle, one latency sample. Every 2nd round also upserts
(``merge_upsert``, copy-on-write), then compacts the pending
deletes and publishes: ``export_iceberg_metadata`` followed by a
``read_iceberg_table`` read-back. Each read result is checked
against a plain-Python model of the table, outside the timed region.
"""

from __future__ import annotations

import os
import random
import time

from common import SparkJobs, TimedProxy, median, union_seconds
from spark_setup import calibrate_spark, setup_repeated

SETUPS = 2
BATCH_ROWS = 5000
#: seconds of ``--seconds`` per round (a round takes about 5-10 s on a
#: 4-core x86 host); never fewer than 2 rounds, so that every operation
#: (upsert, compaction, publish) runs at least once
SECONDS_PER_ROUND = 7
MIN_ROUNDS = 2
SCHEMA = "id bigint, v bigint, tag string"
TAGS = ["red", "green", "blue", "amber"]


class Model:
    """The table's visible rows as a plain dict: id -> (v, tag)."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple[int, str]] = {}

    def expect(self) -> tuple[int, int, int]:
        return (
            len(self.rows),
            sum(v for v, _t in self.rows.values()),
            sum(self.rows),
        )


def _frame(spark, rows: list[tuple[int, int, str]]):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["id", "v", "tag"])
    return spark.createDataFrame(pdf, SCHEMA)


def _observe(df) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("v"), F.lit(0)).alias("sv"),
        F.coalesce(F.sum("id"), F.lit(0)).alias("si"),
    ).first()
    return int(r.n), int(r.sv), int(r.si)


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            out[p] = os.path.getsize(p)
    return out


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    spark, setups = setup_repeated(ctx.root, SETUPS)
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.sources.iceberg_format import export_iceberg_metadata
    from iceberg_catalog_migrator_spark.sources.iceberg_read import read_iceberg_table
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        CatalogArbitratedTable,
        compact_deletes,
        delete_where,
        merge_upsert,
        read_with_deletes,
    )

    calibration = {"spark_s": calibrate_spark(spark)}

    catalog = SqlCatalog("lake", os.path.join(ctx.root, "catalog.db"))
    if ctx.trace:
        arbiter = TimedProxy(catalog, ctx.tracer, "catalog", {"swap_table_metadata_location": "cas"})
    else:
        arbiter = catalog
    ident = TableIdentifier.of("bench", "events")
    catalog.create_namespace(("bench",))
    path = os.path.join(ctx.root, "table")
    table = CatalogArbitratedTable.create(spark, arbiter, ident, path, SCHEMA)
    jobs = SparkJobs(spark) if ctx.trace else None

    model = Model()
    next_id = 0
    recent: list[list[int]] = []
    ops: list[dict] = []
    errors: dict[str, str] = {}
    checks = failed = commits = 0
    seen_files = _dir_files(path)
    written = {"append": 0, "all": 0}
    merge_ratio: list[float] = []

    def timed(kind: str, fn):
        group = f"op{len(ops)}-{kind}"
        if jobs is not None:
            jobs.group(group)
        with ctx.tracer.span(f"table.{kind}") as sp:
            out = fn()
        ops.append({"kind": kind, "s": sp.seconds, "group": group})
        return out

    def account(kind: str) -> None:
        nonlocal seen_files
        now = _dir_files(path)
        new_data = sum(
            size for p, size in now.items() if p not in seen_files and f"{os.sep}data{os.sep}" in p
        )
        written["all"] += new_data
        if kind == "append":
            written["append"] += new_data
        seen_files = now

    def verify(label: str, got: tuple[int, int, int]) -> None:
        nonlocal checks, failed
        checks += 1
        if got != model.expect():
            failed += 1
            errors[label] = f"read {got} != model {model.expect()}"

    n_rounds = max(round(ctx.seconds / SECONDS_PER_ROUND), MIN_ROUNDS)
    cycles: list[float] = []
    t_all = time.perf_counter()
    for r in range(1, n_rounds + 1):
        first = len(ops)
        # append a seeded batch of fresh keys
        batch = [(next_id + i, rng.randrange(1_000_000), rng.choice(TAGS)) for i in range(BATCH_ROWS)]
        next_id += BATCH_ROWS
        df = _frame(spark, batch)
        timed("append", lambda: table.append(df))
        commits += 1
        account("append")
        model.rows.update((i, (v, t)) for i, v, t in batch)
        recent = (recent + [[i for i, _v, _t in batch]])[-3:]

        # equality-delete ~1% of recent, still visible keys
        pool = [k for ids in recent for k in ids if k in model.rows]
        doomed = rng.sample(pool, max(len(pool) // 100, 1))
        keys = spark.createDataFrame([(k,) for k in doomed], "id bigint")
        timed("delete", lambda: delete_where(table, ["id"], keys))
        commits += 1
        account("delete")
        for k in doomed:
            del model.rows[k]

        if r % 2 == 0:
            # copy-on-write upsert: update 1% of visible keys, insert 100 new ones
            visible = list(model.rows)
            updates = [
                (k, rng.randrange(1_000_000), rng.choice(TAGS))
                for k in rng.sample(visible, len(visible) // 100)
            ]
            inserts = [(next_id + i, rng.randrange(1_000_000), rng.choice(TAGS)) for i in range(100)]
            next_id += 100
            delta = _frame(spark, updates + inserts)
            res = timed("merge", lambda: merge_upsert(table, delta, ["id"]))
            commits += 1
            account("merge")
            total = res.get("rewritten", 0) + res.get("carried", 0)
            merge_ratio.append(res.get("rewritten", 0) / total if total else 0.0)
            model.rows.update((i, (v, t)) for i, v, t in updates + inserts)

        got = timed("mor_read", lambda: _observe(read_with_deletes(table)))
        verify(f"round{r}.read", got)
        cycles.append(sum(o["s"] for o in ops[first:] if o["kind"] != "merge"))

        if r % 2 == 0:
            timed("compact", lambda: compact_deletes(table))
            commits += 1
            account("compact")
            out = timed("publish_export", lambda: export_iceberg_metadata(table, spark=spark))
            got = timed(
                "publish_read", lambda: _observe(read_iceberg_table(spark, out["metadata_location"]))
            )
            verify(f"round{r}.iceberg_read", got)
    wall_s = time.perf_counter() - t_all
    if jobs is not None:
        spark.sparkContext.setJobGroup("idle", "idle")
        for op in ops:
            op.update(jobs.collect(op["group"]))
    meta_bytes = sum(s for p, s in _dir_files(path).items() if f"{os.sep}metadata{os.sep}" in p)
    spark.stop()

    def times(kind: str) -> list[float]:
        return [o["s"] for o in ops if o["kind"] == kind]

    layer: dict[str, float] = {
        "commits.append_p50_s": median(times("append")),
        "commits.delete_p50_s": median(times("delete")),
        "commits.merge_p50_s": median(times("merge")),
        "commits.mor_read_p50_s": median(times("mor_read")),
        "commits.table_wall_s": wall_s,
        "publish.export_s": sum(times("publish_export")),
        "publish.read_s": sum(times("publish_read")),
        "table.metadata_bytes_per_commit": meta_bytes / commits,
        "table.write_amp": written["all"] / written["append"] if written["append"] else 0.0,
        "merge.files_rewritten_ratio": sum(merge_ratio) / len(merge_ratio) if merge_ratio else 0.0,
        "session.start_s": setups[0]["start_s"],
        "session.warmup_s": median([s["warmup_s"] for s in setups]),
    }
    if ctx.trace:
        cas = sum(1 for s in ctx.tracer.spans if s[1] == "catalog.cas")
        layer["cas.attempts_per_commit"] = cas / commits
        for kind in ("append", "delete", "merge", "compact", "mor_read", "publish"):
            recs = [o for o in ops if o["kind"] == kind or o["kind"].startswith(kind + "_")]
            busy = sum(union_seconds(o["intervals"]) for o in recs)
            layer[f"{kind}.job_s"] = busy
            layer[f"{kind}.driver_s"] = sum(o["s"] for o in recs) - busy
            layer[f"{kind}.jobs"] = sum(o["jobs"] for o in recs)
            layer[f"{kind}.stages"] = sum(o["stages"] for o in recs)
            layer[f"{kind}.tasks"] = sum(o["tasks"] for o in recs)
            layer[f"{kind}.shuffle_bytes"] = sum(
                o["shuffle_read_bytes"] + o["shuffle_write_bytes"] for o in recs
            )
    return {
        "attempted": len(ops),
        "failed": failed,
        "errors": errors,
        "calibration": calibration,
        "e2e": {
            "setup_s": median([s["total_s"] for s in setups]),
            "wall_s": wall_s,
            "op_p50_ms": median(cycles) * 1000.0,
        },
        "layer": layer,
        "info": {
            "rounds": n_rounds,
            "batch_rows": BATCH_ROWS,
            "operations": len(ops),
            "commits": commits,
            "checks": checks,
            "cycle_s": [round(c, 4) for c in cycles],
            "op_s": [(o["kind"], round(o["s"], 4)) for o in ops],
            "setups": setups,
            "status_store_read_s": jobs.read_seconds if jobs is not None else 0.0,
        },
    }
