"""query_suite workload: registered queries, each once, cold, in a
seeded order, on seeded star-schema data.

Each query is timed from the call of its registered function to the
last row collected on the driver. Its rows are then compared, outside
the timed region, with the query's DuckDB oracle (row count plus
order-insensitive values). In a traced run every query runs under its
own Spark job group and the status store gives its jobs, stages, tasks,
shuffle bytes, spill and job-busy time.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

from common import SparkJobs, median, percentile, union_seconds
from datagen import generate
from spark_setup import calibrate_spark, setup_repeated

#: scale factor of the generated inputs (sf=0.01 is 60,000 lineitem rows)
SF = 0.005
SETUPS = 2

#: the fixed query list: plain SQL (relational and TPC-H-style), two
#: near-duplicate operators and one multi-job pipeline. Eleven of the
#: thirteen take under a second, so the median query sits inside that
#: cluster whichever query the seeded order runs first (and cold)
SQL = [
    "q3_shipping_priority",
    "q6_revenue_forecast",
    "q10_returned_items",
    "q12_late_shipments_by_priority",
    "q13_customer_order_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q20_excess_volume_suppliers",
    "q22_dormant_rich_customers",
    "antijoin_customers_without_orders",
]
DEDUP = ["dedup_exact_groups", "dedup_ngram_duplication_rate"]
PIPELINE = ["basket_frequent_part_pairs"]
FAMILIES = {"sql": SQL, "dedup": DEDUP, "pipeline": PIPELINE}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# ------------------------------------------------------------ comparison
def _normalize(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1).copy()
    keys = []
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]")
            keys.append(df[c])
        elif s.dtype.kind in "fiub":
            df[c] = s.astype("float64")
            keys.append(df[c].round(6))
        else:
            df[c] = s.map(lambda v: None if v is None or v is pd.NA else str(v))
            keys.append(df[c].fillna("\x00null"))
    if len(df) and keys:
        order = pd.DataFrame({i: k for i, k in enumerate(keys)}).sort_values(
            by=list(range(len(keys)))
        ).index
        df = df.loc[order].reset_index(drop=True)
    return df


def compare(got, want) -> list[str]:
    """Problems found between the engine's rows and the oracle's."""
    import numpy as np

    if len(got) != len(want):
        return [f"rows {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            try:
                x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            except (TypeError, ValueError):
                problems.append(f"column {c}: numeric vs non-numeric")
                continue
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-9) | (np.isnan(x) & np.isnan(y))
        else:
            ok = ((a == b) | (a.isna() & b.isna())).to_numpy()
        if not ok.all():
            problems.append(f"column {c}: {int((~ok).sum())} mismatches")
    return problems


def digest(df) -> str:
    """Order-insensitive digest of a result (floats at 6 decimals)."""
    n = _normalize(df)
    for c in n.columns:
        if n[c].dtype.kind == "f":
            n[c] = n[c].round(6)
    return hashlib.sha256(n.to_csv(index=False).encode()).hexdigest()[:16]


def _oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# ------------------------------------------------------------------ run
def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    src = os.path.join(ctx.root, "data")
    generate(src, ctx.seed, SF)

    def data_dir_for(i: int) -> str:
        # a fresh path per set-up, so every set-up pays a cold ingest
        d = os.path.join(ctx.root, f"data{i}")
        os.makedirs(d, exist_ok=True)
        for t in TABLES:
            os.link(os.path.join(src, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        return d

    spark, setups = setup_repeated(ctx.root, SETUPS, data_dir_for)
    data_dir = os.path.join(ctx.root, f"data{SETUPS - 1}")
    calibration = {"spark_s": calibrate_spark(spark)}

    from iceberg_catalog_migrator_spark.queries import all_queries

    registry = all_queries()
    order = [q for fam in FAMILIES.values() for q in fam]
    rng.shuffle(order)
    family_of = {q: fam for fam, qs in FAMILIES.items() for q in qs}
    jobs = SparkJobs(spark) if ctx.trace else None

    results: dict[str, object] = {}
    walls: dict[str, float] = {}
    per_query: dict[str, dict] = {}
    errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for name in order:
        if jobs is not None:
            jobs.group(f"q-{name}")
        try:
            with ctx.tracer.span(f"query.{family_of[name]}"):
                t0 = time.perf_counter()
                df = registry[name].fn(spark, data_dir)
                t1 = time.perf_counter()
                results[name] = df.toPandas()
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        walls[name] = t2 - t0
        per_query[name] = {"build_s": t1 - t0, "exec_s": t2 - t1}
    wall_s = time.perf_counter() - t_all
    if jobs is not None:
        spark.sparkContext.setJobGroup("idle", "idle")
        for name, rec in per_query.items():
            rec.update(jobs.collect(f"q-{name}"))

    # ---- output checks (untimed)
    con = _oracle_connection(data_dir)
    checks = {}
    for name in order:
        if name not in results:
            continue
        try:
            want = con.sql(registry[name].oracle).df()
        except Exception as exc:  # noqa: BLE001
            errors[f"oracle:{name}"] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        problems = compare(results[name], want)
        if problems:
            errors[name] = "; ".join(problems)[:300]
        checks[name] = {"rows": len(want), "digest": digest(want), "ok": not problems}
    con.close()
    spark.stop()

    times = list(walls.values())
    layer: dict[str, float] = {
        "query.wall_s": sum(times),
        "query.p50_s": median(times),
        "query.p75_s": percentile(times, 75.0),
        "session.start_s": setups[0]["start_s"],
        "session.warmup_s": median([s["warmup_s"] for s in setups]),
        "tables.ingest_s": median([s["ingest_s"] for s in setups]),
    }
    if jobs is not None:
        for fam, names in FAMILIES.items():
            recs = [per_query[n] for n in names if n in per_query]
            busy = [union_seconds(r["intervals"]) for r in recs]
            layer[f"{fam}.build_s"] = sum(r["build_s"] for r in recs)
            layer[f"{fam}.exec_s"] = sum(r["exec_s"] for r in recs)
            layer[f"{fam}.job_busy_s"] = sum(busy)
            layer[f"{fam}.nonjob_s"] = sum(
                r["build_s"] + r["exec_s"] - b for r, b in zip(recs, busy)
            )
            for f in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                layer[f"{fam}.{f}"] = sum(r[f] for r in recs)
    failed = len(order) - sum(1 for c in checks.values() if c["ok"])
    return {
        "attempted": len(order),
        "failed": failed,
        "errors": errors,
        "calibration": calibration,
        "e2e": {
            "setup_s": median([s["total_s"] for s in setups]),
            "wall_s": wall_s,
            "op_p50_ms": median(times) * 1000.0,
        },
        "layer": layer,
        "info": {
            "sf": SF,
            "order": order,
            "query_s": {k: round(v, 4) for k, v in walls.items()},
            "checks": checks,
            "setups": setups,
            "status_store_read_s": jobs.read_seconds if jobs is not None else 0.0,
        },
    }
