"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced through the noop sink (full pipeline runs, nothing
is collected to the driver — the same shape a cluster job has).

The consumer of this output keeps only the LAST ~2000 bytes of stdout
and parses the final line, so the printed JSON must (a) be the final
stdout line and (b) fit in that window. Full per-query detail always
goes to BENCH.local.json; the stdout line carries the totals plus as
many per-query timings as fit, slowest first.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_catalog_migrator_spark.queries import all_queries
from iceberg_catalog_migrator_spark.queries.registry import CACHE_STATS, FIXTURES
from iceberg_catalog_migrator_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def _calibrate_numpy() -> float:
    """Pinned single-thread CPU kernel (elementwise numpy — no BLAS
    thread pool): wall seconds for a fixed amount of work. Host epochs
    on this box swing total wall ~1.6x between rounds with IDENTICAL
    code (r12 vs r13 lesson: a day of A/B re-runs to prove 243 s was
    drift, not regression); this constant makes the drift measurable
    in the run record itself. Best-of-3 — min is the stable statistic
    for a fixed workload under external noise."""
    import numpy as np

    best = None
    for _ in range(3):
        a = np.arange(2_000_000, dtype=np.float64)
        t0 = time.perf_counter()
        for _ in range(60):
            a = np.sqrt(a * 1.000001 + 1.0)
        dt = time.perf_counter() - t0
        if float(a[0]) != float(a[0]):  # pragma: no cover - keep work live
            raise AssertionError("calibration kernel produced NaN")
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def _calibrate_spark(spark) -> float:
    """Pinned tiny Spark job (fixed rows, fixed 32 partitions, one
    whole-stage-codegen aggregate): captures JVM/scheduler epoch drift
    the numpy kernel can't see. Run AFTER the session/worker warmups so
    it times the epoch, not spin-up."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 32_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s"
        ).collect()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def main() -> None:
    # snapshot host load BEFORE Spark spins up: local[32] drives the
    # 1-minute average to ~10 by itself, so a reading taken at the end
    # only measures the bench — the pre-start value is what tells an
    # externally-loaded (untrustworthy) run from a quiet one
    global LOAD_AT_START
    try:
        LOAD_AT_START = round(os.getloadavg()[0], 1)
    except OSError:
        LOAD_AT_START = -1.0
    # CPU calibration before Spark exists (quietest the host gets)
    try:
        CALIBRATION["numpy_s"] = _calibrate_numpy()
    except Exception as exc:  # noqa: BLE001 - calibration must never kill the bench
        CALIBRATION["numpy_s"] = -1.0
        CALIBRATION["error"] = f"{type(exc).__name__}: {exc}"[:200]
    spark = get_spark(app_name="bench")
    queries = all_queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # warm the JVM/session so the first measured query doesn't pay startup
    spark.range(1).count()
    # ...and the Python worker pool: ~8 s of daemon spin-up otherwise
    # lands on whichever Arrow-kernel query the rotation puts first
    try:
        spark.range(32).repartition(32).mapInArrow(lambda it: it, "id long").count()
    except Exception as exc:  # noqa: BLE001
        errors["warmup:python-workers"] = f"{type(exc).__name__}: {exc}"[:300]
    # ...and the Python Data Source planner worker (a separate driver-side
    # process that resolves schema/partitions): warm it with a 1-row read
    # so connector queries time their query, not the infra spin-up
    try:
        from iceberg_catalog_migrator_spark.sources.synthetic import (
            SYNTH_SOURCE_NAME,
            register_synthetic_source,
        )

        register_synthetic_source(spark)
        spark.read.format(SYNTH_SOURCE_NAME).option("rows", "1").option(
            "partitions", "1"
        ).load().count()
    except Exception as exc:  # noqa: BLE001
        errors["warmup:python-datasource"] = f"{type(exc).__name__}: {exc}"[:300]
    # one-time ingest (splittable re-chunk of the fixtures) is setup,
    # not query work — do it before the timing loop so it doesn't land
    # on whichever query happens to run first. Fail-soft everywhere: one
    # broken table/query must never zero the whole round's bench — the
    # harness's one job is to always emit a number (BENCH_r04 lesson).
    from iceberg_catalog_migrator_spark.sources import TABLES, load_table
    from iceberg_catalog_migrator_spark.sources.tables import _ingested_path

    for t in TABLES:
        try:
            load_table(spark, SF_DIR, t)
        except Exception as exc:  # noqa: BLE001 - harness must survive any table
            errors[f"warmup:{t}"] = f"{type(exc).__name__}: {exc}"[:300]
    # page-cache warm: a cold file's first scan bills disk I/O to
    # whichever query sorts first (in r7 that skewed the alphabetically
    # first docs-corpus query 4.7x); one driver-side sequential read
    # per fixture moves that one-time cost into setup
    for t in TABLES:
        try:
            with open(_ingested_path(SF_DIR, t), "rb") as f:
                while f.read(1 << 24):
                    pass
        except Exception as exc:  # noqa: BLE001
            errors[f"warmup:pagecache:{t}"] = f"{type(exc).__name__}: {exc}"[:300]
    # fixture prebuild: every registered on-disk fixture (snapshot
    # tables, exported Iceberg trees, replicas) is built once UNTIMED,
    # so the timed loop measures the queries, not one-time fixture
    # construction; the queries themselves still run cold in the loop
    for name, fixture in sorted(FIXTURES.items()):
        try:
            fixture(spark, SF_DIR)
        except Exception as exc:  # noqa: BLE001
            errors[f"prebuild:{name}"] = f"{type(exc).__name__}: {exc}"[:300]
    # Spark-epoch calibration: after all warmups, before the timed loop
    try:
        CALIBRATION["spark_s"] = _calibrate_spark(spark)
    except Exception as exc:  # noqa: BLE001
        CALIBRATION["spark_s"] = -1.0
        CALIBRATION.setdefault("error", f"{type(exc).__name__}: {exc}"[:200])
    t_total0 = time.time()
    for name, qd in sorted(queries.items()):
        t0 = time.time()
        try:
            qd.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    total = round(time.time() - t_total0, 3)
    emit(timings, total, sf_from_dir(SF_DIR), errors)


# keep the final line comfortably inside the consumer's 2000-byte tail;
# the queries_omitted field (~25 bytes) is appended after the size
# check and load-inflated timings carry an extra digit, so reserve slack
STDOUT_BYTE_BUDGET = 1650
LOCAL_COPY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.local.json")

LOAD_AT_START = -1.0
#: host-epoch calibration constants measured around this run — see the
#: README "bench methodology" note for the normalization rule
CALIBRATION: dict = {}


def emit(
    timings: dict[str, float], total: float, sf: float, errors: dict[str, str] | None = None
) -> None:
    # host load at bench start: totals on this box swing ~1.3-2.3x when
    # external load is present, so record the pre-start 1-minute load
    # average with every run — a regression under load>4 is noise, not a
    # regression. (End-of-run load is useless: the bench's own local[32]
    # session pushes it to ~10 even on an idle host.)
    load1 = LOAD_AT_START
    errors = errors or {}
    # per-query idle floor (VERDICT r15/r16 ask, additive): the MEDIAN
    # per-query wall-clock. At sf0.1 most of the 215 queries are
    # overhead-bound (~0.3 s of analysis + AQE scheduling + noop
    # commit), so the median tracks the host epoch, not any one query —
    # a cross-round differ can normalize totals by this instead of
    # reporting epoch drift as per-query regressions.
    if timings:
        ordered = sorted(timings.values())
        mid = len(ordered) // 2
        idle_floor = ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2
    else:  # pragma: no cover - harness always times something
        idle_floor = -1.0
    full = {
        "metric": f"total wall-clock for {len(timings)} declared queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load": load1,
        "calibration": CALIBRATION,
        "idle_floor_s_per_q": round(idle_floor, 3),
        # fixture and stage cache counters (local detail only)
        "caches": {
            name: dict(stats, build_s=round(stats["build_s"], 3))
            for name, stats in sorted(CACHE_STATS.items())
        },
    }
    if errors:
        full["errors"] = errors
    # fold in the scale-growth measurement when scripts/scale_growth.py
    # has produced one (local detail only — never on the stdout line)
    scale_path = os.path.join(os.path.dirname(LOCAL_COPY), "SCALE.local.json")
    if os.path.exists(scale_path):
        try:
            with open(scale_path) as f:
                full["scale_growth"] = json.load(f)
        except (OSError, ValueError):
            pass
    with open(LOCAL_COPY, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    line = dict(full, queries={}, detail="BENCH.local.json")
    line.pop("scale_growth", None)
    line.pop("caches")
    # stdout carries the two scalars only (drop any error text)
    line["calibration"] = {
        k: v for k, v in CALIBRATION.items() if k != "error"
    }
    if errors:
        # stdout carries only the count; full messages live in the local copy
        line["errors"] = len(errors)
    slowest_first = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for name, sec in slowest_first:
        candidate = dict(line, queries={**line["queries"], name: round(sec, 2)})
        if len(json.dumps(candidate, separators=(",", ":"))) > STDOUT_BYTE_BUDGET:
            break
        line = candidate
    line["queries_omitted"] = len(timings) - len(line["queries"])

    sys.stderr.flush()
    sys.stdout.flush()
    print(json.dumps(line, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    try:
        main()
    except Exception as exc:  # noqa: BLE001 - last-ditch: still print a JSON line
        import traceback

        traceback.print_exc()
        sys.stdout.flush()
        print(
            json.dumps(
                {
                    "metric": "bench harness crashed",
                    "value": -1.0,
                    "unit": "sec",
                    "queries": {},
                    "sf": sf_from_dir(SF_DIR),
                    "error": f"{type(exc).__name__}: {exc}"[:300],
                },
                separators=(",", ":"),
            ),
            flush=True,
        )
        raise SystemExit(1)
