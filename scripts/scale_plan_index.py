"""10^6-file scan-planning memory harness (round-11 verdict ask #2;
round 12 added the INCREMENTAL maintenance measurement).

Builds ONE synthetic full-form snapshot doc with N files carrying
min/max stats for one column, writes the columnar plan index once,
then measures — via tracemalloc, in-process, after the build —

  dict path      json.load the doc + the per-file Python loop
                 (what planned_scan/pushFilters did before round 11)
  columnar path  plan_paths() — predicate pushed into the parquet
                 segment scans, driver holds only the matching rows
  advance path   advance_plan_index() over a 3-file delta commit —
                 the steady-state per-commit maintenance cost
                 (round 11 re-built the whole sidecar from a fully
                 materialized resolved dict per snapshot)

Records {n_files, columnar_plan_peak_mb, advance_s/advance_peak_mb,
selective_kept, ...} into SCALE.local.json under "plan_index" (plus
dict_plan_peak_mb/ratio up to 2M files; larger runs record
columnar-only under "plan_index_<N>m").

Usage: python scripts/scale_plan_index.py [n_files] (default 1e6)
"""

import json
import os
import sys
import tempfile
import tracemalloc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_catalog_migrator_spark.sources.plan_index import (  # noqa: E402
    _fresh_doc,
    advance_plan_index,
    plan_paths,
    write_plan_index,
)


def build_table(root: str, n_files: int) -> int:
    """A synthetic table dir with one full-form doc: file i spans
    [i*100, i*100+99] on column k — selective predicates keep O(1)
    files."""
    meta = os.path.join(root, "metadata")
    os.makedirs(meta, exist_ok=True)
    files = [f"data/part-{i:07d}.parquet" for i in range(n_files)]
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 0,
        "operation": "append",
        "files": files,
        "file_stats": {
            f: {"k": [i * 100, i * 100 + 99]} for i, f in enumerate(files)
        },
        "file_rows": {f: 100 for f in files},
    }
    with open(os.path.join(meta, "snap-1.json"), "w") as f:
        json.dump(snap, f)
    with open(os.path.join(meta, "snapshot-hint.text"), "w") as f:
        f.write("1")
    write_plan_index(root, snap)
    return 1


def dict_plan(root: str, lo: int, hi: int) -> tuple[list, float]:
    tracemalloc.start()
    with open(os.path.join(root, "metadata", "snap-1.json")) as f:
        snap = json.load(f)
    stats = snap["file_stats"]
    chosen = [
        f
        for f in snap["files"]
        if stats.get(f, {}).get("k") is None
        or (stats[f]["k"][0] <= hi and stats[f]["k"][1] >= lo)
    ]
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    return chosen, peak / 1e6


def columnar_plan(
    root: str, lo: int, hi: int, sid: int = 1
) -> tuple[list, float]:
    tracemalloc.start()
    res = plan_paths(root, _fresh_doc(root, sid), [("k", ">=", lo), ("k", "<=", hi)])
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert res is not None, "columnar plan unavailable"
    return res[0], peak / 1e6


def delta_commit(root: str, n_files: int) -> dict:
    """A synthetic O(changed-files) delta doc on top of snap-1: one
    file added, one removed, one existing file's stats updated — the
    steady-state merge shape."""
    raw = {
        "snapshot_id": 2,
        "delta_base": 1,
        "delta_depth": 1,
        "delta_accum": 3,
        "timestamp_ms": 1,
        "operation": "merge",
        "files_added": ["data/new-0000001.parquet"],
        "files_removed": ["data/part-0000000.parquet"],
        "file_stats": {
            "data/new-0000001.parquet": {"k": [n_files * 100, n_files * 100 + 99]},
            "data/part-0000003.parquet": {"k": [300, 310]},
        },
        "file_rows": {"data/new-0000001.parquet": 100},
    }
    with open(os.path.join(root, "metadata", "snap-2.json"), "w") as f:
        json.dump(raw, f)
    return raw


def advance(root: str, raw: dict) -> float:
    tracemalloc.start()
    doc = advance_plan_index(root, 2, raw=raw)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert doc is not None, "incremental advance unavailable"
    return peak / 1e6


def main() -> None:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 1_000_000
    # above this the dict-path measurement alone needs several GB of
    # driver RSS; record the columnar side only (the ratio is already
    # established at 10^6) under a separate key
    dict_too = n <= 2_000_000
    with tempfile.TemporaryDirectory() as root:
        import time

        t0 = time.time()
        build_table(root, n)
        build_s = time.time() - t0
        import glob

        side_mb = (
            sum(
                os.path.getsize(p)
                for p in glob.glob(
                    os.path.join(root, "metadata", "plan-seg-*.parquet")
                )
            )
            / 1e6
        )
        lo, hi = (n // 2) * 100, (n // 2) * 100 + 250  # keeps ~3 files
        t0 = time.time()
        kept_c, col_mb = columnar_plan(root, lo, hi)
        plan_s = time.time() - t0
        # steady-state per-commit maintenance: one 3-file delta commit
        # advances the index in O(changed files) — never rebuilding
        # from an O(files) resolved dict
        raw2 = delta_commit(root, n)
        t0 = time.time()
        adv_mb = advance(root, raw2)
        adv_s = time.time() - t0
        kept_2, _ = columnar_plan(root, lo, hi, sid=2)
        assert sorted(kept_2) == sorted(kept_c), "advance broke planning"
        # the columnar MERGE plan = the stats plan above + the
        # footer-fallback set (paths with no recorded range): measure
        # the missing-stat probe too — together they are what a
        # one-source-row merge pays at plan time
        from iceberg_catalog_migrator_spark.sources.plan_index import (
            paths_missing_stat,
        )

        tracemalloc.start()
        t0 = time.time()
        missing = paths_missing_stat(root, _fresh_doc(root, 2), "k")
        merge_s = time.time() - t0
        _, merge_mb_peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert missing is not None and len(missing) == 0
        # STRUCTURAL evolution commits (round-12 verdict ask #2): spec
        # evolution and a widen/rename-shaped schema bump are DOC-SCALAR
        # advances in the v4 index (rows store only explicit per-file
        # values; the current-spec default resolves at plan time), so
        # they cost O(commit delta), not the 10^6-row rebake the v3
        # refusal used to force through the full build.
        raw3 = {
            "snapshot_id": 3,
            "delta_base": 2,
            "delta_depth": 2,
            "delta_accum": 5,
            "timestamp_ms": 2,
            "operation": "append",
            "partition_specs": [{"spec_id": 0, "spec": [["b", "bucket[16]"]]}],
            "current_spec_id": 0,
            "files_added": ["data/evo-0000001.parquet"],
            "files_removed": [],
            "file_partitions": {"data/evo-0000001.parquet": ["3"]},
            "file_spec_ids": {"data/evo-0000001.parquet": 0},
            "file_stats": {
                "data/evo-0000001.parquet": {"k": [-500, -400]}
            },
            "file_rows": {"data/evo-0000001.parquet": 100},
        }
        with open(os.path.join(root, "metadata", "snap-3.json"), "w") as f:
            json.dump(raw3, f)
        tracemalloc.start()
        t0 = time.time()
        doc3 = advance_plan_index(root, 3, raw=raw3)
        spec_evo_s = time.time() - t0
        _, spec_evo_peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert doc3 is not None, "spec-evolution advance unavailable"
        kept_3, _ = columnar_plan(root, lo, hi, sid=3)
        assert sorted(kept_3) == sorted(kept_c), "spec evolution broke plans"
        raw4 = {
            "snapshot_id": 4,
            "delta_base": 3,
            "delta_depth": 3,
            "delta_accum": 5,
            "timestamp_ms": 3,
            "operation": "widen-k-to-bigint",
            "schemas": [
                {
                    "schema_id": 0,
                    "fields": [{"id": 1, "name": "k", "type": "int"}],
                },
                {
                    "schema_id": 1,
                    "fields": [{"id": 1, "name": "k", "type": "bigint"}],
                },
            ],
            "current_schema_id": 1,
            "files_added": [],
            "files_removed": [],
        }
        with open(os.path.join(root, "metadata", "snap-4.json"), "w") as f:
            json.dump(raw4, f)
        tracemalloc.start()
        t0 = time.time()
        doc4 = advance_plan_index(root, 4, raw=raw4)
        schema_evo_s = time.time() - t0
        _, schema_evo_peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert doc4 is not None, "schema-evolution advance unavailable"
        assert doc4["current_schema_id"] == 1
        kept_4, _ = columnar_plan(root, lo, hi, sid=4)
        assert sorted(kept_4) == sorted(kept_c), "schema evolution broke plans"
        out = {
            "n_files": n,
            "sidecar_mb": round(side_mb, 1),
            "selective_kept": len(kept_c),
            "columnar_plan_peak_mb": round(col_mb, 1),
            "columnar_plan_s": round(plan_s, 2),
            "build_s": round(build_s, 1),
            "advance_s": round(adv_s, 3),
            "advance_peak_mb": round(adv_mb, 1),
            "merge_missing_stat_s": round(merge_s, 3),
            "merge_missing_stat_peak_mb": round(merge_mb_peak / 1e6, 1),
            "evolve_spec_s": round(spec_evo_s, 3),
            "evolve_spec_peak_mb": round(spec_evo_peak / 1e6, 1),
            "evolve_schema_s": round(schema_evo_s, 3),
            "evolve_schema_peak_mb": round(schema_evo_peak / 1e6, 1),
        }
        if dict_too:
            kept_d, dict_mb = dict_plan(root, lo, hi)
            assert sorted(kept_c) == sorted(kept_d), "plan mismatch"
            out["dict_plan_peak_mb"] = round(dict_mb, 1)
            out["ratio"] = round(dict_mb / col_mb, 1)
            out["note"] = (
                "plan a selective predicate over one synthetic "
                f"{n}-file snapshot: dict path = json.load + per-file "
                "loop; columnar path = pyarrow pushdown over the "
                "plan-index sidecar (driver holds matching rows only). "
                "Pinned at 50k files by tests/test_plan_index_memory.py."
            )
        else:
            out["note"] = (
                f"columnar-only at {n} files (the dict path would need "
                "several GB just to measure; the ratio is established "
                "at 10^6): the sidecar answers a selective predicate "
                "in constant driver memory."
            )
        print(json.dumps(out, indent=1))
        scale_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALE.local.json",
        )
        try:
            doc = json.load(open(scale_path))
        except (OSError, json.JSONDecodeError):
            doc = {}
        key = "plan_index" if dict_too else f"plan_index_{n // 1_000_000}m"
        doc[key] = out
        with open(scale_path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
