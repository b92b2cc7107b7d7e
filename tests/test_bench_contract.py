"""The bench stdout line is a driver contract: the consumer keeps only
the last ~2000 bytes of stdout and JSON-parses the final line. Round 1's
gate was lost to a violation of exactly this, so pin it."""

import io
import json
import sys

import bench


def _emit_line(monkeypatch, tmp_path, timings, total=9999.99, sf=0.1):
    monkeypatch.setattr(bench, "LOCAL_COPY", str(tmp_path / "BENCH.local.json"))
    cap = io.StringIO()
    monkeypatch.setattr(sys, "stdout", cap)
    bench.emit(timings, total, sf)
    out = cap.getvalue()
    return out.strip().rsplit("\n", 1)[-1]


def test_emit_line_fits_driver_tail_at_worst_case(monkeypatch, tmp_path):
    # worst case: many queries, every timing load-inflated to 3 digits,
    # long names — the final line must still fit the 2000-byte tail with
    # slack for whatever the consumer's own framing costs
    timings = {f"dedup_connected_components_variant_{i:03d}": 123.456 for i in range(120)}
    line = _emit_line(monkeypatch, tmp_path, timings)
    assert len(line.encode()) < 1900
    obj = json.loads(line)
    assert obj["unit"] == "sec"
    assert obj["value"] == 9999.99
    assert obj["queries_omitted"] == len(timings) - len(obj["queries"])


def test_emit_line_is_valid_json_and_keeps_slowest(monkeypatch, tmp_path):
    timings = {f"q{i}": float(i) for i in range(1, 101)}
    line = _emit_line(monkeypatch, tmp_path, timings)
    obj = json.loads(line)
    shown = obj["queries"]
    # slowest-first inclusion: everything shown must be >= everything omitted
    omitted = [v for k, v in timings.items() if k not in shown]
    if omitted:
        assert min(shown.values()) >= max(omitted)
    assert "load" in obj


def test_emit_writes_full_detail_locally(monkeypatch, tmp_path):
    timings = {f"q{i}": float(i) for i in range(1, 101)}
    _emit_line(monkeypatch, tmp_path, timings)
    full = json.loads((tmp_path / "BENCH.local.json").read_text())
    assert len(full["queries"]) == 100  # nothing omitted in the local copy


def test_emit_writes_cache_counters_locally_only(monkeypatch, tmp_path):
    stats = {f"stage_{i:03d}": {"hits": i, "misses": 1, "build_s": 0.1234} for i in range(200)}
    monkeypatch.setattr(bench, "CACHE_STATS", stats)
    line = _emit_line(monkeypatch, tmp_path, {"q1": 1.0})
    assert "caches" not in json.loads(line)
    full = json.loads((tmp_path / "BENCH.local.json").read_text())
    assert full["caches"]["stage_007"] == {"hits": 7, "misses": 1, "build_s": 0.123}


def test_emit_fail_soft_errors_surface_in_both_outputs(monkeypatch, tmp_path):
    # fail-soft contract (BENCH_r04 lesson): broken queries must never
    # zero the bench — the stdout line carries the error COUNT (byte
    # budget), the local copy the full messages
    timings = {f"q{i}": float(i) for i in range(1, 50)}
    errors = {"events_broken": "AnalysisException: boom", "warmup:events": "boom"}
    monkeypatch.setattr(bench, "LOCAL_COPY", str(tmp_path / "BENCH.local.json"))
    cap = io.StringIO()
    monkeypatch.setattr(sys, "stdout", cap)
    bench.emit(timings, 123.4, 0.1, errors)
    line = cap.getvalue().strip().rsplit("\n", 1)[-1]
    obj = json.loads(line)
    assert obj["errors"] == 2
    assert len(line.encode()) < 1900
    full = json.loads((tmp_path / "BENCH.local.json").read_text())
    assert full["errors"] == errors
