"""Benchmark entry point.

    python3 perfbench/run.py --workload {migrate,table_commits,query_suite} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Each run is one fresh process with a
fresh temp root under ``.perfbench_runs/`` in the checkout; nothing is
read or written outside the checkout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. The last line of
stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The line before it is a JSON record of the run's context (host,
calibration, per-workload detail).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "iceberg_catalog_migrator_spark"
#: the end-to-end metrics every workload reports (BENCHMARK.json)
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
#: the workloads (one module each) and their own end-to-end metrics, by
#: name -> layer key; they go to the context line, since no workload
#: can report another's
WORKLOAD_METRICS = {
    "migrate": {
        "tables_per_s": "migrate.tables_per_s",
        "table_p50_ms": "migrate.table_p50_ms",
        "table_p99_ms": "migrate.table_p99_ms",
    },
    "table_commits": {
        "append_p50_s": "commits.append_p50_s",
        "delete_p50_s": "commits.delete_p50_s",
        "merge_p50_s": "commits.merge_p50_s",
        "mor_read_p50_s": "commits.mor_read_p50_s",
        "table_wall_s": "commits.table_wall_s",
    },
    "query_suite": {
        "query_wall_s": "query.wall_s",
        "query_p50_s": "query.p50_s",
        "query_p75_s": "query.p75_s",
    },
}


class Context:
    def __init__(self, args, root: str, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.tracer = tracer
        self.nproc = len(os.sched_getaffinity(0))


def _hygiene(root: str, nproc: int) -> None:
    """Environment for the package and for Spark's Python workers; set
    before the package is imported (it reads some of these at import)."""
    for sub in ("tmp", "spark-local", "ingest"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (REPO, HERE, os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # also for Spark's launcher JVM, which gets no driver options
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_INGEST_CACHE": os.path.join(root, "ingest"),
            "SPARK_GRAFT_DISABLE_ICEBERG_JAR": "1",
            "SPARK_GRAFT_REGISTRY_ORDER": "registration",
            "SPARK_DRIVER_MEMORY": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
            "TMPDIR": os.path.join(root, "tmp"),
        }
    )
    sys.path[:0] = [REPO, HERE]


def _calibrate_numpy() -> float:
    """bench.py's numpy kernel (60 elementwise passes over 2M doubles),
    one repetition."""
    import numpy as np

    a = np.arange(2_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(60):
        a = np.sqrt(a * 1.000001 + 1.0)
    return time.perf_counter() - t0


def _host_counters() -> tuple[float, int, int, int]:
    """(monotonic time, total and steal jiffies of the host, microseconds
    in which some task waited for a CPU)."""
    with open("/proc/stat") as f:
        jiffies = [int(x) for x in f.readline().split()[1:]]
    try:
        with open("/proc/pressure/cpu") as f:
            waited_us = int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        waited_us = 0
    return time.monotonic(), sum(jiffies), jiffies[7], waited_us


def _host_noise(start: tuple, end: tuple) -> dict[str, float]:
    """How much of the run the host's CPUs were taken from it: the share
    of CPU time stolen by the hypervisor, and the share of wall time in
    which some task (the benchmark's own included) waited for a CPU."""
    total = end[1] - start[1]
    return {
        "steal_frac": (end[2] - start[2]) / total if total else 0.0,
        "cpu_wait_frac": (end[3] - start[3]) / 1e6 / (end[0] - start[0]),
    }


def _stop_children(timeout: float = 20.0) -> None:
    """Stop the Spark JVM (if any) and wait for every descendant."""
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - best effort, the wait below decides
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:  # noqa: BLE001
                    pass
                try:
                    proc.wait(timeout=timeout)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    except ImportError:
        pass
    deadline = time.time() + timeout
    while True:
        _reap()
        rest = _alive_descendants()
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.2)
            _reap()
            return
        time.sleep(0.1)


def _alive_descendants() -> list[int]:
    from common import _tree_pids

    me = os.getpid()
    out = []
    for pid in _tree_pids(me):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        if pid != me and stat[stat.rfind(b")") + 2 : stat.rfind(b")") + 3] != b"Z":
            out.append(pid)
    return out


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_METRICS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to perfbench/", file=sys.stderr)
        return 2
    load_at_start = os.getloadavg()[0]
    host_start = _host_counters()
    nproc = len(os.sched_getaffinity(0))
    runs = os.path.join(REPO, ".perfbench_runs")
    root = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    _hygiene(root, nproc)

    from common import RssSampler, Tracer, span_cost_seconds

    sampler = RssSampler().start()
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(args, root, tracer)
    try:
        calibration = {"numpy_s": _calibrate_numpy()}
        module = importlib.import_module(args.workload)
        t0 = time.perf_counter()
        out = module.run(ctx)
        run_s = time.perf_counter() - t0
    finally:
        _stop_children()
        peak_mb = sampler.stop()
        if args.trace:
            tracer.dump(os.path.join(runs, f"spans-{args.workload}-{os.getpid()}.json"))
        shutil.rmtree(root, ignore_errors=True)

    from layers import all_layer_metrics, unit_of

    calibration.update(out.get("calibration", {}))
    failed = int(out["failed"])
    named = {
        "setup_s": (out["e2e"]["setup_s"], "s"),
        "failed_frac": (failed / int(out["attempted"]), "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    for short, key in WORKLOAD_METRICS[args.workload].items():
        named[short] = (out["layer"][key], unit_of(key))
    if args.trace:
        values = dict.fromkeys(all_layer_metrics(), 0.0)
        values.update(out["layer"])
        n_spans = len(tracer.spans) + out.get("remote_spans", 0)
        traced_cost = n_spans * span_cost_seconds() + out["info"].get("status_store_read_s", 0.0)
        values["trace.overhead_frac"] = traced_cost / run_s
        metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in values.items()}
    else:
        values = dict(out["e2e"], peak_rss_mb=peak_mb)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "load_at_start": load_at_start,
        "host": _host_noise(host_start, _host_counters()),
        "calibration": calibration,
        "workload_metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in named.items()},
        "errors": out.get("errors", {}),
        "info": out.get("info", {}),
        "layer": out["layer"] if not args.trace else {},
    }
    print(json.dumps(record, default=str, separators=(",", ":")))
    result = {
        "correct": failed == 0 and not out.get("errors"),
        "attempted": int(out["attempted"]),
        "failed": failed,
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
