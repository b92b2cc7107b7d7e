"""Runs one Iceberg REST catalog endpoint in its own process.

    python3 catalog_server.py DB_PATH LATENCY_MS TRACE OUT_JSON

Serves ``IcebergRestCatalogServer`` over a ``SqlCatalog`` store at
``DB_PATH`` with a fixed injected latency per request, prints the
endpoint URI on stdout, and serves until stdin closes. It then writes
``{"requests_served", "spans"}`` to ``OUT_JSON``; with TRACE=1 the
spans time every call into the store.
"""

from __future__ import annotations

import json
import os
import sys

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from common import TimedProxy, Tracer  # noqa: E402

STORE_METHODS = {
    "load_table_metadata_location": "load",
    "register_table": "register",
    "drop_table": "drop",
}


def main() -> int:
    db, latency_ms, trace, out_path = sys.argv[1:5]
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog
    from iceberg_catalog_migrator_spark.catalog.rest_server import IcebergRestCatalogServer

    tracer = Tracer(trace == "1", f"server-{os.getpid()}")
    store = SqlCatalog(os.path.basename(db), db)
    served = TimedProxy(store, tracer, "store", STORE_METHODS) if tracer.enabled else store
    server = IcebergRestCatalogServer(served, latency_ms=float(latency_ms))
    print(server.start(), flush=True)
    sys.stdin.read()  # serve until the parent closes our stdin
    requests = server.requests_served
    server.close()
    store.close()
    with open(out_path, "w") as f:
        json.dump({"requests_served": requests, "spans": tracer.spans}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
