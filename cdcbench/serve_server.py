"""Serve process for the ``serve`` workload: preload a lake table with one
``Engine.write`` upsert of a parquet file, then serve it with
``EngineFlightServer`` + ``EngineHttpServer``.

    python3 cdcbench/serve_server.py RUN_DIR PRELOAD_PARQUET READY_JSON

The Flight server gains two actions used by the benchmark client:
``trace`` (body ``on``/``off``) toggles span recording and ``spans`` writes
the recorded spans to ``RUN_DIR/server-spans.jsonl``. The client ends the
process group (this process, its JVM and the JVM's Python workers).

Only the streamed read path (change reads) runs Python workers; the first
change read forks them inside the client's warm-up.

Writes go through ``Engine.write``, which never runs maintenance. No
maintenance hook is registered: a run commits about four times, far from
the 16 commits (and 8 delta files per bucket) after which maintenance
would compact anything.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import common, probes  # noqa: E402

ASSET = "repo_files"


def main(run_dir: str, preload: str, ready: str) -> None:
    import pyarrow.flight as fl

    from airbyte_module_spark import Engine, server

    t0 = time.perf_counter()
    spark = common.start_spark(run_dir)
    session_s = time.perf_counter() - t0
    table_dir = os.path.join(run_dir, "table")
    eng = Engine(spark, table_dir)
    t1 = time.perf_counter()
    eng.write(spark.read.parquet(preload), mode="upsert")
    preload_s = time.perf_counter() - t1

    tracer = probes.make_tracer(spark)
    req = threading.local()
    probes.install_server(
        tracer, server,
        context=lambda: {"req": getattr(req, "id", None), "kind": getattr(req, "kind", None)},
    )

    class BenchFlightServer(server.EngineFlightServer):
        def do_get(self, context, ticket):
            payload = json.loads(ticket.ticket.decode())
            req.id = payload.get("req")
            req.kind = payload.get("kind")
            attrs = {"req": req.id, "kind": req.kind}
            if tracer.enabled and "version" in payload and "from_version" not in payload:
                snap = eng.table.snapshot(payload["version"])
                attrs["delta_entries"] = sum(
                    e["kind"] == "delta" for e in snap["entries"]
                    if "buckets" not in payload or e["bucket"] in payload["buckets"]
                )
            with tracer.span("server.do_get", **attrs):
                return super().do_get(context, ticket)

        def do_action(self, context, action):
            kind = action.type
            if kind == "trace":
                tracer.enabled = action.body.to_pybytes() == b"on"
            elif kind == "spans":
                tracer.dump(os.path.join(run_dir, "server-spans.jsonl"))
            else:
                raise fl.FlightServerError(f"unknown action {kind!r}")
            return iter([])

    flight = BenchFlightServer({ASSET: eng}, location="grpc://127.0.0.1:0")
    http = server.EngineHttpServer({ASSET: eng}, port=0).start()
    info = {
        "flight_port": flight.port,
        "http_port": http.port,
        "session_s": session_s,
        "preload_s": preload_s,
        "version": eng.table.current_version(),
        "n_buckets": eng.table.n_buckets,
        "versions": common.versions(spark),
    }
    with open(ready + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(ready + ".tmp", ready)
    flight.serve()


if __name__ == "__main__":
    main(*sys.argv[1:4])
