"""Server process for the ``serve`` workload.

    python3 perfbench/serve_server.py --run-dir DIR --ready FILE [--spans FILE]

Starts a SparkSession, builds ``DataLake`` over ``DIR/lake`` and serves
it with ``server.make_server`` on an ephemeral localhost port. When
``--spans`` is given it first installs the span wrappers (probes.py)
and tags each request with the client's ``X-Bench-Op`` header and a
Spark job group. Writes ``{"port", "session_start_s"}`` to the ready
file once listening; on SIGTERM it stops serving, writes the spans and
per-request Spark job counts, stops Spark and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import probes  # noqa: E402
from spans import Recorder, null_span  # noqa: E402


def _traced_handler(base, rec: Recorder, spark, jobs: dict):
    """Subclass the program's handler: tag each request with the client's
    op id (spans and a Spark job group) and count its jobs afterwards."""

    class Handler(base):
        def _traced(self, handle):
            op = self.headers.get("X-Bench-Op")
            rec.set_op(op)
            if op:
                spark.sparkContext.setJobGroup(op, self.path)
            with rec.span("server.request"):
                handle()
            if op:
                jobs[op] = probes.job_stats(spark.sparkContext, op)

        def do_GET(self):  # noqa: N802
            self._traced(super().do_GET)

        def do_POST(self):  # noqa: N802
            self._traced(super().do_POST)

    return Handler


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--ready", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()

    dirs = common.RunDirs("serve", base=args.run_dir)
    common.hermetic_env(dirs)
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    rec = Recorder() if args.spans else None
    if rec:
        probes.install_all(rec)

    from polars_express_spark import server
    from polars_express_spark.catalog import DataLake

    t0 = time.perf_counter()
    with rec.span("session.start") if rec else null_span():
        spark = common.start_session(dirs, "perfbench-serve")
    session_start_s = time.perf_counter() - t0
    lake = DataLake(spark, dirs.path("lake"))
    srv = server.make_server(lake, host="127.0.0.1", port=0)
    jobs: dict[str, tuple[int, int, int]] = {}
    if rec:
        srv.RequestHandlerClass = _traced_handler(srv.RequestHandlerClass, rec, spark, jobs)
    thread = threading.Thread(target=srv.serve_forever, name="serve", daemon=True)
    thread.start()
    tmp = args.ready + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"port": srv.server_address[1], "session_start_s": session_start_s}, f)
    os.replace(tmp, args.ready)

    stop.wait()
    srv.shutdown()
    srv.server_close()
    if rec:
        rec.dump(args.spans)
        with open(args.spans + ".meta.json", "w") as f:
            json.dump({"jobs": jobs}, f)
    common.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
