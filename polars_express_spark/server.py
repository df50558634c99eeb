"""Minimal HTTP layer over api.py — the reference's serving surface.

Reference: axum router with three data routes + index page
(src/main.rs:309-319), bound on 0.0.0.0:3000 (src/main.rs:321-335).
Re-expressed over the stdlib ThreadingHTTPServer — no extra
dependencies, and handlers run on worker threads so a long Spark action
can't block the accept loop (the reference knowingly blocks its async
runtime instead, comment at src/main.rs:265).

Routes and semantics:
  GET  /                          → embedded HTML explorer (ui.py; the
                                    reference serves its own single-page
                                    UI the same way, src/main.rs:337-520)
  GET  /datasets                  → sorted dataset ids in the lake (feeds
                                    the UI picker; no reference analog —
                                    its page asks for ids by free text)
  GET  /data/<id>/preview?limit=N → first-N JSON rows (default 100,
                                    src/main.rs:116)
  GET  /data/<id>/delays?sorting=Desc|Asc&limit=N
                                  → sort by *delay* columns; 400 when none
                                    (src/main.rs:272-274); ascending default
                                    (src/main.rs:277)
  POST /data/<id>/regression      → body {"x_col","y_col"}; response
                                    {"slope","intercept","r2"} with r2
                                    null when SStot=0 (src/main.rs:198-202)
  POST /sql                       → body {"query","limit"?}; read-only
                                    lake-scoped SQL (api.run_sql — parsed-
                                    plan sandbox), rows as JSON (no
                                    reference analog; fed by the UI's
                                    SQL console panel)

Preview and delays responses carry an X-Truncated header: "true" when
the MAX_SINK_ROWS cap (sinks.py) clamped the result, "false" when the
rows are complete — the signal a reference client (which always gets
whole tables) needs to detect the cap.

Error mapping: BadRequest → 400 like the reference; unknown dataset →
404 (the reference surfaces its load failure as a 500, src/main.rs:114 —
404 is the deliberate, documented improvement: DataLake.load raises
FileNotFoundError before any Spark work, also for a dataset deleted
mid-request); malformed JSON → 400.
"""

from __future__ import annotations

import json
import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from polars_express_spark import api
from polars_express_spark.catalog import DataLake
from polars_express_spark.ui import INDEX_HTML

_DATA_ROUTE = re.compile(r"^/data/([^/]+)/(preview|delays|regression)$")


def _make_handler(lake: DataLake):
    class Handler(BaseHTTPRequestHandler):
        # quiet the default per-request stderr logging
        def log_message(self, fmt, *args):  # noqa: D102
            pass

        def _send(self, code: int, payload, content_type="application/json", headers=None):
            body = (
                payload.encode()
                if isinstance(payload, str)
                else json.dumps(payload).encode()
            )
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def _dispatch(self, data_id: str, endpoint: str, params: dict, body: dict | None):
            """Returns (payload, extra-headers)."""
            if endpoint == "preview":
                limit = int(params.get("limit", ["100"])[0])
                rows, truncated = api.get_data_preview_flagged(lake, data_id, limit=limit)
                return rows, {"X-Truncated": "true" if truncated else "false"}
            if endpoint == "delays":
                sorting = params.get("sorting", [""])[0]
                limit = params.get("limit", [None])[0]
                rows, truncated = api.get_sorted_delays_flagged(
                    lake,
                    data_id,
                    descending=sorting.lower() == "desc",
                    limit=int(limit) if limit is not None else None,
                )
                return rows, {"X-Truncated": "true" if truncated else "false"}
            # regression
            if not body or "x_col" not in body or "y_col" not in body:
                raise api.BadRequest("x_col and y_col required")
            r = api.run_regression(lake, data_id, body["x_col"], body["y_col"])
            return {"slope": r.slope, "intercept": r.intercept, "r2": r.r_squared}, {}

        def _handle(self, method: str):
            url = urlparse(self.path)
            if method == "GET" and url.path == "/":
                return self._send(200, INDEX_HTML, content_type="text/html")
            if method == "GET" and url.path == "/datasets":
                return self._send(200, lake.list_datasets())
            if url.path == "/sql":
                if method != "POST":
                    return self._send(405, {"error": "method not allowed"})
                n = int(self.headers.get("Content-Length") or 0)
                try:
                    body = json.loads(self.rfile.read(n) or b"{}")
                except json.JSONDecodeError:
                    return self._send(400, {"error": "malformed JSON body"})
                if not isinstance(body, dict) or "query" not in body:
                    return self._send(400, {"error": "query required"})
                try:
                    limit = (
                        int(body["limit"]) if body.get("limit") is not None else None
                    )
                except (TypeError, ValueError):
                    return self._send(400, {"error": "limit must be an integer"})
                try:
                    rows = api.run_sql(lake, str(body["query"]), limit=limit)
                except api.BadRequest as e:
                    return self._send(400, {"error": str(e)})
                return self._send(200, rows)
            m = _DATA_ROUTE.match(url.path)
            if not m:
                return self._send(404, {"error": "not found"})
            data_id, endpoint = m.group(1), m.group(2)
            expected = "POST" if endpoint == "regression" else "GET"
            if method != expected:
                return self._send(405, {"error": "method not allowed"})
            body = None
            if method == "POST":
                n = int(self.headers.get("Content-Length") or 0)
                try:
                    body = json.loads(self.rfile.read(n) or b"{}")
                except json.JSONDecodeError:
                    return self._send(400, {"error": "malformed JSON body"})
            try:
                result, headers = self._dispatch(data_id, endpoint, parse_qs(url.query), body)
            except api.BadRequest as e:
                return self._send(400, {"error": str(e)})
            except api.NotFound:
                return self._send(404, {"error": f"dataset {data_id!r} not found"})
            except ValueError as e:
                return self._send(400, {"error": str(e)})
            return self._send(200, result, headers=headers)

        def _handle_safely(self, method: str):
            # last-resort guard: a handler that dies mid-request leaves
            # the client with a connection reset, not a status code —
            # under concurrent writes (r7 threaded e2e) transient races
            # surface here as a clean 500 instead
            try:
                self._handle(method)
            except BrokenPipeError:
                pass  # client went away; nothing to send
            except Exception:  # noqa: BLE001
                # log server-side only: exception text can carry paths /
                # Spark internals a client has no business seeing
                # (ADVICE r7) — the body stays generic
                import logging
                import traceback

                logging.getLogger(__name__).error(
                    "unhandled %s %s: %s", method, self.path, traceback.format_exc()
                )
                try:
                    self._send(500, {"error": "internal error"})
                except Exception:  # noqa: BLE001 — headers already sent
                    pass

        def do_GET(self):  # noqa: N802
            self._handle_safely("GET")

        def do_POST(self):  # noqa: N802
            self._handle_safely("POST")

    return Handler


def make_server(lake: DataLake, host: str = "0.0.0.0", port: int = 3000) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; port 0 picks an ephemeral
    port (used by the e2e tests)."""
    return ThreadingHTTPServer((host, port), _make_handler(lake))


def serve(base_dir: str = "./data", host: str = "0.0.0.0", port: int = 3000) -> None:
    """Boot a SparkSession-backed lake and serve forever (reference
    main(), src/main.rs:321-335)."""
    from polars_express_spark.session import get_spark

    lake = DataLake(get_spark(), base_dir)
    srv = make_server(lake, host, port)
    print(f"Listening on http://{host}:{srv.server_address[1]}")
    srv.serve_forever()


if __name__ == "__main__":
    import sys

    serve(*sys.argv[1:2])
