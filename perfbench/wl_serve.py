"""``serve``: four closed-loop HTTP clients against ``server.make_server``.

The lake holds the FIXTURES.md §11 ``trains`` table twice: as CSV
(``trains_csv``, schema inferred on every request) and as parquet
(``trains_pq``). Each client draws its requests from its own seeded
stream: preview 30 %, delays top-k 30 %, regression 20 % and ``POST
/sql`` group-by/top-k 20 %, split evenly between the two copies. Every
response is checked against values computed from the generated table
(SQL rows against DuckDB over the same files).
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import signal
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import common
import datagen
import probes
import procstat
from spans import durations, load_spans, summarize

N_ROWS = 20_000
CLIENTS = 4
DATASETS = ("trains_csv", "trains_pq")
KINDS = ("preview", "delays", "regression", "sql")
KIND_P = (0.3, 0.3, 0.2, 0.2)
LIMITS = (10, 50, 100)
REG_Y = ("departure_delay", "arrival_delay")
SQL = (
    "SELECT station, count(*) AS n, avg(arrival_delay) AS avg_arr FROM {t} "
    "GROUP BY station ORDER BY n DESC, station LIMIT {k}",
    "SELECT train_id, arrival_delay FROM {t} "
    "ORDER BY arrival_delay DESC, train_id LIMIT {k}",
    "SELECT CAST(floor(scheduled_departure_time / 60) AS INT) AS hour, count(*) AS n, "
    "max(departure_delay) AS max_dep FROM {t} GROUP BY 1 ORDER BY 1",
)
READY_TIMEOUT_S = 150
DECK = 20  # requests per shuffled deck, see request_stream
# Each client sends as many whole decks as fit in --seconds at about
# DECK_S seconds each on 4 cores (at least one), the same number on every
# host. A fixed amount of work keeps the mix and the sample count from
# following the host's speed.
DECK_S = 12.0
# With one deck per client (80 requests) p87.5 is the highest percentile
# with ten samples beyond it.
TAIL_PCT = 87.5


class Expected:
    """Reference answers computed from the generated table."""

    def __init__(self, table, lake_dir: str):
        import duckdb

        cols = table.to_pydict()
        self.columns = set(cols)
        self.by_id = {
            tid: {c: cols[c][i] for c in cols} for i, tid in enumerate(cols["train_id"])
        }
        dep, arr = cols["departure_delay"], cols["arrival_delay"]
        keys = list(zip(dep, arr))
        # Spark orders nulls first ascending and last descending
        self.asc = sorted(keys, key=lambda k: (k[0] is not None, k[0] or 0.0, k[1]))
        self.desc = sorted(keys, key=lambda k: (k[0] is None, -(k[0] or 0.0), -k[1]))
        x = np.array(cols["scheduled_departure_time"], dtype=float)
        self.regression = {}
        for y_col in REG_Y:
            y = np.array([0.0 if v is None else v for v in cols[y_col]], dtype=float)
            n = len(x)
            sx, sy, sxy, sxx, syy = x.sum(), y.sum(), (x * y).sum(), (x * x).sum(), (y * y).sum()
            denom = n * sxx - sx * sx
            slope = (n * sxy - sx * sy) / denom
            r2 = (n * sxy - sx * sy) ** 2 / (denom * (n * syy - sy * sy))
            self.regression[y_col] = (slope, (sy - slope * sx) / n, r2)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW trains_csv AS SELECT * FROM "
                    f"read_csv_auto('{lake_dir}/trains_csv.csv', header=true)")
        con.execute(f"CREATE VIEW trains_pq AS SELECT * FROM "
                    f"read_parquet('{lake_dir}/trains_pq.parquet')")
        self.sql = {}
        for t in DATASETS:
            for i, tmpl in enumerate(SQL):
                for k in LIMITS:
                    rel = con.execute(tmpl.format(t=t, k=k))
                    names = [d[0] for d in rel.description]
                    self.sql[(t, i, k)] = [dict(zip(names, r)) for r in rel.fetchall()]
        con.close()

    def check(self, req: dict, status: int, body) -> str | None:
        if status != 200:
            return f"HTTP {status}: {str(body)[:200]}"
        kind = req["kind"]
        if kind == "preview":
            if len(body) != req["limit"]:
                return f"preview returned {len(body)} rows, wanted {req['limit']}"
            for row in body:
                ref = self.by_id.get(row.get("train_id"))
                if ref is None or set(row) != self.columns or not all(
                    common.close_enough(row[c], ref[c]) for c in ref
                ):
                    return f"preview row {row} not in the table"
        elif kind == "delays":
            want = (self.desc if req["desc"] else self.asc)[: req["limit"]]
            got = [(r.get("departure_delay"), r.get("arrival_delay")) for r in body]
            if got != want:
                return "delays rows out of order"
        elif kind == "regression":
            want = self.regression[req["y"]]
            got = (body["slope"], body["intercept"], body["r2"])
            if not all(common.close_enough(a, b, rel=1e-6) for a, b in zip(got, want)):
                return f"regression {got} vs {want}"
        else:
            want = self.sql[(req["dataset"], req["template"], req["limit"])]
            if len(body) != len(want) or not all(
                set(g) == set(w) and all(common.close_enough(g[c], w[c], rel=1e-9) for c in w)
                for g, w in zip(body, want)
            ):
                return "sql rows differ from DuckDB"
        return None


def request_stream(seed: int, client: int):
    """Endless seeded request sequence of one client, dealt from shuffled
    decks of DECK that hold the exact mix: every (kind, copy) pair in
    proportion to KIND_P. Decks keep the mix of a short run equal
    across seeds; the seed picks the order and the parameters."""
    rng = np.random.default_rng([seed, 3, client])
    deck = [(k, t) for k, p in zip(KINDS, KIND_P) for _ in range(round(DECK * p / 2))
            for t in DATASETS]
    while True:
        for i in rng.permutation(len(deck)):
            kind, dataset = deck[i]
            req = {"kind": kind, "dataset": dataset, "limit": int(rng.choice(LIMITS))}
            if kind == "delays":
                req["desc"] = bool(rng.integers(0, 2))
            elif kind == "regression":
                req["y"] = REG_Y[int(rng.integers(0, 2))]
            elif kind == "sql":
                req["template"] = int(rng.integers(0, len(SQL)))
            yield req


def send(port: int, req: dict, op: str) -> tuple[int, object]:
    t, kind = req["dataset"], req["kind"]
    headers = {"X-Bench-Op": op}
    body = None
    if kind == "preview":
        method, path = "GET", f"/data/{t}/preview?limit={req['limit']}"
    elif kind == "delays":
        sorting = "Desc" if req["desc"] else "Asc"
        method, path = "GET", f"/data/{t}/delays?sorting={sorting}&limit={req['limit']}"
    elif kind == "regression":
        method, path = "POST", f"/data/{t}/regression"
        body = {"x_col": "scheduled_departure_time", "y_col": req["y"]}
    else:
        method, path = "POST", "/sql"
        body = {"query": SQL[req["template"]].format(t=t, k=req["limit"])}
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        if body is not None:
            headers["Content-Type"] = "application/json"
            conn.request(method, path, body=json.dumps(body), headers=headers)
        else:
            conn.request(method, path, headers=headers)
        resp = conn.getresponse()
        payload = resp.read()
        return resp.status, json.loads(payload) if payload else None
    finally:
        conn.close()


def _wait_ready(proc, ready: str, deadline: float) -> dict:
    while not os.path.exists(ready):
        if proc.poll() is not None:
            raise RuntimeError(f"server exited with code {proc.returncode} before ready")
        if time.monotonic() > deadline:
            raise RuntimeError("server not ready in time")
        time.sleep(0.05)
    with open(ready) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, rec, dirs, sf: float):
    out = common.Outcome()
    out.tail_pct = TAIL_PCT
    n_rows = max(100, int(N_ROWS * sf / 0.1))
    table = datagen.write_trains(seed, n_rows, dirs.path("lake"))
    expected = Expected(table, dirs.path("lake"))
    del table

    ready = dirs.path("tmp", "ready.json")
    spans_path = dirs.path("tmp", "server-spans.jsonl") if rec else None
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "serve_server.py"),
           "--run-dir", dirs.base, "--ready", ready]
    if spans_path:
        cmd += ["--spans", spans_path]
    log = open(dirs.path("tmp", "server.log"), "wb")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    sampler = None
    try:
        info = _wait_ready(proc, ready, time.monotonic() + READY_TIMEOUT_S)
        probe = {"kind": "preview", "dataset": "trains_pq", "limit": 10}
        status, body = send(info["port"], probe, "setup")
        out.setup_s = time.perf_counter() - t0
        if expected.check(probe, status, body):
            raise RuntimeError(f"server answered the first request wrongly: {status}")
        port = info["port"]
        sampler = procstat.TreeSampler(proc.pid).start()

        # warm-up, not measured: every route on both copies, twice over,
        # from all clients at once
        warm = [dict(r, limit=10, dataset=t) for t in DATASETS for r in (
            {"kind": "preview"}, {"kind": "delays", "desc": True},
            {"kind": "regression", "y": "arrival_delay"}, {"kind": "sql", "template": 0},
        )] * 2
        with ThreadPoolExecutor(CLIENTS) as pool:
            list(pool.map(lambda r: send(port, r, "warmup"), warm))

        records: list[tuple] = []  # (op, kind, dataset, latency ms, error)
        lock = threading.Lock()
        sampler.mark()
        per_client = DECK * max(1, int(seconds // DECK_S))
        t_start = time.perf_counter()

        def client(c: int):
            for i, req in enumerate(itertools.islice(request_stream(seed, c), per_client)):
                op = f"c{c}-{i}"
                q0 = time.perf_counter()
                try:
                    status, body = send(port, req, op)
                    err = None
                except (OSError, http.client.HTTPException, ValueError) as e:
                    status, body, err = 0, None, f"{type(e).__name__}: {e}"
                latency = (time.perf_counter() - q0) * 1000
                if err is None:
                    err = expected.check(req, status, body)
                with lock:
                    records.append((op, req["kind"], req["dataset"], latency, err))

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        out.measured_s = time.perf_counter() - t_start
        out.window = sampler.window()
    finally:
        if sampler is not None:
            sampler.stop()
        started = procstat.descendants(os.getpid())
        if proc.poll() is None:
            proc.send_signal(signal.SIGTERM)
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        procstat.wait_gone(started, timeout=30)
        log.close()

    out.attempted = len(records)
    out.failed = sum(1 for r in records if r[4])
    out.ops = out.attempted - out.failed
    out.latencies_ms = [r[3] for r in records if not r[4]]
    for kind in KINDS:
        for t in DATASETS:
            lat = [r[3] for r in records if r[1] == kind and r[2] == t and not r[4]]
            out.detail[f"{kind}/{t}_p50_ms"] = common.median(lat)
    errors = sorted({r[4] for r in records if r[4]})
    out.notes += [f"FAILED: {e}" for e in errors[:10]]
    out.notes.append(f"{out.attempted} requests by {CLIENTS} clients in "
                     f"{out.measured_s:.2f} s over {n_rows} rows")
    if rec:
        out.layers.update(_layers(spans_path, records, info["session_start_s"], out))
    return out


def _layers(spans_path: str, records, session_start_s: float, out) -> dict[str, float]:
    spans = load_spans(spans_path)
    with open(spans_path + ".meta.json") as f:
        meta = json.load(f)
    measured = {r[0]: r for r in records}
    spans = [s for s in spans if s["op"] in measured or s["name"] == "session.start"]
    out.detail["spans"] = summarize(spans)
    api_names = ("api.preview", "api.delays", "api.regression", "api.sql")
    api_by_op = {s["op"]: s["end"] - s["start"] for s in spans if s["name"] in api_names}
    overhead = [measured[op][3] - d * 1000 for op, d in api_by_op.items()]
    ops = max(1, len(measured))
    jobs = [v for op, v in meta["jobs"].items() if op in measured]
    loads = durations(spans, "catalog.load")
    rows = [s["attrs"].get("rows", 0) for s in spans if s["name"] == "sinks.json"]
    layers = {
        "session.start_s": session_start_s,
        "server.overhead_ms": common.median(overhead),
        "catalog.load_ms": common.median(loads) * 1000,
        "catalog.loads": len(loads) / ops,
        "catalog.write_ms": common.median(durations(spans, "catalog.write")) * 1000,
        "sinks.json_ms": common.median(durations(spans, "sinks.json")) * 1000,
        "sinks.rows_out": common.median(rows),
        "spark.jobs": sum(j[0] for j in jobs) / ops,
        "spark.tasks": sum(j[1] for j in jobs) / ops,
        "spark.failed_tasks": sum(j[2] for j in jobs),
        **probes.cpu_layers(out.window, ops),
        **probes.memo_layers(spans),
    }
    for name in api_names:
        layers[f"{name}_ms"] = common.median(durations(spans, name)) * 1000
    return layers
