"""e2e over real HTTP: the three reference routes with their status-code
semantics (SURVEY.md §5.2.4; reference src/main.rs:309-335)."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from polars_express_spark.catalog import DataLake
from polars_express_spark.server import make_server

TRAINS_CSV = """train_id,departure_delay,arrival_delay
ICE1,5.0,7.5
ICE2,1.0,3.0
RE3,12.0,15.0
"""


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("http_lake")
    (d / "trains.csv").write_text(TRAINS_CSV)
    (d / "plain.csv").write_text("a,b\n1,2\n")
    srv = make_server(DataLake(spark, str(d)), host="127.0.0.1", port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url) as r:
        return r.status, json.loads(r.read())


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def _code(fn, *args):
    try:
        fn(*args)
    except urllib.error.HTTPError as e:
        return e.code
    raise AssertionError("expected HTTP error")


def test_index(base_url):
    with urllib.request.urlopen(base_url + "/") as r:
        assert r.status == 200 and b"polars_express_spark" in r.read()


def test_ui_round_trip(base_url):
    """Drive the explorer page's own fetch paths end-to-end: the served
    HTML must reference exactly the routes it calls, the /datasets feed
    must list the fixture lake, and each fetch the page issues (picker
    load → preview → delays with sort toggle → regression POST) must
    succeed with the shape the page renders."""
    with urllib.request.urlopen(base_url + "/") as r:
        page = r.read().decode()
    assert r.headers["Content-Type"].startswith("text/html")
    for path in ("/datasets", "/preview?", "/delays?", "/regression", "/sql"):
        assert path in page, f"page lost its {path} fetch path"
    # 1. picker load
    status, ids = _get(base_url + "/datasets")
    assert status == 200 and ids == ["plain", "trains"]
    # 2. preview (page default limit 20)
    status, rows = _get(base_url + "/data/trains/preview?limit=20")
    assert status == 200 and len(rows) == 3
    # 3. delays with the sort toggle on Desc
    status, rows = _get(base_url + "/data/trains/delays?sorting=Desc&limit=20")
    assert status == 200 and [r["train_id"] for r in rows] == ["RE3", "ICE1", "ICE2"]
    # 4. regression form POST
    status, reg = _post(
        base_url + "/data/trains/regression",
        {"x_col": "departure_delay", "y_col": "arrival_delay"},
    )
    assert status == 200 and set(reg) == {"slope", "intercept", "r2"}
    # 5. the SQL console POST (r7 panel), exactly as the page sends it
    status, rows = _post(
        base_url + "/sql",
        {"query": "SELECT train_id FROM trains ORDER BY train_id", "limit": 2},
    )
    assert status == 200 and [r["train_id"] for r in rows] == ["ICE1", "ICE2"]


def test_truncation_header(base_url):
    """X-Truncated distinguishes a complete result from a capped one:
    false for the 3-row fixture, and absent on regression (scalar)."""
    with urllib.request.urlopen(base_url + "/data/trains/preview") as r:
        assert r.headers["X-Truncated"] == "false"
    with urllib.request.urlopen(base_url + "/data/trains/delays") as r:
        assert r.headers["X-Truncated"] == "false"


def test_preview(base_url):
    status, rows = _get(base_url + "/data/trains/preview?limit=2")
    assert status == 200 and len(rows) == 2
    assert set(rows[0]) == {"train_id", "departure_delay", "arrival_delay"}


def test_delays_asc_default_and_desc(base_url):
    _, rows = _get(base_url + "/data/trains/delays")
    assert [r["train_id"] for r in rows] == ["ICE2", "ICE1", "RE3"]
    _, rows = _get(base_url + "/data/trains/delays?sorting=Desc&limit=1")
    assert [r["train_id"] for r in rows] == ["RE3"]


def test_delays_400_no_delay_columns(base_url):
    assert _code(_get, base_url + "/data/plain/delays") == 400


def test_404_unknown_dataset(base_url):
    assert _code(_get, base_url + "/data/ghost/preview") == 404


def test_regression(base_url):
    status, r = _post(
        base_url + "/data/trains/regression",
        {"x_col": "departure_delay", "y_col": "arrival_delay"},
    )
    assert status == 200 and set(r) == {"slope", "intercept", "r2"}
    # hand-computed on (5,7.5) (1,3) (12,15): slope = 202.5/186
    assert r["slope"] == pytest.approx(202.5 / 186, abs=1e-9)


def test_regression_400_missing_column(base_url):
    req = urllib.request.Request(
        base_url + "/data/trains/regression",
        data=json.dumps({"x_col": "nope", "y_col": "arrival_delay"}).encode(),
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_405_wrong_method(base_url):
    assert _code(_get, base_url + "/data/trains/regression") == 405


def _post_any(url, payload):
    """_post that returns (code, body) for error responses too."""
    try:
        return _post(url, payload)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_sql_endpoint(base_url):
    """POST /sql: datasets are queryable views; joins/aggs work; limit
    caps rows; DDL/DML and multi-statements are rejected read-only."""
    status, rows = _post_any(
        f"{base_url}/sql",
        {"query": "SELECT train_id, departure_delay FROM trains "
                  "WHERE departure_delay > 2 ORDER BY departure_delay DESC"},
    )
    assert status == 200
    assert [r["train_id"] for r in rows] == ["RE3", "ICE1"]

    status, rows = _post_any(
        f"{base_url}/sql",
        {"query": "SELECT count(*) AS n FROM trains t JOIN plain p ON p.a = 1"},
    )
    assert status == 200 and rows == [{"n": 3}]

    status, rows = _post_any(
        f"{base_url}/sql", {"query": "SELECT * FROM trains ORDER BY train_id", "limit": 1}
    )
    assert status == 200 and len(rows) == 1

    # a literal ';' inside a string must NOT trip the one-statement check
    status, rows = _post_any(
        f"{base_url}/sql",
        {"query": "SELECT count(*) AS n FROM trains WHERE train_id LIKE '%;%'"},
    )
    assert status == 200 and rows == [{"n": 0}]

    # malformed limit -> 400, not a crashed handler
    status, err = _post_any(f"{base_url}/sql", {"query": "SELECT 1 AS x", "limit": "abc"})
    assert status == 400 and "limit" in err["error"]

    for bad in [
        "DROP VIEW trains",
        "SELECT 1; SELECT 2",
        "INSERT INTO trains VALUES ('x', 0, 0)",
        # CTE-prefixed DML: starts with WITH, passes a first-token
        # check, but the parse-tree guard must reject it (review r6)
        "WITH t AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY '/tmp/pwn' USING parquet SELECT * FROM t",
        "WITH t AS (SELECT 1 AS x) DELETE FROM trains",
        "SELECT nope FROM trains",
        "SELECT * FROM no_such_table",
        "",
    ]:
        status, err = _post_any(f"{base_url}/sql", {"query": bad})
        assert status == 400, (bad, err)
        assert "error" in err


def test_sql_sandbox_escapes_rejected(base_url):
    """The r6 review's bypasses (and their variants) must all die with
    400 BEFORE execution: direct-path relations read server-local files,
    reflection functions call arbitrary JVM statics, and the
    IDENTIFIER / time-travel / EXECUTE IMMEDIATE grammar reaches
    relations through leaf nodes the view check can't see inside."""
    for bad in [
        # direct-path relations: arbitrary local file reads
        "SELECT * FROM text.`/etc/passwd`",
        "SELECT * FROM parquet.`/root/testdata/sf0.001/region.parquet`",
        "SELECT * FROM json.`/etc/hostname`",
        "WITH t AS (SELECT * FROM text.`/etc/passwd`) SELECT * FROM t",
        # nested CTE: the inner WITH is an innerChild of the outer one
        "WITH t AS (WITH u AS (SELECT * FROM text.`/etc/passwd`) "
        "SELECT * FROM u) SELECT * FROM t",
        "SELECT a, (SELECT count(*) FROM text.`/etc/passwd`) AS n FROM plain",
        # catalog / multipart escapes
        "SELECT * FROM spark_catalog.default.anything",
        # JVM reflection — arbitrary static method calls
        "SELECT java_method('java.lang.System', 'getenv', 'HOME') AS v",
        "SELECT reflect('java.lang.System', 'getProperty', 'user.dir') AS v",
        "SELECT system.builtin.reflect('java.lang.System', 'lineSeparator') AS v",
        # Spark 4 try_-aliased reflection (ADVICE r7: identical semantics,
        # was NOT in the exact-match denylist) + future-alias substring net
        "SELECT try_reflect('java.lang.System', 'getenv', 'HOME') AS v",
        "SELECT try_java_method('java.lang.System', 'getenv', 'HOME') AS v",
        # server-local path disclosure
        "SELECT input_file_name() AS f FROM trains",
        "SELECT try_input_file_name() AS f FROM trains",
        # leaf-node grammar the view check can't see inside
        "SELECT * FROM IDENTIFIER('text.`/etc/passwd`')",
        "SELECT * FROM trains VERSION AS OF 1",
        "EXECUTE IMMEDIATE 'SELECT 1'",
        # session / metadata statements
        "EXPLAIN SELECT 1",
        "SET spark.sql.ansi.enabled=true",
        "SHOW TABLES",
        # file-reading table functions are not on the TVF allowlist
        "SELECT * FROM read_files('/etc')",
    ]:
        status, err = _post_any(f"{base_url}/sql", {"query": bad})
        assert status == 400, (bad, err)
        assert "error" in err


def test_sql_guard_no_false_positives(base_url):
    """The guard matches node CLASSES, not identifiers — user names that
    merely look like forbidden node names (review r6: a CTE
    'InsertIntoStatementLike', columns 'InsertedAt'/'WriteToken', an
    alias 'CommandLog') must run fine, as must legitimate multi-CTE,
    subquery, VALUES, and generate-TVF shapes."""
    ok = [
        ("WITH InsertIntoStatementLike AS (SELECT 1 AS x) "
         "SELECT x FROM InsertIntoStatementLike", [{"x": 1}]),
        ("SELECT train_id AS InsertedAt, departure_delay AS WriteToken "
         "FROM trains CommandLog WHERE CommandLog.train_id = 'ICE1'",
         [{"InsertedAt": "ICE1", "WriteToken": 5.0}]),
        ("WITH a AS (SELECT 1 AS x), b AS (SELECT x + 1 AS y FROM a) "
         "SELECT y FROM b", [{"y": 2}]),
        ("SELECT count(*) AS n FROM trains "
         "WHERE train_id <> 'DROP TABLE trains'", [{"n": 3}]),
        ("SELECT count(*) AS n FROM trains t "
         "WHERE EXISTS (SELECT 1 FROM plain p WHERE p.a = 1)", [{"n": 3}]),
        ("SELECT a + b AS s FROM VALUES (1, 2) AS v(a, b)", [{"s": 3}]),
        ("SELECT count(*) AS n FROM range(5)", [{"n": 5}]),
    ]
    for q, expect in ok:
        status, rows = _post_any(f"{base_url}/sql", {"query": q})
        assert status == 200, (q, rows)
        assert rows == expect, (q, rows)


def test_concurrent_requests_during_overwrite(spark, tmp_path):
    """r7 hardening (VERDICT r6 #4): fire parallel /sql + /data/*
    requests while a dataset is overwritten through the same lake.
    ThreadingHTTPServer + the shared SparkSession + the memo/view
    registries must never produce a hung handler, a 500, or a STALE
    read — every response is either a good 200 or (only while the
    parquet dir is mid-rewrite) a clean 400, and once writes stop the
    very next /sql sees the final data."""
    import queue

    d = tmp_path / "conc_lake"
    d.mkdir()
    (d / "trains.csv").write_text(TRAINS_CSV)
    lake = DataLake(spark, str(d))
    lake.save(spark.range(10).toDF("id"), "metrics", fmt="parquet")
    srv = make_server(lake, host="127.0.0.1", port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    sizes = [10, 25, 40, 55]  # n rows after each overwrite
    failures: queue.Queue = queue.Queue()
    stop = threading.Event()

    def hit_sql():
        while not stop.is_set():
            try:
                status, body = _post_any(
                    f"{base}/sql", {"query": "SELECT count(*) AS n FROM metrics"}
                )
            except Exception as e:  # noqa: BLE001 — a reset = crashed handler
                failures.put(f"/sql connection-level failure: {e!r}")
                continue
            if status == 200:
                if body[0]["n"] not in sizes:
                    failures.put(f"/sql saw impossible count {body[0]['n']}")
            elif status != 400:  # mid-rewrite read → clean 400 is allowed
                failures.put(f"/sql status {status}: {body}")

    def hit_data():
        while not stop.is_set():
            try:
                status, rows = _get(f"{base}/data/trains/preview?limit=2")
                if status != 200 or len(rows) != 2:
                    failures.put(f"/preview bad response {status} {rows}")
                status, ids = _get(f"{base}/datasets")
                if status != 200 or "trains" not in ids:
                    failures.put(f"/datasets bad response {status} {ids}")
            except Exception as e:  # noqa: BLE001 — collect, don't die mid-thread
                failures.put(f"/data raised {e}")

    workers = [threading.Thread(target=hit_sql) for _ in range(3)] + [
        threading.Thread(target=hit_data) for _ in range(2)
    ]
    for w in workers:
        w.start()
    try:
        for n in sizes[1:]:  # overwrite under live traffic
            lake.save(spark.range(n).toDF("id"), "metrics", fmt="parquet")
    finally:
        stop.set()
        for w in workers:
            w.join(timeout=30)
    assert all(not w.is_alive() for w in workers), "hung worker thread"
    probs = []
    while not failures.empty():
        probs.append(failures.get())
    assert not probs, probs
    # no stale-view window: the first post-mutation query sees the final
    # dataset (the overwrite cleared the one-registration-per-dataset
    # cache, so the view re-registers over the new files)
    status, body = _post_any(f"{base}/sql", {"query": "SELECT count(*) AS n FROM metrics"})
    assert status == 200 and body == [{"n": sizes[-1]}]
    srv.shutdown()


def test_sql_sees_hand_replaced_csv(spark, tmp_path):
    """A CSV replaced outside the lake's writers (columns reordered) is
    seen by the next /sql: the view is rebuilt because the file's stamp
    changed, so columns are matched by the new header, not by position
    under the old inferred schema."""
    import os

    d = tmp_path / "swap_lake"
    d.mkdir()
    csv = d / "swap.csv"
    csv.write_text("a,b\n1,2\n")
    srv = make_server(DataLake(spark, str(d)), host="127.0.0.1", port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}/sql"
    try:
        q = {"query": "SELECT a, b FROM swap"}
        assert _post_any(url, q) == (200, [{"a": 1, "b": 2}])
        csv.write_text("b,a\n20,10\n")
        st = os.stat(csv)
        os.utime(csv, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        assert _post_any(url, q) == (200, [{"a": 10, "b": 20}])
    finally:
        srv.shutdown()
