"""Shared plumbing: hermetic run directories, Spark start-up, latency
statistics and the result line.

Every run works in a fresh ``.perfbench_tmp/<workload>-<pid>`` directory
under the checkout (lakes, checkpoints, stream sources, Spark local,
warehouse and temp dirs) and removes it at exit. Results and spans go
to ``.perfbench_out``. Both are git-ignored, so a run leaves the
tracked tree untouched.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")


class RunDirs:
    """Fresh per-run scratch tree; ``close()`` deletes it."""

    def __init__(self, tag: str, base: str | None = None):
        """A new tree for ``tag``, or the existing tree at ``base`` (the
        server process shares its client's tree)."""
        self.base = base or os.path.join(TMP_ROOT, f"{tag}-{os.getpid()}")
        if base is None:
            shutil.rmtree(self.base, ignore_errors=True)
            for sub in ("data", "lake", "local", "tmp", "warehouse", "ckpt", "source"):
                os.makedirs(os.path.join(self.base, sub))
        os.makedirs(OUT_DIR, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)  # only when no other run is using it
        except OSError:
            pass


def hermetic_env(dirs: RunDirs) -> None:
    """Point everything the program and Spark write at the run's scratch
    tree and make the package importable by Python workers from any
    working directory. Must run before the JVM starts."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("local")
    os.environ["TMPDIR"] = dirs.path("tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def spark_conf(dirs: RunDirs) -> dict[str, str]:
    """Only where Spark writes; heap and every other setting stay the
    program's own (session.py)."""
    return {
        "spark.sql.warehouse.dir": dirs.path("warehouse"),
        "spark.local.dir": dirs.path("local"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={dirs.path('tmp')} -Djava.io.tmpdir={dirs.path('tmp')}"
        ),
    }


def start_session(dirs: RunDirs, app: str):
    """``get_spark`` plus a first action: the ``session.start`` step."""
    from polars_express_spark.session import get_spark

    spark = get_spark(app_name=app, extra_conf=spark_conf(dirs))
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until the JVM
    and every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    import procstat

    started = procstat.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.wait_gone(started, timeout=30)


# ---------------------------------------------------------------- stats


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float], pct: float) -> tuple[float, str, int, int]:
    """The ``pct`` percentile by nearest rank (100 = the maximum).

    Returns (value, label, sample count, samples beyond it). Each
    workload fixes its percentile, so the metric keeps one meaning when a
    change moves the sample count: p87.5 on ``serve`` (ten of its 80
    requests beyond it); the slowest query on ``curation`` (of six) and
    the second-slowest drop on ``ingest`` (p80 of five), whose runs hold
    too few ops for any percentile to have ten beyond it (see NOTES.md)."""
    n = len(samples)
    if not n:
        return 0.0, f"p{pct:g}", 0, 0
    rank = min(n, max(1, math.ceil(pct / 100.0 * n)))
    return sorted(samples)[rank - 1], ("max" if pct >= 100 else f"p{pct:g}"), n, n - rank


def close_enough(a, b, rel: float = 1e-6, abs_: float = 1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)
    return a == b


def untraced_ops_per_s(workload: str, sf: float) -> tuple[float, int] | None:
    """Median throughput over every untraced results file of the workload
    at input scale ``sf``, and how many there were; None when there is
    none. A median over runs, not the same seed's one run, so that one run
    slowed by the host does not make up the tracing overhead."""
    values = []
    for name in sorted(os.listdir(OUT_DIR)):
        if name.startswith(f"{workload}-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(OUT_DIR, name)) as f:
                record = json.load(f)
            if record.get("sf") == sf:
                values.append(record["e2e"]["ops_per_s"])
    return (statistics.median(values), len(values)) if values else None


# --------------------------------------------------------------- result

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "server.overhead_ms": "ms",
    "api.preview_ms": "ms",
    "api.delays_ms": "ms",
    "api.regression_ms": "ms",
    "api.sql_ms": "ms",
    "catalog.load_ms": "ms",
    "catalog.loads": "count/op",
    "catalog.write_ms": "ms",
    "catalog.bytes_per_input_byte": "ratio",
    "sinks.json_ms": "ms",
    "sinks.rows_out": "rows",
    "queries.plan_build_s": "s",
    "queries.execute_s": "s",
    "spark.jobs": "count/op",
    "spark.tasks": "count/op",
    "spark.failed_tasks": "count",
    "spark.jvm_cpu_s": "s/op",
    "functions.pyworker_cpu_s": "s/op",
    "driver.cpu_s": "s/op",
    "memo.gets": "count",
    "memo.hit_ratio": "ratio",
    "memo.build_s": "s",
    "streaming.start_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "rows",
    "sketch.absorb_ms": "ms",
    "sketch.persist_ms": "ms",
    "error_rate": "ratio",
    "trace.overhead_pct": "%",
}


class Outcome:
    """What a workload hands back to ``run.py``."""

    def __init__(self):
        self.setup_s = 0.0
        self.latencies_ms: list[float] = []  # one per op
        self.ops = 0
        self.attempted = 0
        self.failed = 0
        self.measured_s = 0.0
        self.window: dict = {}  # TreeSampler.window()
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []
        self.tail_pct = 100.0  # see tail()
        self.detail: dict = {}  # free-form extras for the results file

    def e2e(self) -> tuple[dict[str, float], str]:
        tail_v, tail_label, n, beyond = tail(self.latencies_ms, self.tail_pct)
        values = {
            "setup_s": self.setup_s,
            "ops_per_s": self.ops / self.measured_s if self.measured_s else 0.0,
            "latency_p50_ms": median(self.latencies_ms),
            "latency_tail_ms": tail_v,
        }
        return values, f"{tail_label} of {n} samples, {beyond} beyond it"


def emit(workload: str, seed: int, trace: bool, out: Outcome, extra: dict) -> None:
    values, tail_note = out.e2e()
    w = out.window
    error_rate = out.failed / out.attempted if out.attempted else 1.0
    for name, v in values.items():
        note = f"  ({tail_note})" if name == "latency_tail_ms" else ""
        print(f"{workload}: {name} = {v:.6g} {E2E_UNITS[name]}{note}")
    # printed on every run, but a per-layer metric: see NOTES.md
    print(f"{workload}: peak_rss_mb = {w.get('peak_rss_mb', 0.0):.6g} MB")
    print(f"{workload}: error_rate = {error_rate:.6g} ratio"
          f"  ({out.failed} of {out.attempted} ops failed or wrong)")
    print(f"{workload}: host steal {w.get('steal_pct', 0.0):.2f}%  loadavg "
          f"{w.get('loadavg_start', 0.0):.2f} -> {w.get('loadavg_end', 0.0):.2f}")
    for note in out.notes:
        print(f"{workload}: {note}")
    if trace:
        layers = dict(out.layers)
        layers["error_rate"] = error_rate
        layers["peak_rss_mb"] = w.get("peak_rss_mb", 0.0)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
        for k in LAYER_UNITS:
            print(f"{workload}: {k} = {metrics[k]['value']:.6g} {LAYER_UNITS[k]}")
        for name, v in out.detail.get("spans", {}).items():
            print(f"{workload}: span {name}: {v['calls']} calls, self {v['self_s']:.4f} s, "
                  f"total {v['total_s']:.4f} s")
    else:
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in E2E_UNITS.items()}
    result = {
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }
    record = {
        "workload": workload, "seed": seed, "trace": trace, "time": time.time(),
        "result": result, "e2e": values, "tail": tail_note, "error_rate": error_rate,
        "window": w, "layers": out.layers, "notes": out.notes, "detail": out.detail,
        **extra,
    }
    path = os.path.join(OUT_DIR, f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))
