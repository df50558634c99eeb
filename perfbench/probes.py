"""Span wrappers around the program's layer entry points, and Spark
job counts per op.

Each ``install_*`` patches a name where its caller looks it up, so the
wrapped call is the one the program really makes. Wrappers are
installed before the session starts and removed by
``Recorder.unpatch``.
"""

from __future__ import annotations

from spans import Recorder


def install_api(rec: Recorder) -> None:
    """The four routes as ``server`` calls them, and the JSON sink as
    ``api`` calls it (``api`` imported it by name)."""
    from polars_express_spark import api

    for attr, name in (
        ("get_data_preview_flagged", "api.preview"),
        ("get_sorted_delays_flagged", "api.delays"),
        ("run_regression", "api.regression"),
        ("run_sql", "api.sql"),
    ):
        rec.wrap(api, attr, name)

    def rows_out(result, attrs):
        attrs["rows"] = len(result[0])

    rec.wrap(api, "to_json_rows_flagged", "sinks.json", on_result=rows_out)


def install_catalog(rec: Recorder) -> None:
    """Lake reads and writes: ``DataLake.load``/``save`` on the class, and
    the idempotent batch write where the streaming sinks look it up."""
    from polars_express_spark.catalog import DataLake
    from polars_express_spark.streaming import windows

    rec.wrap(DataLake, "load", "catalog.load")
    rec.wrap(DataLake, "save", "catalog.write")
    rec.wrap(windows, "write_batch_idempotent", "catalog.write")


def install_memo(rec: Recorder) -> None:
    """``FrameMemo.get``: a get whose build callback runs is a miss, the
    build is timed as its own span."""
    from polars_express_spark.queries._memo import FrameMemo

    original = FrameMemo.get

    def get(self, spark, key, build, persist="checkpoint"):
        built = []

        def timed_build():
            with rec.span("memo.build"):
                built.append(True)
                return build()

        with rec.span("memo.get") as attrs:
            df = original(self, spark, key, timed_build, persist)
            attrs["hit"] = not built
        return df

    FrameMemo.get = get
    rec._patched.append((FrameMemo, "get", original))


def install_sketch(rec: Recorder) -> None:
    """The CMS fold and the state snapshot, as the durable hook calls them."""
    from polars_express_spark.streaming import sketch

    rec.wrap(sketch.StreamingCms, "absorb", "sketch.absorb")
    rec.wrap(sketch, "persist_state", "sketch.persist")


def install_all(rec: Recorder) -> None:
    install_api(rec)
    install_catalog(rec)
    install_memo(rec)
    install_sketch(rec)


def job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, completed tasks, failed tasks) of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
    return len(jobs), tasks, failed


def memo_layers(spans: list[dict]) -> dict[str, float]:
    from spans import durations

    gets = [s for s in spans if s["name"] == "memo.get"]
    hits = sum(1 for s in gets if s["attrs"].get("hit"))
    return {
        "memo.gets": len(gets),
        "memo.hit_ratio": hits / len(gets) if gets else 0.0,
        "memo.build_s": sum(durations(spans, "memo.build")),
    }


def cpu_layers(window: dict, ops: int) -> dict[str, float]:
    cpu = window.get("cpu_s", {})
    ops = max(1, ops)
    return {
        "spark.jvm_cpu_s": cpu.get("jvm", 0.0) / ops,
        "functions.pyworker_cpu_s": cpu.get("pyworker", 0.0) / ops,
        "driver.cpu_s": cpu.get("driver", 0.0) / ops,
    }
