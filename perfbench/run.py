"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Workloads: ``serve`` (HTTP server under four closed-loop clients),
``curation`` (LLM-data queries over the shared memo and Python
workers), ``ingest`` (file drops through the streaming pipeline into
the lake) and ``analytics`` (TPC-H shapes through the noop sink).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's layer entry points in span recorders and prints the
per-layer metrics instead, with the tracing overhead taken against the
earlier untraced runs' results files. Human-readable lines come first; the last
line of stdout is the JSON result. Results and spans are also written
to ``.perfbench_out/`` under the checkout.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from spans import Recorder  # noqa: E402

# Input scale per workload (the reference data's sf convention). The
# query workloads run below the sf0.1 of bench.py so that a whole pass
# fits one run; see NOTES.md.
DEFAULT_SF = {"serve": 0.1, "analytics": 0.01, "curation": 0.01, "ingest": 0.1}


def _trace_overhead(workload: str, sf: float, out: common.Outcome) -> None:
    """``trace.overhead_pct``: how much longer an op takes traced than
    untraced, from the throughput of this run and of the untraced runs of
    the same workload and scale made before it in this checkout."""
    base = common.untraced_ops_per_s(workload, sf)
    traced = out.e2e()[0]["ops_per_s"]
    if base is None or not traced:
        out.notes.append("trace.overhead_pct: no untraced run to compare with "
                         "(run --trace 0 first); reported as 0")
        out.layers["trace.overhead_pct"] = 0.0
        return
    untraced, runs = base
    out.layers["trace.overhead_pct"] = 100.0 * (untraced / traced - 1.0)
    out.notes.append(f"trace.overhead_pct: {traced:.4g} op/s traced against "
                     f"{untraced:.4g} op/s, the median of {runs} untraced runs")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(DEFAULT_SF))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the input scale")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(common.ROOT, "polars_express_spark", "__init__.py")):
        print(f"perfbench: package polars_express_spark not found under {common.ROOT}",
              file=sys.stderr)
        return 2

    sf = args.sf if args.sf is not None else DEFAULT_SF[args.workload]
    dirs = common.RunDirs(args.workload)
    rec = Recorder() if args.trace else None
    try:
        common.hermetic_env(dirs)
        if args.workload == "serve":
            import wl_serve as mod
        elif args.workload == "ingest":
            import wl_ingest as mod
        else:
            import wl_queries as mod
        t0 = time.perf_counter()
        out = mod.run(args.workload, args.seed, args.seconds, rec, dirs, sf)
        extra = {"sf": sf, "seconds": args.seconds, "run_wall_s": time.perf_counter() - t0}
        if rec:
            spans_path = os.path.join(
                common.OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"
            )
            rec.dump(spans_path)
            extra["spans"] = spans_path
            _trace_overhead(args.workload, sf, out)
        common.emit(args.workload, args.seed, bool(args.trace), out, extra)
        return 0
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        if rec:
            rec.unpatch()
        dirs.close()


if __name__ == "__main__":
    sys.exit(main())
