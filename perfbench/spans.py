"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent id, op id). Spans are opened
around calls into the program's public functions by wrappers that
replace a name where its caller looks it up: patching
``api.to_json_rows_flagged`` reaches the sink as ``api`` calls it,
patching ``DataLake.load`` on the class reaches every lake. Parent and
op ids come from a thread-local stack, so concurrent requests on the
server's handler threads keep separate trees. Spans are written out
once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, op, attrs)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._default_op = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op_id) -> None:
        """Tag every span this thread opens from now on with ``op_id``.
        Threads that never called ``set_op`` (py4j callback threads running
        a foreachBatch sink) use the op most recently set by any thread."""
        self._local.op = op_id
        self._default_op = op_id

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            op = getattr(self._local, "op", self._default_op)
            self.spans.append((sid, name, start, end, parent, op, attrs))

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``on_result(result, attrs)`` may add attributes (row counts)
        after the call returns."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as attrs:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(result, attrs)
                return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def records(self) -> list[dict]:
        return [
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "op": op, "attrs": attrs}
            for sid, name, start, end, parent, op, attrs in self.spans
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records():
                f.write(json.dumps(r, default=str) + "\n")


def load_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    child_cover: dict[int, float] = defaultdict(float)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            child_cover[p["id"]] += max(0.0, hi - lo)
    return {
        s["id"]: max(0.0, (s["end"] - s["start"]) - child_cover[s["id"]]) for s in spans
    }


def summarize(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total and median duration, total self time."""
    selfs = self_times(spans)
    groups: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        groups[s["name"]].append(s)
    out = {}
    for name, ss in sorted(groups.items()):
        durs = [s["end"] - s["start"] for s in ss]
        out[name] = {
            "calls": len(ss),
            "total_s": sum(durs),
            "median_s": statistics.median(durs),
            "self_s": sum(selfs[s["id"]] for s in ss),
        }
    return out


def durations(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


@contextmanager
def null_span():
    """Stand-in for ``Recorder.span`` in untraced runs."""
    yield {}
