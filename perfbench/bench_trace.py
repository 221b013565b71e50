"""Spans, job groups and timing wrappers for the traced pass.

``Tracer.wrap(owner, attr, name)`` replaces a public function with one
that records a span ``[name, start, end, parent]`` and runs the call under
a Spark job group naming the span's path (``T/pass/ingest``), so the
event log can be split by layer.
``Tracer.wrap_worker(owner, attr, layer)`` does the same for functions
that run inside Python workers (``mapInPandas`` / ``pandas_udf`` bodies):
the wrapper is pickled by value and appends one record per call to
``<trace_dir>/w<pid>.jsonl``.  ``Tracer.restore()`` puts every original
back, so untraced passes never see a wrapper.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
import typing

GROUP_PREFIX = "T/"  # marks the jobs of the traced pass in the event log


class Tracer:
    def __init__(self, sc, trace_dir: str) -> None:
        self.sc = sc
        self.trace_dir = trace_dir
        os.makedirs(trace_dir, exist_ok=True)
        self.spans: list[list] = []      # [name, start, end, parent index]
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        # the creating thread's stack: a span begun on another thread with
        # nothing open there (a foreachBatch callback, say) nests under the
        # innermost span open on this one
        self._home = self._stack()
        self._undo: list[tuple] = []

    # -- driver-side spans ----------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> tuple:
        stack = self._stack()
        outer = stack or self._home
        idx = len(self.spans)
        self.spans.append([name, time.time(), None, outer[-1] if outer else None])
        stack.append(idx)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", self.group_of(idx))
        return idx, prev

    def group_of(self, idx: int | None) -> str:
        """Job group of a span: ``T/`` + the span names from its root span
        down to it, e.g. ``T/pass/ingest``."""
        path = []
        while idx is not None:
            path.append(self.spans[idx][0])
            idx = self.spans[idx][3]
        return GROUP_PREFIX + "/".join(reversed(path))

    def end(self, token: tuple) -> None:
        idx, prev = token
        self.spans[idx][2] = time.time()
        self._stack().pop()
        self.sc.setLocalProperty("spark.jobGroup.id", prev)

    @contextlib.contextmanager
    def span(self, name: str):
        token = self.begin(name)
        try:
            yield
        finally:
            self.end(token)

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`restore`."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``; ``after``
        (if given) sees ``(args, result)`` once the call returns."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, result)
            return result

        self.patch(owner, attr, wrapper)

    # -- worker-side timing ---------------------------------------------------

    def wrap_worker(self, owner, attr: str, layer: str, scalar: bool = False) -> None:
        orig = getattr(owner, attr)
        timed = (_scalar_timer if scalar else _iter_timer)(orig, layer, self.trace_dir)
        self.patch(owner, attr, timed)

    def worker_records(self) -> list[list]:
        out = []
        for p in glob.glob(os.path.join(self.trace_dir, "w*.jsonl")):
            with open(p) as f:
                out.extend(json.loads(line) for line in f if line.strip())
        return out

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# Worker-side wrappers.  They import inside the body and close over plain
# values only, so cloudpickle ships them by value and the worker needs
# nothing from this file.  Record: [layer, start, end, busy_s, self_s,
# rows_in, rows_out]; busy_s includes time spent pulling input batches,
# self_s does not.

def _iter_timer(fn, layer: str, trace_dir: str):
    def timed(batches):
        import json as _json
        import os as _os
        import time as _time

        pulled = [0.0, 0]

        def inputs():
            it = iter(batches)
            while True:
                t = _time.perf_counter()
                try:
                    b = next(it)
                except StopIteration:
                    pulled[0] += _time.perf_counter() - t
                    return
                pulled[0] += _time.perf_counter() - t
                pulled[1] += len(b)
                yield b

        start, busy, rows_out = _time.time(), 0.0, 0
        gen = iter(fn(inputs()))
        while True:
            t = _time.perf_counter()
            try:
                out = next(gen)
            except StopIteration:
                busy += _time.perf_counter() - t
                break
            busy += _time.perf_counter() - t
            rows_out += len(out)
            yield out
        rec = [layer, start, _time.time(), busy, busy - pulled[0], pulled[1], rows_out]
        with open(_os.path.join(trace_dir, f"w{_os.getpid()}.jsonl"), "a") as f:
            f.write(_json.dumps(rec) + "\n")

    return timed


def _scalar_timer(fn, layer: str, trace_dir: str):
    def timed(series):
        import json as _json
        import os as _os
        import time as _time

        start, t = _time.time(), _time.perf_counter()
        out = fn(series)
        busy = _time.perf_counter() - t
        rec = [layer, start, _time.time(), busy, busy, len(series), len(out)]
        with open(_os.path.join(trace_dir, f"w{_os.getpid()}.jsonl"), "a") as f:
            f.write(_json.dumps(rec) + "\n")
        return out

    # pandas_udf infers its kind from the type hints: carry the original's
    # resolved hints over under this wrapper's parameter name
    hints = typing.get_type_hints(fn)
    timed.__annotations__ = {"series": next(v for k, v in hints.items() if k != "return"),
                             "return": hints["return"]}
    return timed


# -- span arithmetic ----------------------------------------------------------

def subtree(spans: list[list], root: str) -> list[list]:
    """The first root span named ``root`` and its descendants, parent
    indices renumbered; spans outside it (say, from checks run after the
    pass) are dropped."""
    keep: dict[int, int] = {}
    for i, (name, _s, _e, parent) in enumerate(spans):
        if (parent is None and name == root and not keep) or parent in keep:
            keep[i] = len(keep)
    return [[n, s, e, keep.get(p)] for i, (n, s, e, p) in enumerate(spans) if i in keep]


def self_times(spans: list[list]) -> dict[str, float]:
    """Per span name: total duration minus the duration of direct children."""
    child = [0.0] * len(spans)
    for name, s, e, parent in spans:
        if parent is not None and e is not None:
            child[parent] += e - s
    out: dict[str, float] = {}
    for i, (name, s, e, _parent) in enumerate(spans):
        if e is not None:
            out[name] = out.get(name, 0.0) + (e - s) - child[i]
    return out


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def durations(spans: list[list], name: str) -> list[float]:
    return [e - s for n, s, e, _p in spans if n == name and e is not None]


def outermost(spans: list[list], prefix: str) -> list[list]:
    """Spans named ``prefix*`` with no ancestor of the same prefix."""
    def has_same_ancestor(i: int) -> bool:
        p = spans[i][3]
        while p is not None:
            if spans[p][0].startswith(prefix):
                return True
            p = spans[p][3]
        return False

    return [sp for i, sp in enumerate(spans)
            if sp[0].startswith(prefix) and sp[2] is not None
            and not has_same_ancestor(i)]
