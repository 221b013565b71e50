"""Span nesting across threads and the self-time arithmetic."""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench_trace  # noqa: E402


class FakeContext:
    """The two SparkContext calls the tracer makes."""

    def __init__(self) -> None:
        self.props: dict[str, str | None] = {}

    def getLocalProperty(self, key):  # noqa: N802 - SparkContext naming
        return self.props.get(key)

    def setLocalProperty(self, key, value):  # noqa: N802
        self.props[key] = value


def test_callback_thread_span_nests_under_the_open_span(tmp_path):
    tracer = bench_trace.Tracer(FakeContext(), str(tmp_path))

    def callback():  # a foreachBatch callback, on a thread of its own
        with tracer.span("ingest.batch"):
            with tracer.span("storage.append"):
                time.sleep(0.02)
            time.sleep(0.01)

    t0 = time.time()
    with tracer.span("pass"):
        with tracer.span("ingest"):
            th = threading.Thread(target=callback)
            th.start()
            th.join()
        with tracer.span("status"):
            time.sleep(0.01)
    wall = time.time() - t0
    with tracer.span("storage.read"):  # an output check after the pass
        time.sleep(0.01)
    assert len(tracer.spans) == 6
    tracer.spans = bench_trace.subtree(tracer.spans, "pass")

    names = [sp[0] for sp in tracer.spans]
    parent = {sp[0]: names[sp[3]] if sp[3] is not None else None for sp in tracer.spans}
    assert parent == {"pass": None, "ingest": "pass", "ingest.batch": "ingest",
                      "storage.append": "ingest.batch", "status": "pass"}
    batch = tracer.spans[names.index("ingest.batch")]
    assert tracer.group_of(names.index("ingest.batch")) == "T/pass/ingest/ingest.batch"
    selfs = bench_trace.self_times(tracer.spans)
    assert sum(selfs.values()) <= wall
    assert selfs["ingest.batch"] < batch[2] - batch[1]  # storage is not in it
    assert selfs["ingest"] < 0.01                       # the batch is not in it

