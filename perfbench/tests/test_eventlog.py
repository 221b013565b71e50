"""Event-log reader on a hand-written three-job log."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402


def _task(stage, run_ms, cpu_ns, gc_ms, shw, spill, inp, py_ms=None, acc_id=7):
    accs = []
    if py_ms is not None:
        accs.append({"ID": acc_id, "Name": "time to run Python workers",
                     "Update": str(py_ms), "Value": str(py_ms)})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shw},
                             "Input Metrics": {"Bytes Read": inp}}}


FIXTURE = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "sparkPlanInfo": {"nodeName": "MapInPandas", "children": [],
                       "metrics": [{"name": "time to run Python workers",
                                    "accumulatorId": 7, "metricType": "timing"}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "T/pass/ingest"}},
    _task(0, 1000, 2_000_000_000, 100, 1024 * 1024, 0, 2 * 1024 * 1024, py_ms=500),
    _task(0, 1000, 1_000_000_000, 0, 1024 * 1024, 0, 0, py_ms=250),
    _task(1, 500, 500_000_000, 0, 0, 3 * 1024 * 1024, 0),
    # stage 1 is skipped (re-listed) by the next job; its tasks already ran
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "T/pass/status"}},
    _task(2, 200, 100_000_000, 0, 0, 0, 0),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {"sql.streaming.queryId": "q-1"}},
    _task(3, 100, 0, 0, 0, 0, 0),
]


def _write(tmp_path, events):
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def test_groups_single_file(tmp_path):
    g = eventlog.read_groups(_write(tmp_path, FIXTURE))
    ing = g["T/pass/ingest"]
    assert ing["jobs"] == 1 and ing["tasks"] == 3
    assert abs(ing["run_s"] - 2.5) < 1e-9
    assert abs(ing["cpu_s"] - 3.5) < 1e-9
    assert abs(ing["gc_s"] - 0.1) < 1e-9
    assert abs(ing["python_run_s"] - 0.75) < 1e-9
    assert ing["shuffle_write_mb"] == 2 and ing["spill_mb"] == 3 and ing["input_mb"] == 2
    st = g["T/pass/status"]
    assert st["jobs"] == 1 and st["tasks"] == 1 and abs(st["cpu_s"] - 0.1) < 1e-9
    assert g["streaming"]["tasks"] == 1


def test_total_by_prefix_and_line(tmp_path):
    g = eventlog.read_groups(_write(tmp_path, FIXTURE))
    t = eventlog.total({k: v for k, v in g.items() if k.startswith("T/")})
    assert t["jobs"] == 2 and t["tasks"] == 4
    assert "T/pass/ingest[j=1 t=3" in eventlog.layer_line(g)
