"""Checks and sink figures over the mock Notion API's request log.

A record is ``[op, batch_id, block_index, t_arrive, t_depart, status,
conn, title]`` (see ``mock_notion.py``).  ``expected`` maps each staged
page's file name to ``(n_blocks, poison_index)``, where ``poison_index``
is the block the API rejects (None for a clean page).
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from urllib.parse import unquote

from bench_trace import covered_seconds


def page_name(title: str) -> str:
    return os.path.basename(unquote(title or ""))


def verify(records: list[list], expected: dict[str, tuple[int, int | None]],
           t0: float) -> dict:
    """Exactly-once, in-order appends per page; the poisoned block is the
    page's last attempt.  Returns ``problems`` (one string per failed
    check), ``done_s`` (burst start → last block acknowledged, one sample
    per clean page) and the outcome counts."""
    problems: list[str] = []
    batch_of: dict[str, str] = {}
    creates: dict[str, int] = defaultdict(int)
    for op, batch, _idx, _ta, _td, status, _conn, title in records:
        if op == "page" and status == 200:
            batch_of[page_name(title)] = batch
            creates[page_name(title)] += 1
    problems += [f"{name}: page created {n} times"
                 for name, n in sorted(creates.items()) if n > 1]
    acks: dict[str, list[tuple[float, float, int]]] = defaultdict(list)
    rejected: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for op, batch, idx, ta, td, status, _conn, _title in records:
        if op != "block":
            continue
        if status == 200:
            acks[batch].append((ta, td, idx))
        elif status != 429:
            rejected[batch].append((idx, status))
    done_s: list[float] = []
    n_ok = n_fail = 0
    for name, (n_blocks, poison) in sorted(expected.items()):
        batch = batch_of.get(name)
        if batch is None:
            problems.append(f"{name}: page never created")
            continue
        got = sorted(acks.get(batch, []))
        order = [idx for _ta, _td, idx in got]
        if len(order) != len(set(order)):
            problems.append(f"{name}: a block was appended twice")
        if order != sorted(order):
            problems.append(f"{name}: blocks appended out of order")
        want = n_blocks if poison is None else poison
        if set(order) != set(range(want)):
            problems.append(f"{name}: appended {len(set(order))} of {want} blocks")
        rej = rejected.get(batch, [])
        if poison is None:
            if rej:
                problems.append(f"{name}: unexpected rejections {rej[:3]}")
            elif got and set(order) == set(range(want)):
                n_ok += 1
                done_s.append(max(td for _ta, td, _idx in got) - t0)
        elif rej != [(poison, 400)]:
            problems.append(f"{name}: expected one 400 at block {poison}, got {rej[:3]}")
        else:
            n_fail += 1
    return {"problems": problems, "done_s": done_s, "pages_ok": n_ok,
            "pages_fail": n_fail}


def sink_figures(records: list[list], lo: float, hi: float) -> dict:
    """Request counts, 429s, idle time with nothing in flight over
    [lo, hi], per-connection skew and the median client gap."""
    per_conn: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for rec in records:
        per_conn[rec[6]].append((rec[3], rec[4]))
    counts = [len(v) for v in per_conn.values()]
    gaps = []
    for spans in per_conn.values():
        spans.sort()
        gaps += [b[0] - a[1] for a, b in zip(spans, spans[1:]) if b[0] >= a[1]]
    busy = covered_seconds([(r[3], r[4]) for r in records], lo, hi)
    return {
        "requests": len(records),
        "throttled": sum(1 for r in records if r[5] == 429),
        "idle_s": max(0.0, (hi - lo) - busy),
        "shard_skew": max(counts) / statistics.mean(counts) if counts else 0.0,
        "client_gap_ms": 1000 * statistics.median(gaps) if gaps else 0.0,
    }
