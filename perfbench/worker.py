"""One Spark session running one workload: timed passes, then a traced pass.

Started by ``run.py``, which times it from spawn to the ``READY`` line
(the set-up sample) and reads the ``RESULT <json>`` line at the end.
Everything else this process prints goes to stderr.

Workloads:

- ``pipeline``: the document pipeline as one flow.  ``cli process-dump``
  on a seeded dump, the ``.md`` tree synced flat into a staging dir (the
  ``aws s3 sync`` step), ``start_md_stream(available_now=True)``,
  ``drain`` through ``HttpTransport`` to the out-of-process mock Notion
  API, then the ``cli status`` read.
- ``corpus-queries``: a fixed set of registered queries, each built with
  ``QUERIES[name](spark, data_dir)`` and collected.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import io
import json
import os
import shutil
import statistics
import sys
import time

import bench_trace
import eventlog
import gen_corpus
import gen_dump
import mock_notion
import verify_log

# pipeline sizing: 1% of the pages are about 10x longer (97 blocks, two
# upload rounds at max_blocks=50); POISON pages end FAIL by design
DUMP_PAGES = 200
POISONED = 3
LONG_FACTOR = 8
MAX_BLOCKS = 50

CORPUS_DOCS = 600
CORPUS_VECS = 300
QUERY_SET = (
    # the in-scope direction-2 targets: build-bound, most of the wall time
    # passes in eager jobs before the action
    "dedup_substring_cut_exact",
    "dedup_substring_spans_token_exact",
    "dedup_survivorship",
    # the exact cosine GEMM
    "dedup_embedding_cosine",
    # hashing dedup
    "dedup_exact_hash",
    "dedup_minhash_lsh",
)
QUERY_MODULES = ("dedup", "dedup_ext")


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the driver, its
    JVM and the Python workers, exited children included.  Time the
    hypervisor gives to other guests is accounted as steal, not here."""
    sid = os.getsid(0)
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

def _expected_blocks(files: dict[str, bytes]) -> dict[str, tuple[int, int | None]]:
    """Sequential block parse of every expected ``.md``: name → (blocks,
    index of the block carrying POISON or None)."""
    from mediawiki_to_notion_spark.functions.markdown_blocks import (
        parse_markdown_blocks,
    )

    out = {}
    for rel, data in files.items():
        if not rel.endswith(".md"):
            continue
        blocks = parse_markdown_blocks(data.decode("utf-8"))
        poison = next((i for i, b in enumerate(blocks)
                       if "POISON" in json.dumps(b)), None)
        out[os.path.basename(rel)] = (len(blocks), poison)
    return out


def check_tree(outdir: str, expected: dict) -> list[str]:
    """Every expected file byte for byte, nothing extra, side-output counts."""
    import pyarrow.parquet as pq

    problems = []
    got = set()
    for root, dirs, files in os.walk(outdir):
        dirs[:] = [d for d in dirs if d != "_warnings"]
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), outdir)
            got.add(rel)
            want = expected["files"].get(rel)
            if want is None:
                problems.append(f"unexpected output {rel}")
            else:
                with open(os.path.join(root, f), "rb") as fh:
                    if fh.read() != want:
                        problems.append(f"{rel}: content differs")
    problems += [f"missing output {rel}" for rel in expected["files"] if rel not in got]
    for name, n in expected["side"].items():
        path = os.path.join(outdir, "_warnings", name)
        rows = pq.read_table(path).num_rows if os.path.isdir(path) else 0
        if rows != n:
            problems.append(f"_warnings/{name}: {rows} rows, expected {n}")
    return problems


class Pipeline:
    def __init__(self, spark, args) -> None:
        self.spark = spark
        self.args = args
        self.work = args.work
        self.mock = args.mock_url
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))

    def prepare(self) -> None:
        """The seeded dump and its expected output.  No warm-up: every
        ``cli`` command starts a cold session, so the timed pass is the
        session's first, as a user's is."""
        pages = gen_dump.make_pages(self.args.seed, DUMP_PAGES, LONG_FACTOR, POISONED)
        path = os.path.join(self.work, "dump.xml")
        gen_dump.write_dump(path, pages)
        self.main = gen_dump.expected_output(pages)
        self.main["dump"] = path
        self.main["blocks"] = _expected_blocks(self.main["files"])
        self.data_files = [path]

    def finish(self) -> tuple[list[str], int]:
        return [], 0

    def timed_pass(self, tag: str, tracer=None) -> dict:
        return self.run_pass(self.main, tag, tracer)

    @staticmethod
    def latencies(passes: list[dict]) -> list[float]:
        """Page-done samples of every pass, pooled."""
        return [x for r in passes for x in r["latencies"]]

    def run_pass(self, exp: dict, tag: str, tracer=None) -> dict:
        from mediawiki_to_notion_spark import cli
        from mediawiki_to_notion_spark.streaming import ingest as ING
        from mediawiki_to_notion_spark.streaming.http_transport import HttpTransport
        from mediawiki_to_notion_spark.streaming.upload import UploadConfig, drain

        base = os.path.join(self.work, tag)
        out, staged, tables = (os.path.join(base, d) for d in ("out", "staged", "tables"))
        mock_notion.fetch_log(self.mock)  # start from an empty request log
        status_out = io.StringIO()
        c0, t0 = session_cpu_s(), time.time()
        with _span(tracer, "pass"):
            with contextlib.redirect_stdout(sys.stderr):
                cli.main(["process-dump", "-outdir", out, exp["dump"]])
            t_dump = time.time()
            with _span(tracer, "sync"):
                os.makedirs(staged)
                for ns in ("Main", "Category"):
                    src = os.path.join(out, ns)
                    for f in sorted(os.listdir(src)) if os.path.isdir(src) else ():
                        shutil.copyfile(os.path.join(src, f), os.path.join(staged, f))
            t_sync = time.time()
            with _span(tracer, "ingest"):
                ING.start_md_stream(
                    self.spark, staged, tables,
                    checkpoint_dir=os.path.join(tables, "_checkpoints", "ingest"),
                    available_now=True,
                ).awaitTermination()
            t_ingest = time.time()
            rounds = drain(self.spark, tables, UploadConfig(
                transport=HttpTransport(self.mock), max_blocks=MAX_BLOCKS,
                upload_parallelism=self.cpus))
            t_drain = time.time()
            with _span(tracer, "status"), contextlib.redirect_stdout(status_out):
                cli.main(["status", "--tables", tables])
            t_end = time.time()
        cpu = session_cpu_s() - c0

        # -- checks (untimed) --
        problems = check_tree(out, exp)
        records = mock_notion.fetch_log(self.mock)
        v = verify_log.verify(records, exp["blocks"], t0)
        problems += v["problems"]
        poisoned = {n for n, (_b, p) in exp["blocks"].items() if p is not None}
        n_pages = len(exp["blocks"])
        counts, failure_keys = {}, []
        for line in status_out.getvalue().splitlines():
            if line.startswith("FAILURE "):
                failure_keys.append(verify_log.page_name(line[8:].split(": ", 1)[0]))
            elif line.split():
                counts[line.split()[0]] = int(line.split()[1])
        want = {"SUCCESS": n_pages - len(poisoned)}
        if poisoned:
            want["FAIL"] = len(poisoned)
        if counts != want:
            problems.append(f"status counts {counts}, expected {want}")
        if sorted(failure_keys) != sorted(poisoned):
            problems.append(f"failure rows {sorted(failure_keys)}, expected {sorted(poisoned)}")
        stored = ING.blocks_table(self.spark, tables).read().count()
        want_blocks = sum(b for b, _p in exp["blocks"].values())
        if stored != want_blocks:
            problems.append(f"blocks stored {stored}, expected {want_blocks}")
        sink = verify_log.sink_figures(records, t_ingest, t_drain)
        shutil.rmtree(base, ignore_errors=True)
        return {
            "wall_s": t_end - t0, "cpu_s": cpu, "items": v["pages_ok"] + v["pages_fail"],
            "latencies": v["done_s"], "problems": problems,
            "checks": len(exp["files"]) + len(exp["side"]) + n_pages + 3,
            "dump_s": t_dump - t0, "ingest_s": t_ingest - t_sync,
            "drain_s": t_drain - t_ingest,
            "status_query_s": t_end - t_drain, "rounds": rounds,
            "blocks": stored, "api_calls_per_block": len(records) / max(stored, 1),
            "sink": sink, "window": (t0, t_end),
            "md_bytes": sum(len(d) for r, d in exp["files"].items() if r.endswith(".md")),
        }

    # -- traced pass ----------------------------------------------------------

    def install(self, tracer) -> None:
        from mediawiki_to_notion_spark import cli, storage
        from mediawiki_to_notion_spark.functions import wikitext
        from mediawiki_to_notion_spark.plans import pipeline as P
        from mediawiki_to_notion_spark.sources import xml_dump
        from mediawiki_to_notion_spark.streaming import ingest as ING
        from mediawiki_to_notion_spark.streaming import upload

        def splits(_args, result):
            tracer.count("xml_dump.splits", len(result))

        def segments(args, written):
            import pyarrow.parquet as pq

            table, n = args[0], args[2]
            for k in written:
                seg = table._seg_dir(k, n)
                for f in os.listdir(seg):
                    if f.endswith(".parquet"):
                        p = os.path.join(seg, f)
                        tracer.count("storage.files_written")
                        tracer.count("storage.bytes_written", os.path.getsize(p))
                        tracer.count("storage.rows_written", pq.read_metadata(p).num_rows)

        def rounds(_args, result):
            tracer.count("upload.rounds", result)

        tracer.wrap(cli, "cmd_process_dump", "process_dump")
        tracer.wrap(cli, "_report_side_output", "process_dump.side_output")
        tracer.wrap(cli, "read_dump", "xml_dump.plan")
        tracer.wrap(xml_dump, "plan_splits", "xml_dump.plan_splits", after=splits)
        frame = type(self.spark.range(0))
        orig_fp = frame.foreachPartition

        def foreach_partition(df, f):
            with tracer.span(f"process_dump.{getattr(f, '__name__', 'foreach')}"):
                return orig_fp(df, f)

        tracer.patch(frame, "foreachPartition", foreach_partition)
        tracer.wrap(ING, "ingest_batch", "ingest.batch")
        for op in ("upsert", "append", "overwrite", "read"):
            tracer.wrap(storage.ParquetTable, op, f"storage.{op}")
        tracer.wrap(storage.ParquetTable, "_commit", "storage.commit",
                    after=lambda _a, _r: tracer.count("storage.commits"))
        tracer.wrap(storage.ParquetTable, "_write_segments", "storage.write_segments",
                    after=segments)
        tracer.wrap(upload, "drain", "upload.drain", after=rounds)
        tracer.wrap(upload, "run_upload", "upload.round")
        tracer.wrap(upload, "pending_blocks", "upload.pending_blocks")
        # worker-side layers; the fencer UDF is built lazily from
        # _fence_series, so drop the cached one on install and restore
        tracer.wrap_worker(xml_dump, "_parse_splits", "xml_dump")
        tracer.wrap_worker(wikitext, "_fence_series", "prepare", scalar=True)
        tracer.wrap_worker(cli, "convert_batches", "convert")
        tracer.wrap_worker(P, "markdown_to_block_rows", "ingest.blocks")
        orig_mw = upload._make_worker
        tracer.patch(upload, "_make_worker", lambda cfg: bench_trace._iter_timer(
            orig_mw(cfg), "upload.worker", tracer.trace_dir))
        tracer.patch(wikitext, "_FENCE_UDF", None)

    def layers(self, tracer, res: dict, groups: dict) -> dict:
        spans, wr, c = tracer.spans, tracer.worker_records(), tracer.counters

        def worker(layer):
            recs = [r for r in wr if r[0] == layer]
            busy = bench_trace.covered_seconds([(r[1], r[2]) for r in recs], *res["window"])
            return busy, sum(r[4] for r in recs), sum(r[5] for r in recs), sum(r[6] for r in recs)

        xml_busy, _xml_self, xml_in, xml_pages = worker("xml_dump")
        prep_busy, prep_self, _, _ = worker("prepare")
        conv_busy, conv_self, _, _ = worker("convert")
        _, parse_self, _, _ = worker("ingest.blocks")
        _, upload_self, _, _ = worker("upload.worker")
        ingest_s = sum(bench_trace.durations(spans, "ingest"))
        store = bench_trace.outermost(spans, "storage.")
        rounds = bench_trace.durations(spans, "upload.round")

        def g(prefixes, field="jobs"):
            return sum(v[field] for k, v in groups.items()
                       if any(k.startswith(p) for p in prefixes))

        # the text source is read inside the micro-batch's table write, so
        # every job under the ingest span counts
        ingest_in = g(("T/pass/ingest",), "input_mb")
        return {
            "xml_dump.busy_s": xml_busy,
            "xml_dump.parse_passes": xml_in / max(c.get("xml_dump.splits", 0), 1),
            "xml_dump.pages_per_busy_s": xml_pages / xml_busy if xml_busy else 0.0,
            "prepare.busy_s": prep_busy, "prepare.python_s": prep_self,
            "convert.busy_s": conv_busy, "convert.python_s": conv_self,
            "process_dump.jobs": g(("T/pass/process_dump",)),
            "process_dump.md_write_s": sum(bench_trace.durations(spans, "process_dump.write_md")),
            "process_dump.side_output_s": sum(bench_trace.durations(spans, "process_dump.side_output")),
            "ingest.busy_s": ingest_s,
            "ingest.jobs": g(("T/pass/ingest",)),
            "ingest.read_amplification": ingest_in * 1024 * 1024 / max(res["md_bytes"], 1),
            "ingest.blocks_per_busy_s": res["blocks"] / ingest_s if ingest_s else 0.0,
            "ingest.parse_python_s": parse_self,
            "storage.calls": len(store),
            "storage.busy_s": sum(e - s for _n, s, e, _p in store),
            "storage.commits": c.get("storage.commits", 0),
            "storage.files_written": c.get("storage.files_written", 0),
            "storage.bytes_written_per_row": (c.get("storage.bytes_written", 0)
                                              / max(c.get("storage.rows_written", 0), 1)),
            "upload.rounds": c.get("upload.rounds", 0),
            "upload.round_p50_s": statistics.median(rounds) if rounds else 0.0,
            "upload.sink_idle_s": res["sink"]["idle_s"],
            "upload.shard_skew": res["sink"]["shard_skew"],
            "upload.worker_python_s": upload_self,
            "sink.requests": res["sink"]["requests"],
            "sink.throttled": res["sink"]["throttled"],
            "sink.client_gap_ms": res["sink"]["client_gap_ms"],
            "sink.api_calls_per_block": res["api_calls_per_block"],
            "status.query_s": res["status_query_s"],
        }


# ---------------------------------------------------------------------------
# corpus-queries
# ---------------------------------------------------------------------------

class CorpusQueries:
    def __init__(self, spark, args) -> None:
        self.spark = spark
        self.args = args
        self.data = os.path.join(args.work, "corpus")

    def prepare(self) -> None:
        """Write the corpus and keep each query's DuckDB oracle rows to
        check every timed pass against.  No Spark work: the timed pass is
        the session's first, so its number does not depend on how far a
        warm-up got."""
        from mediawiki_to_notion_spark import oracle
        from mediawiki_to_notion_spark.operators.registry import ORACLES

        gen_corpus.write_corpus(self.data, self.args.seed, CORPUS_DOCS, CORPUS_VECS)
        self.data_files = [os.path.join(self.data, f) for f in sorted(os.listdir(self.data))]
        self.expected = {}
        con = oracle.duckdb_connection(self.data)
        for name in QUERY_SET:
            rel = con.sql(ORACLES[name])
            self.expected[name] = oracle._rows_to_multiset(
                [c.lower() for c in rel.columns], rel.fetchall())
        con.close()

    def finish(self) -> tuple[list[str], int]:
        """The once-per-session ``oracle.compare`` of every query, after
        the timed passes, on the last pass's frames: the build phase does
        not run again, only the action."""
        from mediawiki_to_notion_spark import oracle
        from mediawiki_to_notion_spark.operators.registry import ORACLES

        problems = []
        for name, df in self.frames.items():
            t = time.time()
            res = oracle.compare(self.spark, lambda _s, _d, df=df: df, ORACLES[name], self.data)
            if not res["match"]:
                problems.append(f"{name}: oracle mismatch {res}")
            self.spark.catalog.clearCache()
            log(f"  oracle {name}: {time.time() - t:.3f}s match={res['match']}")
        return problems, len(self.frames)

    def timed_pass(self, tag: str, tracer=None) -> dict:
        from mediawiki_to_notion_spark import oracle
        from mediawiki_to_notion_spark.operators.registry import QUERIES

        problems, per_query, self.frames = [], {}, {}
        c0, t0 = session_cpu_s(), time.time()
        with _span(tracer, "pass"):
            for name in QUERY_SET:
                t = time.time()
                with _span(tracer, f"q.{name}.build"):
                    df = QUERIES[name](self.spark, self.data)
                tb = time.time()
                with _span(tracer, f"q.{name}.action"):
                    rows = df.collect()
                ta = time.time()
                cols = [c.lower() for c in df.columns]
                if oracle._rows_to_multiset(cols, [tuple(r) for r in rows]) != self.expected[name]:
                    problems.append(f"{name}: rows differ from the oracle")
                self.spark.catalog.clearCache()
                log(f"  {name}: build {tb - t:.3f}s action {ta - tb:.3f}s")
                per_query[name] = (tb - t, ta - tb)
                self.frames[name] = df
        t_end = time.time()
        return {"wall_s": t_end - t0, "cpu_s": session_cpu_s() - c0, "items": len(QUERY_SET),
                "problems": problems, "checks": len(QUERY_SET), "per_query": per_query,
                "window": (t0, t_end)}

    @staticmethod
    def latencies(passes: list[dict]) -> list[float]:
        """One sample per query: its median build + action time over passes."""
        return [statistics.median(sum(r["per_query"][name]) for r in passes)
                for name in QUERY_SET]

    def install(self, tracer) -> None:
        pass

    def layers(self, tracer, res: dict, groups: dict) -> dict:
        out = {}
        b_tot = a_tot = jobs_tot = 0.0
        for name in QUERY_SET:
            b, a = res["per_query"][name]
            jobs = groups.get(f"T/pass/q.{name}.build", {}).get("jobs", 0)
            out[f"q.{name}.build_s"] = b
            out[f"q.{name}.action_s"] = a
            out[f"q.{name}.build_jobs"] = jobs
            b_tot, a_tot, jobs_tot = b_tot + b, a_tot + a, jobs_tot + jobs
        out.update({"queries.build_s": b_tot, "queries.action_s": a_tot,
                    "queries.build_jobs": jobs_tot,
                    "queries.build_share": b_tot / (b_tot + a_tot) if b_tot + a_tot else 0.0})
        return out


WORKLOADS = {"pipeline": Pipeline, "corpus-queries": CorpusQueries}


# ---------------------------------------------------------------------------

def traced(wl, spark, work: str) -> dict:
    """An untraced warm pass as the baseline, then one pass with wrappers
    and job groups, then the event log."""
    base = wl.timed_pass("base")
    tracer = bench_trace.Tracer(spark.sparkContext, os.path.join(work, "trace"))
    wl.install(tracer)
    try:
        res = wl.timed_pass("traced", tracer)
    finally:
        tracer.restore()
    # the pass's own spans only: its output checks read tables through
    # wrapped storage calls too
    tracer.spans = bench_trace.subtree(tracer.spans, "pass")
    spark.stop()
    [log_file] = os.listdir(os.path.join(work, "eventlog"))  # this session's only
    groups = eventlog.read_groups(os.path.join(work, "eventlog", log_file))
    traced_groups = {k: v for k, v in groups.items() if k.startswith(bench_trace.GROUP_PREFIX)}
    lo, hi = res["window"]
    inner = [(s, e) for n, s, e, _p in tracer.spans if n != "pass" and e is not None]
    spk = eventlog.total(traced_groups)
    selfs = bench_trace.self_times(tracer.spans)

    def self_sum(pred):
        return sum(v for k, v in selfs.items() if pred(k))

    metrics = {
        "trace.wall_s": res["wall_s"],
        "trace.overhead_s": res["wall_s"] - base["wall_s"],
        "trace.uncovered_share": 1 - bench_trace.covered_seconds(inner, lo, hi) / (hi - lo),
        "spark.jobs": spk["jobs"], "spark.tasks": spk["tasks"],
        "spark.executor_cpu_s": spk["cpu_s"], "spark.gc_s": spk["gc_s"],
        "spark.python_worker_s": spk["python_run_s"],
        "spark.shuffle_write_mb": spk["shuffle_write_mb"], "spark.spill_mb": spk["spill_mb"],
        "self.process_dump_s": self_sum(lambda k: k.startswith(("process_dump", "xml_dump"))),
        "self.ingest_s": self_sum(lambda k: k.startswith("ingest")),
        "self.storage_s": self_sum(lambda k: k.startswith("storage.")),
        "self.upload_s": self_sum(lambda k: k.startswith("upload.")),
        "self.status_s": self_sum(lambda k: k == "status"),
        "self.queries_s": self_sum(lambda k: k.startswith("q.")),
    }
    metrics.update(wl.layers(tracer, res, traced_groups))
    return {"metrics": metrics, "problems": base["problems"] + res["problems"],
            "checks": base["checks"] + res["checks"],
            "self_times": {k: round(v, 4) for k, v in sorted(selfs.items())},
            "layer_line": eventlog.layer_line(traced_groups)}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--mock-url", default="")
    p.add_argument("--probe", action="store_true", help="exit once the session is ready")
    a = p.parse_args()

    from mediawiki_to_notion_spark.session import get_spark

    spark = get_spark("perfbench")
    if a.workload == "corpus-queries":
        # the modules defining the query set, not registry.load_all():
        # that also imports pipeline_queries, whose import reads the
        # engine's own test data from outside the checkout
        for module in QUERY_MODULES:
            importlib.import_module(f"mediawiki_to_notion_spark.operators.{module}")
    print("READY", flush=True)
    if a.probe:
        os._exit(0)  # run.py kills the process group, JVM included

    wl = WORKLOADS[a.workload](spark, a)
    t_ready = time.time()
    wl.prepare()
    passes = []
    t_begin, ticks = time.time(), cpu_ticks()
    while not passes or time.time() - t_begin < a.seconds:
        tk = cpu_ticks()
        res = wl.timed_pass(f"p{len(passes)}")
        tk_end = cpu_ticks()
        res["steal"] = (tk_end[1] - tk[1]) / max(tk_end[0] - tk[0], 1)
        log(f"pass {len(passes)}: wall {res['wall_s']:.3f}s cpu {res['cpu_s']:.3f}s "
            f"steal {res['steal']:.3f} problems {len(res['problems'])}")
        passes.append(res)
    t_end, ticks_end = time.time(), cpu_ticks()
    problems, checks = wl.finish()
    for res in passes:
        problems += res["problems"]
        checks += res["checks"]
    out = {"passes": [{k: v for k, v in r.items()
                       if k not in ("latencies", "problems", "window", "per_query")}
                      for r in passes],
           "latencies": wl.latencies(passes),
           "data_fingerprint": gen_dump.fingerprint(wl.data_files, a.work),
           "prepare_s": t_begin - t_ready, "timed_s": t_end - t_begin,
           # CPU time the hypervisor gave to other guests while passes ran
           "steal_share": (ticks_end[1] - ticks[1]) / max(ticks_end[0] - ticks[0], 1)}
    if a.trace:
        t = traced(wl, spark, a.work)
        problems += t["problems"]
        checks += t["checks"]
        out["traced"] = t
    out["problems"] = problems
    out["checks"] = checks
    print("RESULT " + json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
