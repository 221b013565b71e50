"""Pipeline benchmark: one command, two workloads, optional traced pass.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository.  The program is
never changed: every input is generated here from ``--seed``, the
program's public entry points are called as users call them, and every
output is checked against a sequential reference or the DuckDB oracle.

Per run: a set-up probe and the worker each cold-start a session
(process start → ready session; ``setup_s`` is the median of the two), the
worker generates its inputs, then repeats timed passes until ``--seconds``
have passed, the first in the cold session (a pass of either workload is
longer than the seconds in BENCHMARK.json, so a run makes one).  With
``--trace 1`` the worker adds an untraced warm pass and a traced one, and
the run reports per-layer metrics instead of the end-to-end ones.  The
last line of stdout is the JSON result; a human-readable report of every
metric precedes it.  The exit code is non-zero when any output check
fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from gen_dump import fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mediawiki_to_notion_spark"
WORKLOADS = ("pipeline", "corpus-queries")
DRIVER_MEMORY = "4g"       # fits a 15 GB host next to the Python workers
SETUP_TIMEOUT_S = 120
RUN_TIMEOUT_S = 170


def fail(msg: str, log=None) -> int:
    """Report a run that produced no result (the tail of the worker log,
    if any, goes first) and return the exit code for it."""
    if log is not None:
        log.flush()
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def code_files() -> list[str]:
    out = []
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__")))
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.halt = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
            rss[int(name)] = pages * self.page
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo += children.get(p, [])
        return total

    def run(self) -> None:
        while not self.halt.is_set():
            self.peak = max(self.peak, self.sample())
            self.halt.wait(self.interval)


def spawn(args: list[str], env: dict, cwd: str, stderr) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), *args],
                            env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=stderr,
                            text=True, start_new_session=True)


def stop(proc: subprocess.Popen) -> None:
    """Kill a child's whole process group (its JVM and Python workers) and wait."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    try:  # reap stragglers of the group (the JVM outlives a killed Python driver)
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def wait_ready(proc: subprocess.Popen, t_spawn: float, timeout: float) -> float:
    """Seconds from spawn to the worker's READY line."""
    timer = threading.Timer(timeout, lambda: stop(proc))
    timer.daemon = True
    timer.start()
    try:
        for line in proc.stdout:
            if line.strip() == "READY":
                return time.perf_counter() - t_spawn
    finally:
        timer.cancel()
    raise RuntimeError("worker exited before its session was ready")


def environment(work: str, trace: bool) -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the session factory sizes AQE from this dir's bytes: keep it inside
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "corpus"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    tmp = os.path.join(work, "tmp")
    submit = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    if trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
                   "--conf spark.eventLog.compress=false",
                   # one plain file, not Spark 4's default rolling directory
                   "--conf spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return env


def start_mock(work: str, log) -> tuple[subprocess.Popen, str]:
    port_file = os.path.join(work, "mock.port")
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "mock_notion.py"),
                             "--port-file", port_file], stdout=log, stderr=log,
                            start_new_session=True)
    deadline = time.time() + 20
    while not os.path.exists(port_file):
        if proc.poll() is not None or time.time() > deadline:
            stop(proc)
            raise RuntimeError("mock Notion API did not start")
        time.sleep(0.02)
    with open(port_file) as f:
        return proc, f"http://127.0.0.1:{f.read().strip()}"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def pandoc_present() -> bool:
    try:
        import pandoc  # noqa: F401
        return True
    except ImportError:
        return False


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        return fail(f"no {PACKAGE}/ package next to {os.path.basename(HERE)}/; "
                    "run from a checkout of the repository")

    t_run = time.time()
    load_start = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "corpus"):
        os.makedirs(os.path.join(work, d))
    env = environment(work, bool(a.trace))
    log = open(os.path.join(work, "worker.log"), "w")
    mock = worker = None
    rss = None
    try:
        # set-up sample 1: a probe that exits once its session is ready; it
        # writes no event log, so the traced pass reads the worker's alone
        t = time.perf_counter()
        probe = spawn(["--workload", a.workload, "--work", work, "--probe"],
                      environment(work, False), work, log)
        try:
            setup = [wait_ready(probe, t, SETUP_TIMEOUT_S)]
        finally:
            stop(probe)
        mock_url = ""
        if a.workload == "pipeline":
            mock, mock_url = start_mock(work, log)
        t = time.perf_counter()
        worker = spawn(["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", work, "--mock-url", mock_url], env, work, log)
        rss = RssSampler(worker.pid)
        rss.start()
        setup.append(wait_ready(worker, t, SETUP_TIMEOUT_S))  # set-up sample 2
        timer = threading.Timer(max(10.0, RUN_TIMEOUT_S - (time.time() - t_run)),
                                lambda: stop(worker))
        timer.daemon = True
        timer.start()
        result = None
        for line in worker.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[7:])
        timer.cancel()
        worker.wait()
        rss.halt.set()
        rss.join()
        if result is None or worker.returncode != 0:
            return fail(f"worker failed (exit {worker.returncode})", log)
        return report(a, result, setup, rss.peak, load_start, env)
    except RuntimeError as exc:
        return fail(str(exc), log)
    finally:
        for proc in (worker, mock):
            if proc is not None:
                stop(proc)
        if rss is not None:
            rss.halt.set()
        log.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def report(a, result: dict, setup: list[float], peak_rss: int, load_start: float,
           env: dict) -> int:
    import pyspark

    passes = result["passes"]
    walls = [r["wall_s"] for r in passes]
    lat = result["latencies"]
    problems = result["problems"]
    e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "cpu_s": (statistics.median(r["cpu_s"] for r in passes), "s"),
    }
    attempted = max(result["checks"], 1)
    # reported, not gated: wall time follows the host's CPU steal (up to 2x
    # between runs of the same code), a single pass's percentiles spread
    # about twice as much as its wall time, and JVM heap growth moves the
    # peak RSS
    extra = {"wall_s": (statistics.median(walls), "s"),
             "items_per_s": (statistics.median(r["items"] / r["wall_s"] for r in passes), "1/s"),
             "item_p50_s": (percentile(lat, 0.50), "s"),
             "item_p90_s": (percentile(lat, 0.90), "s"),
             "item_samples": (len(lat), "count"),
             "peak_rss_mb": (peak_rss / (1024 * 1024), "MB"),
             "failed_share": (len(problems) / attempted, "1")}
    if a.workload == "pipeline":
        for key, unit in (("api_calls_per_block", "1"), ("status_query_s", "s"),
                          ("dump_s", "s"), ("ingest_s", "s"), ("drain_s", "s"),
                          ("rounds", "count"), ("blocks", "count")):
            extra[key] = (statistics.median(r[key] for r in passes), unit)
    config = {
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": env["SPARK_DRIVER_MEMORY"],
        "nproc": cpus(), "pandoc": pandoc_present(),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "loadavg_1m_start": load_start,
        "code_fingerprint": fingerprint(code_files(), ROOT),
        "data_fingerprint": result["data_fingerprint"],
        "passes_wall_cpu_steal": [[round(r["wall_s"], 3), round(r["cpu_s"], 3),
                                   round(r["steal"], 4)] for r in passes],
        "setup_samples_s": [round(x, 3) for x in setup],
        "prepare_s": round(result["prepare_s"], 3), "timed_s": round(result["timed_s"], 3),
        "steal_share": round(result["steal_share"], 4),
    }
    print(f"# {a.workload} seed={a.seed} " + json.dumps(config))
    names = ({"items_per_s": "pages_per_s", "item_p50_s": "page_done_p50_s",
              "item_p90_s": "page_done_p90_s"} if a.workload == "pipeline" else
             {"items_per_s": "queries_per_s", "item_p50_s": "query_p50_s",
              "item_p90_s": "query_p90_s"})
    rows = [(k, v, unit) for k, (v, unit) in {**e2e, **extra}.items()]
    for k, v, unit in rows:
        alias = f" ({names[k]})" if k in names else ""
        print(f"{k:22s} {v:12.4f} {unit}{alias}")
    for msg in problems[:20]:
        print(f"FAILED CHECK: {msg}")
    if a.trace:
        t = result["traced"]
        print("# layers " + t["layer_line"])
        print("# self_s " + json.dumps(t["self_times"]))
        for k, v in t["metrics"].items():
            print(f"{k:40s} {v:12.4f}")
        t["metrics"].update({f"untraced.{k}": v for k, (v, _u) in extra.items()})
        metrics = spec_metrics("per_layer", t["metrics"])
    else:
        metrics = spec_metrics("end_to_end", {k: v for k, (v, _u) in e2e.items()})
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems), "metrics": metrics}))
    return 0 if not problems else 1


def spec_metrics(kind: str, values: dict[str, float]) -> dict[str, dict]:
    """Every ``kind`` metric of BENCHMARK.json with its unit, 0 where the
    layer did not run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec}


if __name__ == "__main__":
    sys.exit(main())
