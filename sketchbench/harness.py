"""Benchmark plumbing shared by every workload.

- ``pin_environment`` / ``start_session`` / ``stop_session``: one pinned
  Spark configuration and process environment, so two checkouts run
  identically.  Everything the run writes lives under one work directory
  inside the benchmark's own tree.
- ``tail_stats`` / ``median``: the timing statistics the metrics use.
- ``tree_peak_rss``: VmHWM of this process and every descendant
  (the JVM and its Python workers), read from ``/proc``.
- ``Tracer``: in-memory spans around calls into the library's layers.
- ``SparkRest``: per-job stage and SQL metrics from the local UI's REST API.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import re
import statistics
import sys
import time
import urllib.request

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
# one core stays free for the driver process and the JVM's own threads:
# at local[4] on a 4-core host the run-to-run spread of job walls doubled
MAX_CORES = 3


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def pin_environment(workdir: str) -> None:
    """Process environment for the driver, the JVM and Python workers.
    Must run before numpy is imported and before the JVM starts."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": REPO_ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_LOCAL_IP": "127.0.0.1",
        # every JVM, the launcher's too: temp files here, no perf-data
        # files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # allocator: system pool for pyarrow, no glibc heap trimming, so
        # reused workers keep warm pages between tasks
        "ARROW_DEFAULT_MEMORY_POOL": "system",
        "MALLOC_TRIM_THRESHOLD_": "-1",
        "MALLOC_MMAP_THRESHOLD_": "134217728",
        "MALLOC_ARENA_MAX": "4",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })


def session_conf(workdir: str, ui: bool) -> dict:
    n = cores()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "sketchbench",
        "spark.driver.memory": "2g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.worker.reuse": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf["spark.ui.port"] = "0"
    return conf


def start_session(workdir: str, ui: bool):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_conf(workdir, ui).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop Spark, close the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # python workers and anything else still parented to us
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    kill_descendants()


def kill_descendants(timeout: float = 10.0) -> None:
    """SIGKILL every process below this one and wait until they are gone."""
    for pid in descendants(os.getpid()):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        if not descendants(os.getpid()):
            return
        time.sleep(0.1)


# ---- statistics ---------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_stats(walls: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns (value, percentile, sample count).  With n <= 10 samples no
    such percentile exists and the maximum is reported as p100."""
    xs = sorted(walls)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    idx = n - 11  # 0-based rank with exactly ten samples above it
    return xs[idx], 100.0 * (idx + 1) / n, n


def allowed_violations(q: int, delta: float) -> int:
    """Failures a per-query probability-``delta`` bound may show among q
    independent queries before the bound itself is in doubt (mean plus
    four standard deviations of the binomial, plus one)."""
    mean = q * delta
    return int(math.floor(mean + 4.0 * math.sqrt(mean * (1.0 - delta)) + 1.0))


# ---- memory -------------------------------------------------------------------


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    # the command name may hold spaces; the fields after ')' are fixed
    return int(raw[raw.rindex(")") + 2:].split()[1])


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = _ppid(int(d))
            if pp is not None:
                children.setdefault(pp, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss() -> dict[int, float]:
    """Peak resident MB of this process and each descendant, by pid."""
    me = os.getpid()
    return {p: _vm_hwm_kb(p) / 1024.0 for p in [me, *descendants(me)]}


# ---- tracing ------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end, parent span and job id.

    ``patch`` replaces a function or method on its owner with a wrapper
    that records a span around each call (and optional counts taken
    from the call's arguments and result); ``restore`` puts every
    original back.  Only the process that patched sees the wrappers."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """A span; a root span's name is the job id of everything under it."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "job": name if parent is None else self.spans[parent]["job"],
               "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def patch(self, owner, attr: str, name: str, count=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if count is not None:
                for k, v in count(args, kwargs, out).items():
                    tracer.add(k, v)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def times(self, job_prefix: str = "") -> tuple[dict, dict]:
        """(self seconds, inclusive seconds) per span name, over the spans
        below the root spans whose job id starts with ``job_prefix``."""
        child_sum = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        self_t: dict[str, float] = {}
        incl: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is None or not s["job"].startswith(job_prefix):
                continue
            d = s["end"] - s["start"]
            incl[s["name"]] = incl.get(s["name"], 0.0) + d
            self_t[s["name"]] = self_t.get(s["name"], 0.0) + d - child_sum[s["id"]]
        return self_t, incl


# ---- Spark REST metrics -----------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([-0-9.,]+)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a Spark SQL UI metric string: '53.9 MiB', '418 ms', or
    'total (min, med, max (stageId: taskId))\\n3.5 KiB (...)'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return val * _SIZE.get(unit, _TIME.get(unit, 1.0))


_PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to start Python workers": "python_worker_start_s",
    "time to initialize Python workers": "python_worker_init_s",
}


class SparkRest:
    """Reads the local UI's REST API (bound to 127.0.0.1) for the jobs of
    one job group: stage metrics summed over the group's stages, the
    longest task of each stage, and Python transport metrics from the SQL
    executions that ran those jobs."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_read = len(self._get("/sql?details=false&length=100000"))

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _executions(self, job_ids: set, deadline: float) -> list:
        """The SQL executions that ran these jobs, once they have ended
        (an execution's metrics are final only at its end).  Only the
        executions after those already read are fetched: the endpoint
        pages, 20 executions by default."""
        while job_ids:
            new = self._get(f"/sql?details=true&planDescription=false"
                            f"&offset={self._sql_read}&length=100000")
            ended = all(ex.get("status") != "RUNNING" for ex in new)
            if ended or time.monotonic() > deadline:
                if ended:
                    self._sql_read += len(new)
                return [ex for ex in new
                        if job_ids & {*ex.get("successJobIds", []), *ex.get("failedJobIds", []),
                                      *ex.get("runningJobIds", [])}]
            time.sleep(0.1)
        return []

    def group_metrics(self, group: str, wall: float, wait_s: float = 5.0,
                      none_s: float = 0.5) -> dict:
        """Metrics of the group's jobs.  The status store is fed
        asynchronously, so poll until every job and stage has finished;
        a group with no job after ``none_s`` ran in the driver alone."""
        t0 = time.monotonic()
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            waited = time.monotonic() - t0
            if not jobs and waited > none_s:
                stages = []
                break
            done = jobs and all(j["status"] != "RUNNING" for j in jobs)
            stages = []
            if done:
                for sid in sorted({s for j in jobs for s in j["stageIds"]}):
                    for att in self._get(f"/stages/{sid}?details=false"):
                        if att["status"] in ("COMPLETE", "FAILED"):
                            stages.append(att)
                # skipped stages never run and have no attempts to wait for
                done = all(a["status"] != "ACTIVE" for a in stages)
            if done or waited > wait_s:
                break
            time.sleep(0.1)
        m = {k: 0.0 for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                              "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                              "spill_bytes", "result_bytes", "longest_tasks_s",
                              *_PY_METRICS.values())}
        m["jobs"] = float(len(jobs))
        for a in stages:
            if not a["numCompleteTasks"]:
                continue
            m["stages"] += 1
            m["tasks"] += a["numCompleteTasks"]
            m["executor_run_s"] += a["executorRunTime"] / 1e3
            m["executor_cpu_s"] += a["executorCpuTime"] / 1e9
            m["jvm_gc_s"] += a["jvmGcTime"] / 1e3
            m["shuffle_read_bytes"] += a["shuffleReadBytes"]
            m["shuffle_write_bytes"] += a["shuffleWriteBytes"]
            m["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
            m["result_bytes"] += a["resultSize"]
            ts = self._get(f"/stages/{a['stageId']}/{a['attemptId']}/taskSummary?quantiles=1.0")
            m["longest_tasks_s"] += ts["duration"][0] / 1e3
        for ex in self._executions({j["jobId"] for j in jobs}, time.monotonic() + wait_s):
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = _PY_METRICS.get(metric["name"])
                    if key:
                        m[key] += parse_sql_metric(metric["value"])
        m["sched_overhead_s"] = wall - m["longest_tasks_s"]
        return m
