"""Session lifecycle, process-tree monitoring, the tail statistic and the tracer.

Everything here is measurement plumbing around the engine's public
surface; nothing in it changes how a query runs. The tracer is only
constructed for ``--trace 1`` runs: untraced runs set no job groups,
keep no event log and poll no status tracker.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Harness confs: keep every file inside ``work``, no UI, no progress bar.

    Everything else, the driver heap and the shuffle partitions included,
    is the engine's own default (``session._DEFAULTS``), as ``cli.main``
    gets it.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            # zstandard (the default codec's Python reader) is absent
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(app: str, cpus: int, work: str, trace: bool):
    from big_data_in_agriculture_spark.session import get_spark

    spark = get_spark(app, master=f"local[{cpus}]",
                      extra_conf=session_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    alive = [p for p in started if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                tail = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(stat.split("/")[2])] = int(tail[1])
    return out


def descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for pid, ppid in _parents().items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class TreeMonitor:
    """Sample the peak RSS of this process and all descendants in a thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest percentile with ``beyond`` samples above it."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1]


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class NullTracer:
    """Stand-in for untraced runs: no job groups, no spans, no polling."""

    enabled = False

    def span(self, name: str, req: str | None = None, **attrs):
        return nullcontext({})

    def request(self, req: str, name: str):
        return nullcontext({})


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A request's spans share its id, which is also the Spark job group, so
    status-tracker job/stage/task counts and event-log task metrics are
    attributed to it. Spans are written out once, at the end of the run.
    """

    enabled = True

    def __init__(self) -> None:
        self.sc = None  # bound to the traced session by ``bind``
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "req": req,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def request(self, req: str, name: str):
        self.sc.setJobGroup(req, name)
        try:
            with self.span("request", req=req, request=name) as rec:
                yield rec
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)

    def jobs(self, req: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(req))

    def stage_counts(self, job_ids: list[int]) -> tuple[int, int]:
        """(stages that ran tasks, tasks completed) for the given jobs."""
        st = self.sc.statusTracker()
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si and si.numCompletedTasks:
                    stages += 1
                    tasks += si.numCompletedTasks
        return stages, tasks


def event_log_task_metrics(events_dir: str) -> dict[str, dict]:
    """Per job group: summed task metrics from the uncompressed event log.

    Returns ``{group: {run_s, cpu_s, gc_s, input_mb, input_records,
    shuffle_read_mb, shuffle_write_mb, records_written, tasks,
    stage_run_s: {stage: [task run s...]}}}``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    # a rolling log is a directory of events_<n>_<app> files beside an
    # appstatus marker and .crc checksums
    paths = [os.path.join(d, f) for d, _, files in os.walk(events_dir)
             for f in files if not f.startswith((".", "appstatus"))]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out.setdefault(group, {
                        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "input_mb": 0.0, "input_records": 0,
                        "shuffle_read_mb": 0.0,
                        "shuffle_write_mb": 0.0, "records_written": 0,
                        "tasks": 0,
                        "stage_run_s": defaultdict(list),
                    })
                    run = m.get("Executor Run Time", 0) / 1e3
                    g["run_s"] += run
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    im = m.get("Input Metrics") or {}
                    g["input_mb"] += im.get("Bytes Read", 0) / 1e6
                    g["input_records"] += im.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / 1e6
                    g["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
                    g["records_written"] += (m.get("Output Metrics") or {}).get(
                        "Records Written", 0)
                    g["tasks"] += 1
                    g["stage_run_s"][ev["Stage ID"]].append(run)
    return out


def worst_stage_skew(stage_runs: list[list[float]], min_tasks: int = 2) -> float:
    """max/median task run time in the most skewed stage (≥ min_tasks tasks)."""
    worst = 1.0
    for runs in stage_runs:
        if len(runs) >= min_tasks:
            med = statistics.median(runs)
            if med > 0:
                worst = max(worst, max(runs) / med)
    return worst
