"""Session set-up, process-tree memory sampling, spans and the Spark
event log: the parts every workload shares.

Nothing here imports the program at module load; ``run.py`` puts the
checkout on ``sys.path`` first.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import subprocess
import threading
import time

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
JVM_HEAP = "2g"  # -Xms = -Xmx: the heap never resizes mid-run
YOUNG_GEN = "512m"  # fixed, so G1 does not keep growing the touched young generation


def slots() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class Tracer:
    """In-memory spans ``(name, start, end, parent)``, written out once
    when the run ends. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter() - self._t0
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": time.perf_counter() - self._t0, "parent": parent}
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def timed(fn, *args, **kw) -> tuple[float, object]:
    t = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t, out


# -- memory ----------------------------------------------------------------

def _processes() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) for every process."""
    procs: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        procs[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return procs


def tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and its Python descendants, from ``/proc``.
    Other children are short-lived helpers the JVM forks (they briefly
    show the JVM's own pages) and are not counted."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, comm) in _processes().items():
        if comm.startswith("python"):
            kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_MB
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in _processes().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited; reaps it if it is our
    own exited child."""
    with contextlib.suppress(ChildProcessError):
        os.waitpid(pid, os.WNOHANG)
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def reap(pids: list[int], grace: float = 15.0) -> None:
    """Wait until every process in ``pids`` has ended. Those still
    running after ``grace`` seconds are killed, and waited for too."""
    deadline = time.monotonic() + grace
    killed = False
    while pids := [p for p in pids if _running(p)]:
        if not killed and time.monotonic() > deadline:
            for p in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            killed = True
        time.sleep(0.05)


class PeakRss:
    """Samples the JVM's process tree (driver JVM, Python daemon and
    workers) every ``period`` seconds while the block runs."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root = root_pid
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.root))


# -- Spark session -----------------------------------------------------------

def _report_worker(batches):
    """Warm-up UDF: imports the extraction path in the worker and
    reports which worker ran it and where the package came from."""
    import pandas as pd

    import gluon_ocr_spark
    import gluon_ocr_spark.operators.extract  # noqa: F401 - the import is the warm-up

    for _ in batches:
        time.sleep(0.2)  # hold the slot so every worker gets a task
        yield pd.DataFrame({"pid": [os.getpid()], "pkg": [os.path.dirname(gluon_ocr_spark.__file__)]})


class Spark:
    """Owns the benchmark's Spark session, with the steadiness settings
    fixed: ``local[nproc]``, fixed shuffle partitions, fixed JVM heap,
    a per-run ``spark.local.dir`` and temp dir inside the run dir."""

    def __init__(self, run_dir: str, pkg_dir: str, event_log: bool):
        self.run_dir = run_dir
        self.pkg_dir = pkg_dir
        self.event_log_dir = os.path.join(run_dir, "eventlog") if event_log else None
        self.session = None

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.driver.memory": JVM_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def start(self) -> dict:
        """Start a session and warm every Python worker; return the two
        set-up times."""
        from gluon_ocr_spark.session import make_session

        n = slots()
        t0 = time.perf_counter()
        self.session = make_session(
            app="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra=self.conf()
        )
        self.session.sparkContext.setLogLevel("FATAL")
        t1 = time.perf_counter()
        rows = (
            self.session.range(0, n, 1, n)
            .mapInPandas(_report_worker, "pid long, pkg string")
            .collect()
        )
        t2 = time.perf_counter()
        pkgs = {r["pkg"] for r in rows}
        if pkgs != {self.pkg_dir}:
            raise RuntimeError(f"Python workers imported gluon_ocr_spark from {sorted(pkgs)}, not {self.pkg_dir}")
        return {"session.start_s": t1 - t0, "setup.warmup_s": t2 - t1, "workers": len({r["pid"] for r in rows})}

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and every
        process it started (the Python daemon and its workers) ended."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        # before stopping: a stopped session's daemon and an exited JVM's children are no longer below it
        tree = descendants(gw.proc.pid) if gw is not None else []
        if self.session is not None:
            self.session.stop()
            self.session = None
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        reap(tree)

    def noop(self, df) -> None:
        """Run ``df`` to completion without writing anything."""
        df.write.format("noop").mode("overwrite").save()

    def job_count(self, group: str) -> int:
        return len(self.session.sparkContext.statusTracker().getJobIdsForGroup(group))

    def cached_mb(self) -> float:
        infos = self.session.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# -- Spark event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task run times per stage and shuffle bytes
    written. Read after the session stopped, so the log is complete."""
    events = []
    for parent, _dirs, files in os.walk(log_dir):
        for name in files:
            with open(os.path.join(parent, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    stage_group: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
    out: dict[str, dict] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_group:
            continue
        g = out.setdefault(stage_group[e["Stage ID"]], {"stages": {}, "shuffle_write_bytes": 0})
        m = e.get("Task Metrics") or {}
        g["stages"].setdefault(e["Stage ID"], []).append(m.get("Executor Run Time", 0) / 1000)
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def task_skew(group: dict) -> float:
    """Max / median task time of the group's busiest stage."""
    stage = max(group["stages"].values(), key=sum)
    med = median(stage)
    return max(stage) / med if med > 0 else 0.0
