"""Process, Spark-session and measurement plumbing shared by the workloads.

Everything a run writes lives under ``<checkout>/.bench_build/perfbench``:
the corpus cache (kept across runs) and ``run/`` (emptied at the start of
every run). Spark's local dirs, the JVM's temp dir, the warehouse and the
event log are pointed there too, so a run touches nothing outside its
checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "medical_vector_database_ocr_ner_spark"
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_DIR = os.path.join(STATE, "run")
CLK_TCK = os.sysconf("SC_CLK_TCK")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"


def require_package() -> None:
    """Exit non-zero, printing no result, when the checkout lacks the
    package the benchmark drives."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.stderr.write(f"perfbench: package {PACKAGE!r} not found under {ROOT}\n")
        sys.exit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def fresh_run_dir() -> str:
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(os.path.join(RUN_DIR, "tmp"))
    return RUN_DIR


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])
        table[int(name)] = (int(fields[1]), ticks)
    return table


def tree_pids(table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (JVM, Python
    workers). A live process's cutime/cstime carry its reaped children, so
    the sum over the live tree counts every process that ever ran in it."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(table) if p in table) / CLK_TCK


def tree_pss_mb() -> float:
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PssSampler:
    """Samples the process tree's PSS every ``period`` seconds while
    ``active`` is set, so only operation time is sampled."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.samples: list[float] = []
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            if self.active.is_set():
                self.samples.append(tree_pss_mb())

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder. Spans carry (name, start, end, parent,
    op id); they are kept in a list and written out once at the end. A
    disabled tracer records nothing and costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.values: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def value(self, name: str, v: float) -> None:
        if self.enabled:
            self.values.setdefault(name, []).append(float(v))

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part covered
        by direct children (children never overlap: one thread)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            d = (s["end"] - s["start"]) * 1e3 - child_ms[i]
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "values": self.values}, f)


# ---------------------------------------------------------------- Spark


def spark_env() -> None:
    """Environment the JVM and Python workers inherit: temp files inside
    the checkout, driver heap kept small on a shared host."""
    tmp = os.path.join(RUN_DIR, "tmp")
    # tempfile caches its directory on first use; PySpark's gateway start
    # makes its connection-info directory there
    tempfile.tempdir = tmp
    os.environ.update({
        "TMPDIR": tmp,
        # the short-lived launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, os.path.dirname(os.path.abspath(__file__)),
             os.environ.get("PYTHONPATH", "")]),
    })


def start_spark(event_log_dir: str | None = None):
    from medical_vector_database_ocr_ner_spark.session import get_spark

    tmp = os.path.join(RUN_DIR, "tmp")
    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        # a fixed-size, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch): G1
        # otherwise grows and touches the heap by GC timing, which makes the
        # tree's PSS wander by up to a third from run to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; we kill it below
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait(timeout=20)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants()


def reap_descendants(timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# ---------------------------------------------------------------- stats


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default) of a non-empty list."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)
