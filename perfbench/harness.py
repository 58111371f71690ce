"""Session shape, timing loop, RSS sampling and the layer tracer.

Everything here is workload-agnostic; ``workloads.py`` holds the three
workloads. Nothing in this module is imported by the package under
test.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb() -> int:
    """A third of host memory, clamped to [4, 16] GB: ``build_session``
    asks for 16 GB (more than small hosts have) and pre-touches a 4 GB
    minimum heap, so the heap may not go below 4 GB."""
    return max(4, min(16, int(host_mem_gb() // 3)))


def start_session(root: str, work: str, cpus: int):
    """``plans.job.build_session`` with the host-derived fixes passed
    through ``extra_conf``; the package itself is not modified."""
    from html_to_document_spark.plans.job import build_session

    return build_session(
        cpus=cpus,
        app="perfbench",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.driver.memory": f"{driver_heap_gb()}g",
            "spark.ui.showConsoleProgress": "false",
            # Python workers do not inherit the driver's sys.path
            "spark.executorEnv.PYTHONPATH": root,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM gateway down and wait for it and every
    Python worker it forked to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # workers orphaned by the JVM's exit are no longer our descendants,
    # so wait on every pid that was running before the stop
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# /proc sampling (psutil is not installed)
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, rss pages, command name) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces; fields after the closing paren are fixed
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(name)] = (int(fields[1]), int(fields[21]), comm)
    return table


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for p, (pp, _, _) in table.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers (this
    process's ``java`` and ``python*`` descendants), sampled every
    ``period`` seconds while running. Other descendants are left out:
    a helper the JVM spawns briefly reports the JVM's whole RSS until
    it execs."""

    PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        table = _proc_table()
        pages = sum(
            table[p][1] for p in descendants(os.getpid(), table)
            if table[p][2] == "java" or table[p][2].startswith("python")
        )
        self.peak_mb = max(self.peak_mb, pages * self.PAGE_MB)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); a single sample is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into each layer.

    Each span runs its Spark work under its own job group
    (``setJobGroup``), so the jobs it launched, and their seconds, are
    read back from Spark's status store after the span closes. Spans
    stay in memory until :meth:`dump`.
    """

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}:{idx}:{name}"
        rec = {
            "run_id": self.run_id, "id": idx, "name": name,
            "parent": parent, "group": group,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                sc._jsc.clearJobGroup()
            else:
                up = self.spans[parent]
                sc.setJobGroup(up["group"], up["name"])
            rec.update(self._jobs_of(group))

    def _jobs_of(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        ids = sc.statusTracker().getJobIdsForGroup(group)
        secs = 0.0
        for jid in ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                secs += (done.get().getTime() - sub.get().getTime()) / 1000.0
        return {"jobs": len(ids), "job_s": secs}

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
