"""Per-layer instruments the benchmark wraps around the engine's public
functions: spans, a /proc memory sampler, a counting ``load_table``
wrapper, a timing sink wrapper and a reader for Spark's monitoring REST
API. Nothing here changes what the engine computes."""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading
import time
import urllib.request

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans held in memory: name, start, end, parent span, attributes.
    Times are ``time.time()`` seconds so they line up with Spark's own
    timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return sid

    def open(self, name: str, parent: int | None = None, **attrs) -> dict:
        span = {"id": next(self._ids), "parent": parent, "name": name, "start": time.time(), **attrs}
        self.spans.append(span)
        return span

    @staticmethod
    def close(span: dict) -> None:
        span["end"] = time.time()


def _children(pid_of: dict[int, int], root: int) -> set[int]:
    out, frontier = set(), {root}
    while frontier:
        frontier = {p for p, pp in pid_of.items() if pp in frontier} - out
        out |= frontier
    return out


def _proc_table() -> tuple[dict[int, int], dict[int, str]]:
    """Parent pid and command name of every process."""
    parents, comm = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parents[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
        comm[int(entry)] = stat[stat.index("(") + 1 : stat.rindex(")")]
    return parents, comm


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _heap_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


class ProcSampler:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and the Python workers it forks) every ``interval`` seconds while
    active. The benchmark's own Python process is not counted.

    ``heap_after_gc`` is the driver JVM's heap still in use after the last
    garbage collection before the sampler stopped: what the engine keeps,
    where RSS counts the committed heap."""

    def __init__(self, spark, interval: float = 0.2) -> None:
        self.spark = spark
        self.interval = interval
        self.peak_total = 0
        self.peak_jvm = 0
        self.heap_after_gc = 0
        self.max_python = 0
        self.samples = 0
        self.host_busy = self.host_steal = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        parents, comms = _proc_table()
        total = jvm = py = 0
        for pid in _children(parents, os.getpid()):
            comm, rss = comms.get(pid, ""), _rss(pid)
            total += rss
            if comm == "java":
                jvm += rss
            elif comm.startswith("python"):
                py += 1
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.max_python = max(self.max_python, py)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    @staticmethod
    def _cpu_ticks() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def __enter__(self) -> "ProcSampler":
        self._stop.clear()
        self._ticks = self._cpu_ticks()
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
        self.heap_after_gc = sum(
            u.getUsed() for u in (p.getCollectionUsage() for p in _heap_pools(self.spark)) if u
        )
        d = [b - a for a, b in zip(self._ticks, self._cpu_ticks())]
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        self.host_busy = 1 - (d[3] + d[4]) / max(1, sum(d))
        self.host_steal = d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


class LoadTableCounter:
    """Wraps ``catalog.load_table`` everywhere the package bound it, and
    counts calls, time spent, and calls that returned a DataFrame object
    already handed out before (by a wrapped call or in ``seen``, the frames
    the set-up loaded): the memo hits."""

    def __init__(self, seen: list) -> None:
        self.calls = 0
        self.hits = 0
        self.seconds = 0.0
        self._seen: dict[int, object] = {id(df): df for df in seen}
        self._patched: list[tuple[object, object]] = []

    def install(self, package: str) -> None:
        from etl_gcp_function_tmabrasil_spark import catalog

        original = catalog.load_table

        def load_table(spark, sf_dir, name, *args, **kwargs):
            t0 = time.perf_counter()
            df = original(spark, sf_dir, name, *args, **kwargs)
            self.seconds += time.perf_counter() - t0
            self.calls += 1
            if id(df) in self._seen:
                self.hits += 1
            self._seen[id(df)] = df  # keep alive so ids are not reused
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(package) and getattr(
                mod, "load_table", None
            ) is original:
                self._patched.append((mod, original))
                mod.load_table = load_table

    def uninstall(self) -> None:
        for mod, original in self._patched:
            mod.load_table = original
        self._patched.clear()


class TimedSink:
    """Delegates to a sink and records every ``write``/``read`` call:
    table and wall-clock start/end. It only reads the clock, so it is the
    same in traced and untraced runs; ``ingest.drain`` attributes the
    written files to the calls after the drain."""

    def __init__(self, sink) -> None:
        self.sink = sink
        self.calls: list[dict] = []

    def write(self, df, table: str, mode: str = "append", partition_by: str | None = None) -> str:
        t0 = time.time()
        out = self.sink.write(df, table, mode=mode, partition_by=partition_by)
        self.calls.append({"op": "write", "table": table, "start": t0, "end": time.time()})
        return out

    def read(self, spark, table: str):
        t0 = time.time()
        try:
            return self.sink.read(spark, table)
        finally:
            self.calls.append({"op": "read", "table": table, "start": t0, "end": time.time()})

    def exists(self, spark, table: str) -> bool:
        return self.sink.exists(spark, table)


class SparkRest:
    """Reads jobs and stages from the driver's monitoring REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, job_ids: set[int], timeout: float = 30.0) -> list[dict]:
        """Jobs once every id in ``job_ids`` has finished in the UI store
        (the listener bus updates it asynchronously)."""
        deadline = time.time() + timeout
        while True:
            jobs = self._get("/jobs")
            done = {j["jobId"] for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")}
            if job_ids <= done or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def stages(self) -> list[dict]:
        return self._get("/stages")


def descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    parents, _ = _proc_table()
    return _children(parents, os.getpid())


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL stragglers
    after ``timeout`` seconds."""
    deadline = time.time() + timeout
    killed = False
    while True:
        alive = {p for p in pids if _alive(p)}
        if not alive:
            return
        if time.time() > deadline:
            if killed:
                raise RuntimeError(f"processes {sorted(alive)} did not exit")
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.time() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
