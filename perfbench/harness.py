"""Session lifecycle, outside RSS sampling, spans and summary statistics
shared by the benchmark workloads."""
from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager

__all__ = ["CORES", "SparkProcess", "RssSampler", "Tracer", "latency_summary",
           "median_time", "code_fingerprint", "host_facts"]

CORES = 4
# The engine defaults to an 8g driver heap.  The benchmark caps it at 2g:
# G1 grows an 8g heap lazily, at a pace set by GC timing, so on a 4-vCPU
# VM the same seed's peak RSS moved by 29% between two runs; with 2g its
# spread over ten seeds was 7-16%.  A 2g heap also keeps the run small.
DRIVER_MEMORY = "2g"


class SparkProcess:
    """One ``local[4]`` session in its own JVM.

    ``stop`` shuts the JVM down (not just the SparkContext), waits for
    it and for every Python worker it forked, so the next session -- and
    the next benchmark run -- starts from a cold process."""

    def __init__(self, work: str, trace_dir: str | None = None):
        from osml10n_spark.engine.session import build_session
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -UsePerfData: no /tmp/hsperfdata, the run writes only in the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData",
        }
        if trace_dir is not None:
            os.makedirs(trace_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + trace_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = build_session("perfbench", cores=CORES, extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self.current_group = None
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        self.rss.start()

    def group(self, name: str) -> None:
        self.current_group = name
        self.spark.sparkContext.setJobGroup(name, name)

    def stop(self) -> None:
        from pyspark import SparkContext
        self.spark.stop()
        gateway = SparkContext._gateway
        self.rss.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.rss.wait_gone(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Samples the summed RSS of the Spark JVM and every process below
    it (the PySpark daemon and its Python workers) every 100 ms from a
    thread of the benchmark process.  ``peak_kb`` is the peak since
    start, ``window_kb`` the peak since the last ``window()``."""

    def __init__(self, root_pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self.window_kb = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def tree(self) -> list[int]:
        kids = _children()
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def run(self) -> None:
        while not self._halt.is_set():
            pids = self.tree()
            self.seen.update(pids)
            kb = sum(_rss_kb(p) for p in pids)
            self.peak_kb = max(self.peak_kb, kb)
            self.window_kb = max(self.window_kb, kb)
            self._halt.wait(self.period)

    def window(self) -> float:
        """Peak MB since the previous call, then start a new window."""
        kb, self.window_kb = self.window_kb, 0
        return kb / 1024.0

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)

    def wait_gone(self, timeout: float) -> None:
        """Wait until every process the sampler ever saw has exited."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            alive = [p for p in self.seen if os.path.exists(f"/proc/{p}")
                     and not _is_zombie(p)]
            if not alive:
                return
            time.sleep(0.1)
        raise RuntimeError(f"Spark processes still running: {alive}")


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        return stat[stat.rindex(")") + 2] == "Z"
    except OSError:
        return True


class Tracer:
    """Spans around the benchmark's calls into the engine, kept in
    memory and written out as JSON lines at the end.  A disabled tracer
    records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, call: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "call": call,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def latency_summary(samples: list[float]) -> dict:
    """Median and tail of per-call latencies.  The tail is the highest
    nearest-rank percentile with at least ten samples above it, and never
    below the median: with fewer than 20 samples it is the median."""
    xs = sorted(samples)
    n = len(xs)
    pct = 50
    if n >= 20:
        pct = max(50, math.floor(100 * (n - 10) / n))
    p50 = statistics.median(xs)
    tail = p50 if pct == 50 else xs[math.ceil(pct / 100 * n) - 1]
    return {"p50": p50, "tail": tail, "tail_pct": pct, "samples": n}


def median_time(fn, repeat: int = 3) -> float:
    """Median wall time of ``repeat`` calls of ``fn``."""
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _git_commit(root: str) -> str:
    """Commit of a git checkout at ``root`` read from ``.git`` directly
    (no git process, nothing read above ``root``)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref = ref[5:]
        loose = os.path.join(root, ".git", ref)
        if os.path.exists(loose):
            with open(loose) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def code_fingerprint(root: str) -> str:
    """sha256 over the path and bytes of every ``.py`` file of the engine
    (``osml10n_spark/``) and of the benchmark (``perfbench/``): the code
    being measured, uncommitted edits included."""
    h = hashlib.sha256()
    for top in ("osml10n_spark", "perfbench"):
        found = []
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            found += [os.path.join(d, f) for f in files if f.endswith(".py")]
        for path in sorted(found):
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()


def host_facts(root: str) -> dict:
    import pyarrow
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)), "cores": CORES,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(), "driver_memory": DRIVER_MEMORY,
            "git_commit": _git_commit(root), "code_sha256": code_fingerprint(root)}
