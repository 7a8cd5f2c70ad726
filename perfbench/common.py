"""Shared harness pieces: Spark lifecycle, span tracer, peak-RSS sampler,
host telltales and the repeat-until-deadline timing loop."""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import threading
import time

MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

def start_spark(local_dir: str):
    """A session from the program's own factory (its default driver heap),
    pinned to local[2] with two shuffle partitions; Spark's temporary files
    stay under ``local_dir``."""
    # Python workers must import the program from the checkout root
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *filter(None, paths)])
    from mongo_hadoop_spark.session import get_spark
    from mongo_hadoop_spark.sources import register

    os.makedirs(local_dir, exist_ok=True)
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench", master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir}",
            "spark.sql.warehouse.dir": os.path.join(local_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("FATAL")
    register(spark)
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it and every process it started
    (Python workers, the data-source planner) have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 -- already gone
            pass
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants()


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate any process this one started that is still running."""
    deadline = time.monotonic() + timeout
    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            with contextlib.suppress(OSError):
                os.kill(p, sig)
        while pids and time.monotonic() < deadline:
            for p in list(pids):
                try:
                    done, _ = os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    done = p if not os.path.exists(f"/proc/{p}") else 0
                if done:
                    pids.remove(p)
            if pids:
                time.sleep(0.05)
        if not pids:
            return
        deadline = time.monotonic() + 5.0


# ---------------------------------------------------------------------------
# Peak resident memory of the process tree
# ---------------------------------------------------------------------------

class RssSampler:
    """Samples the summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total = 0
        for p in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / 2**20


# ---------------------------------------------------------------------------
# Host telltales (recorded, never gated)
# ---------------------------------------------------------------------------

def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def calibration_s() -> float:
    """Fastest of five runs of a fixed pure-Python loop."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return best


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans {name, start, end, parent, workload, rep}; written
    out once when the run ends."""

    def __init__(self, workload: str, t0: float):
        self.workload = workload
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, rep: int | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "rep": rep,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def self_times(self) -> dict[str, dict]:
        """Per span name: total duration, and self time = duration minus
        the part of it covered by child spans."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child_s.get(s["id"], 0.0)
        return out


@contextlib.contextmanager
def maybe_span(tracer, name: str, rep=None):
    if tracer is None:
        yield None
    else:
        with tracer.span(name, rep) as rec:
            yield rec


# ---------------------------------------------------------------------------
# Timing
# ---------------------------------------------------------------------------

def value(samples: list[dict]) -> float:
    """A job's value in a run: the sum over its parts (the one scan, or each
    query of a list) of that part's fastest repetition."""
    return sum(min(s[p] for s in samples) for p in samples[0])


def summary(samples: list[dict]) -> dict:
    totals = [sum(s.values()) for s in samples]
    out = {"n": len(totals), "min": min(totals),
           "median": statistics.median(totals), "max": max(totals),
           "samples": totals}
    if len(samples[0]) > 1:
        out["parts"] = {p: {"min": min(s[p] for s in samples),
                            "max": max(s[p] for s in samples)} for p in samples[0]}
    return out


def repeat_until(deadline: float, jobs: dict, min_reps: dict) -> dict[str, list[dict]]:
    """Round-robin over ``jobs`` (name -> fn(rep) returning {part: seconds})
    until ``deadline`` has passed and each job has run its ``min_reps``
    times."""
    times: dict[str, list[dict]] = {k: [] for k in jobs}
    rep = 0
    while True:
        due = [k for k in jobs if rep < min_reps[k] or time.perf_counter() < deadline]
        if not due:
            return times
        for name in due:
            times[name].append(jobs[name](rep))
        rep += 1


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
