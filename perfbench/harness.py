"""Run-time plumbing shared by the workloads.

- ``Engine`` owns the SparkSession, the JVM behind it, and every process
  that JVM starts; ``close`` stops them all and waits for them.
- ``SparkCounters`` reads the Spark jobs, tasks and failed tasks one call
  launched, through ``StatusTracker`` under a per-call job group.
- ``Tracer`` records spans (name, start, end, parent, request id) in memory
  around calls into the engine's public functions; ``NullTracer`` is the
  untraced stand-in with the same interface.
- ``median`` / ``tail`` are the statistics the result reports.
"""

from __future__ import annotations

import contextlib
import math
import os
import signal
import statistics
import subprocess
import time

def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended; its parent reaps it)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


class Engine:
    """The SparkSession under test, built by the engine's own factory
    (``etl_school_spark.session.get_spark``) on ``local[nproc]``.

    All scratch I/O of Spark (local dirs, warehouse, JVM temp files) goes
    under ``workdir`` so a run touches nothing outside its checkout.
    """

    heap = "2g"

    def __init__(self, workdir: str, nproc: int):
        self.workdir = workdir
        self.nproc = nproc
        self.spark = None
        self.jvm_pid = None
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # python-side temp files (py4j connection info), JVM temp files and
        # Spark scratch; no JVM perf-data file under /tmp
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")

    def _conf(self) -> dict:
        return {
            "spark.driver.memory": self.heap,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
        }

    def start(self) -> float:
        """Build the session, launching the JVM; returns the seconds it
        took."""
        from etl_school_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=self._conf(),
        )
        dt = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return dt

    def shape(self) -> dict:
        import platform

        import pyspark

        conf = self.spark.conf
        return {
            "nproc": self.nproc,
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "jvm_heap": self.heap,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }

    def peak_rss_mb(self) -> float:
        """Peak resident set of the Spark JVM (VmHWM), in MiB."""
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self, timeout: float = 30.0) -> None:
        """Stop Spark, shut the JVM down and wait until it and every process
        it started (python workers) have ended; kill what outlives
        ``timeout``."""
        from pyspark import SparkContext

        procs = _descendants(os.getpid())
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                finally:
                    proc = gw.proc
                    if proc is not None:
                        if proc.stdin is not None:
                            proc.stdin.close()  # the JVM exits on EOF
                        try:
                            proc.wait(timeout)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
            deadline = time.monotonic() + timeout
            while any(_alive(p) for p in procs) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in procs:
                if _alive(p):
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
            while any(_alive(p) for p in procs):
                time.sleep(0.05)


class SparkCounters:
    """Per-call Spark work: jobs, tasks and failed tasks.

    Each measured call runs under its own job group; on exit the jobs of
    that group are read back through ``StatusTracker``. Structured
    Streaming runs its micro-batches under a job group named after the
    query's run id, so a streaming listener collects the run ids of
    queries started during the call and their jobs are added to it. A stage
    is counted once, by the first call that sees it: a later job that
    reuses a shuffle lists the stage again as skipped.
    """

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        runs: list[str] = []

        class _RunIds(StreamingQueryListener):
            # onQueryStarted runs before DataStreamWriter.start() returns
            def onQueryStarted(self, event):
                runs.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._runs = runs
        self._seen_stages: set[int] = set()
        self._stack: list[str] = []
        self._seq = 0
        spark.streams.addListener(_RunIds())

    def _set_group(self, gid: str | None) -> None:
        if gid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(gid, gid)

    @contextlib.contextmanager
    def measure(self):
        self._seq += 1
        gid = f"perfbench-{self._seq}"
        self._stack.append(gid)
        self._set_group(gid)
        first_run = len(self._runs)
        counts = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
        try:
            yield counts
        finally:
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            groups = [gid] + self._runs[first_run:]
            del self._runs[first_run:]  # an enclosing call must not recount
            for g in groups:
                for job in self._tracker.getJobIdsForGroup(g):
                    info = self._tracker.getJobInfo(job)
                    counts["jobs"] += 1
                    if info is None:
                        continue
                    for sid in info.stageIds:
                        if sid in self._seen_stages:
                            continue
                        self._seen_stages.add(sid)
                        st = self._tracker.getStageInfo(sid)
                        if st is not None:
                            counts["tasks"] += st.numCompletedTasks + st.numFailedTasks
                            counts["failed_tasks"] += st.numFailedTasks


class NullTracer:
    """Untraced runs: spans cost one no-op context manager."""

    enabled = False
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null

    def request(self, request_id: str):
        return self._null

    def count(self, name: str, value: float) -> None:
        pass


class Tracer:
    """Spans kept in memory; written out by the caller when the run ends.

    ``request`` opens the root span of one request and stamps its id on
    every span beneath it; ``span`` wraps one call into an engine layer,
    named ``<layer>.<call>``; ``count`` attaches a count to the open
    request.
    """

    enabled = True

    def __init__(self, layers: list[str], counters: SparkCounters | None = None):
        self.layers = set(layers)  # span-name prefixes whose self time is reported
        self.counters = counters
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []
        self._request: str | None = None

    @contextlib.contextmanager
    def request(self, request_id: str):
        self._request = request_id
        self.counts.setdefault(request_id, {})
        try:
            with self.span("request"):
                yield
        finally:
            self._request = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self._request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        counting = self.counters.measure() if self.counters else contextlib.nullcontext(None)
        try:
            with counting as counts:
                yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counts is not None:
                rec.update(counts)

    def count(self, name: str, value: float) -> None:
        req = self.counts[self._request]
        req[name] = req.get(name, 0) + value

    def per_request(self) -> dict[str, dict[str, float]]:
        """request id → {metric: value}: summed call times (``<span>_s``),
        per-layer self time (``<layer>.self_s``) and Spark counts
        (``<layer>.jobs|tasks|failed_tasks``), plus attached counts."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["request"] is None:
                continue
            m = out.setdefault(s["request"], dict(self.counts.get(s["request"], {})))
            dur = s["end"] - s["start"]
            m[f"{s['name']}_s"] = m.get(f"{s['name']}_s", 0.0) + dur
            layer = s["name"].split(".", 1)[0]
            if layer not in self.layers:
                continue
            child = _covered([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            m[f"{layer}.self_s"] = m.get(f"{layer}.self_s", 0.0) + dur - child
            for k in ("jobs", "tasks", "failed_tasks"):
                if k in s:
                    m[f"{layer}.{k}"] = m.get(f"{layer}.{k}", 0) + s[k]
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it. A run of
    fewer than 21 samples has no such percentile at or above the median;
    it then reports the sample with a third of the others beyond it,
    rounded down (the maximum below four samples). The result says how many
    samples lie beyond."""
    s = sorted(xs)
    n = len(s)
    beyond = 10 if n >= 21 else (n - 1) // 3
    k = n - 1 - beyond
    return {"value": s[k], "percentile": math.floor(100 * (k + 1) / n), "samples": n, "beyond": beyond}
