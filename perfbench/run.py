"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics|ingest|corpus \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates the workload's inputs from
the seed, builds a SparkSession with the engine's own factory on
local[nproc] (starting the JVM) and sends the first, cold request (set-up), then
sends warm requests from one client for ``--seconds`` (and at least a
workload's minimum count), checking every output.
The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it describes the run: host shape, input digests, samples, failures.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

STARTED = time.perf_counter()
# A run must end within 180 s. On a host too slow to send a workload's
# minimum count of requests in time, no request starts after this many
# seconds, which leaves time for the last one and the shutdown.
CUTOFF_S = 140.0

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, from
    BENCHMARK.json, the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def layers(per_layer: dict[str, str]) -> list[str]:
    """The engine layers a traced run reports: those with a ``.self_s``
    metric."""
    return [n[: -len(".self_s")] for n in per_layer if n.endswith(".self_s")]


# the DAG's wall time minus its task bodies is the orchestrate layer's self time
ALIASES = {"orchestrate.dag_overhead_s": "orchestrate.self_s"}

# the request kind whose latency the end-to-end metrics report
PRIMARY = {"analytics": "interaction", "ingest": "cycle", "corpus": "build"}


class Runner:
    """Sends a workload's requests one at a time and keeps the books:
    attempted and failed operations, wall time per request kind split by
    traced and untraced. In a traced run every other request of a kind is
    traced, so the two medians give the tracing overhead."""

    def __init__(self, workload, tracer):
        from perfbench.harness import NullTracer

        self.wl = workload
        self.tracer = tracer
        self.null = NullTracer()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.walls = defaultdict(lambda: {"traced": [], "plain": []})
        self._n: dict[str, int] = defaultdict(int)

    def call(self, kind: str, fn):
        i = self._n[kind]
        self._n[kind] += 1
        traced = self.tracer is not None and i % 2 == 0
        self.wl.tracer = self.tracer if traced else self.null
        self.attempted += 1
        self.wl.wrong = []
        t0 = time.perf_counter()
        try:
            with self.wl.tracer.request(f"{kind}-{i}"):
                out = fn(i)
        except Exception as e:  # a failed request is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            self._fail(f"{kind}-{i}: {type(e).__name__}: {e}")
            return None
        finally:
            self.wl.tracer = self.null
        self.walls[kind]["traced" if traced else "plain"].append(time.perf_counter() - t0)
        if self.wl.wrong:
            self._fail(f"{kind}-{i}: wrong output: " + "; ".join(self.wl.wrong))
        return out

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg[:500])


def layer_readings(tracer, runner, workload, primary: str, rss: float, names) -> dict[str, float]:
    """Per-layer metric → median over the sampled requests that hold it
    (over the setup request when only it does), zero when no request does.
    Warm-up requests are left out, as they are from the end-to-end samples."""
    from perfbench.harness import median

    warm, setup = defaultdict(list), defaultdict(list)
    for rid, m in tracer.per_request().items():
        if rid.startswith("warmup-"):
            continue
        for k, v in m.items():
            (setup if rid.startswith("setup-") else warm)[k].append(v)
    out = {}
    for name in names:
        key = ALIASES.get(name, name)
        vals = warm.get(key) or setup.get(key)
        out[name] = median(vals) if vals else 0.0
    out.update(workload.layer_extras())
    out["jvm.peak_rss_mb"] = rss
    walls = runner.walls[primary]
    if walls["traced"] and walls["plain"]:
        over = median(walls["traced"]) - median(walls["plain"])
        out["trace.overhead_s"] = over
        out["trace.overhead_frac"] = over / median(walls["plain"])
    return out


def run(args, engine, workdir: str) -> tuple[dict, dict]:
    from perfbench.harness import NullTracer, SparkCounters, Tracer, median, tail
    from perfbench.workloads import WORKLOADS

    units = metric_units("per_layer" if args.trace else "end_to_end")
    tracer = Tracer(layers(units)) if args.trace else None
    wl = WORKLOADS[args.workload](engine, workdir, args.seed, NullTracer())
    if tracer is not None:
        wl.min_requests = max(wl.min_requests, 2)  # one traced, one untraced
    runner = Runner(wl, tracer)
    try:
        t0 = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t0

        launch_s = engine.start()
        if tracer is not None:
            tracer.counters = SparkCounters(engine.spark)
        first_s = runner.call("setup", wl.setup_request)

        t0 = time.perf_counter()
        wl.cutoff = STARTED + CUTOFF_S
        e2e = wl.run(runner, t0 + args.seconds)
        measured_s = time.perf_counter() - t0
        rss = engine.peak_rss_mb()
    finally:
        wl.close()

    lat = e2e["latencies"] or [0.0]
    tl = tail(lat)
    shape = dict(engine.shape(), workload=args.workload, seed=args.seed, trace=args.trace)
    detail = {
        "shape": shape,
        "inputs": wl.input_digests,
        "gen_s": gen_s,
        "launch_s": launch_s,
        "first_request_s": first_s,
        "measured_s": measured_s,
        "request": PRIMARY[args.workload],
        "samples": len(e2e["latencies"]),
        "latencies_s": e2e["latencies"],
        "tail": tl,
        "report": wl.report(),
        "failures": runner.failures,
    }
    if tracer is None:
        metrics = {
            "setup_s": launch_s + (first_s or 0.0),
            "request_p50_s": median(lat),
            "request_tail_s": tl["value"],
            "rows_per_s": e2e["rows_per_s"],
        }
    else:
        metrics = layer_readings(tracer, runner, wl, PRIMARY[args.workload], rss, units)
        trace_dir = os.path.join(ROOT, ".perfbench_run", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"shape": shape, "spans": tracer.spans, "counts": tracer.counts}, fh)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    result = {
        "correct": runner.failed == 0 and bool(e2e["latencies"]),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import etl_school_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.harness import Engine

    # Spark's python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    workdir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    engine = Engine(workdir, len(os.sched_getaffinity(0)))
    try:
        result, detail = run(args, engine, workdir)
    finally:
        engine.close()
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
