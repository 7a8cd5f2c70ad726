#!/usr/bin/env python3
"""Benchmark of the mongodoc connector and the registered query pipelines,
with per-layer numbers for the connector, the document writers and each
query.

    python3 perfbench/run.py --workload {scan,pipelines} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a checkout.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries the details (every repetition's min/median/max, set-up
times, input digest, host telltales).  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate
traced run plus its tracing overhead.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

N_SETUPS = 3
WORKLOADS = ("scan", "pipelines")
# timed repetitions per job at least, after the discarded warm-up pass,
# however long they take
MIN_REPS = {"scan": {"op_a": 3, "op_b": 3}, "pipelines": {"op_a": 1, "op_b": 3}}
# traced run: this many untraced and as many traced repetitions per job,
# alternating, after the warm-up pass
TRACED_REPS = {"scan": 2, "pipelines": 1}


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.scale = args.scale
        self.corrupt = args.corrupt
        self.work = work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._pop = None

    def population(self):
        import gen

        if self._pop is None:
            self._pop = gen.Orders(gen.POP_ORDERS)
        return self._pop

    def check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(msg[:300])


def workload_class(name: str):
    import importlib

    mod = importlib.import_module(f"wl_{name}")
    return getattr(mod, name.capitalize())


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="damage one output on purpose (self-test)")
    p.add_argument("--trace-out", default=None,
                   help="where the traced run writes its spans")
    return p.parse_args(argv)


def check_program() -> None:
    """Fail fast, before any work, when the program is not there."""
    import importlib

    for mod in ("mongo_hadoop_spark.bsonio", "mongo_hadoop_spark.store",
                "mongo_hadoop_spark.plans.filters",
                "mongo_hadoop_spark.plans.splitters",
                "mongo_hadoop_spark.sources.schema_infer",
                "mongo_hadoop_spark.sources.mongo_datasource",
                "mongo_hadoop_spark.sinks.writers",
                "mongo_hadoop_spark.operators"):
        importlib.import_module(mod)


def set_up(ctx, wls, local_dir: str, n: int) -> list[float]:
    """Session up, inputs written, first touches done -- ``n`` times.  The
    first set-up counts from process start (imports, JVM launch); later
    ones restart the Spark context in the running JVM."""
    from common import fresh_dir, start_spark

    times = []
    for k in range(n):
        t0 = T_START if k == 0 else time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()   # the JVM stays up for the next session
        ctx.spark = start_spark(local_dir)
        root = fresh_dir(os.path.join(ctx.work, "inputs"))
        for wl in wls:
            wl.materialize(os.path.join(root, wl.name))
            wl.prime(ctx.spark)
        times.append(time.perf_counter() - t0)
    return times


def warm_up(jobs: dict) -> None:
    """One discarded pass of every job (its outputs are still checked)."""
    for job in jobs.values():
        job(0)


def run_untraced(ctx, wl, seconds: float) -> tuple[dict, dict]:
    from common import repeat_until, summary, value

    local_dir = os.path.join(ctx.work, "spark")
    setups = set_up(ctx, [wl], local_dir, N_SETUPS)
    jobs = wl.jobs()
    t0 = time.perf_counter()
    warm_up(jobs)
    t1 = time.perf_counter()
    times = repeat_until(t1 + seconds, jobs, MIN_REPS[wl.name])
    metrics = {f"{k}_s": (value(v), "s") for k, v in times.items()}
    metrics["setup_s"] = (statistics.median(setups), "s")
    detail = {"reps": {k: summary(v) for k, v in times.items()},
              "meaning": wl.meaning, "setup_runs_s": setups,
              "warm_up_s": t1 - t0, "timed_s": time.perf_counter() - t1}
    return metrics, detail


def run_traced(ctx, wl, trace_out: str) -> tuple[dict, dict]:
    """Per-layer numbers.  After a warm-up pass the workload's own jobs run
    untraced and traced in turn, the same number of times each (the ratio
    of their values is the tracing overhead); then every layer probe runs,
    so each traced run reports every per-layer metric."""
    import probes
    from common import Tracer, value
    from wl_pipelines import Pipelines
    from wl_scan import Scan
    from write_inputs import WriteInputs

    others = [cls(ctx) for cls in (Scan, Pipelines, WriteInputs) if cls.name != wl.name]
    wls = [wl, *others]
    set_up(ctx, wls, os.path.join(ctx.work, "spark"), 1)
    jobs = wl.jobs()
    warm_up(jobs)
    tracer = Tracer(wl.name, T_START)
    plain: dict[str, list] = {k: [] for k in jobs}
    traced: dict[str, list] = {k: [] for k in jobs}
    for rep in range(1, TRACED_REPS[wl.name] + 1):
        pair = [(None, plain), (tracer, traced)]
        if rep % 2 == 0:   # alternate which of the pair goes first
            pair.reverse()
        for k, job in jobs.items():
            for tr, out in pair:
                ctx.tracer = tr
                out[k].append(job(rep))
    ctx.tracer = tracer
    plain = {k: value(v) for k, v in plain.items()}
    traced = {k: value(v) for k, v in traced.items()}
    metrics = {f"trace.{k}_overhead_share": (traced[k] / plain[k] - 1.0, "ratio")
               for k in plain}
    by_name = {w.name: w for w in wls}
    metrics.update(probes.connector(
        ctx, by_name["scan"], plain["op_a"] if wl.name == "scan" else None))
    metrics.update(probes.writer(ctx, by_name["write"]))
    metrics.update(by_name["pipelines"].layer_metrics())
    spans = {"workload": wl.name, "seed": ctx.seed, "spans": tracer.spans,
             "self_times": tracer.self_times(),
             "untraced_s": plain, "traced_s": traced}
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    with open(trace_out, "w") as f:
        json.dump(spans, f, indent=1)
    detail = {"trace_out": os.path.relpath(trace_out, ROOT),
              "self_times": spans["self_times"],
              "untraced_s": plain, "traced_s": traced,
              "meaning": wl.meaning}
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        check_program()
    except ImportError as exc:
        print(f"perfbench: the program is not importable: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from common import RssSampler, calibration_s, shutdown_jvm, steal_ticks

    rss = RssSampler().start()
    steal0, calib0 = steal_ticks(), calibration_s()
    ctx = Ctx(args, work)
    try:
        t_gen = time.perf_counter()
        wl = workload_class(args.workload)(ctx)
        gen_s = time.perf_counter() - t_gen
        if args.trace:
            out = args.trace_out or os.path.join(
                HERE, "_work", f"trace-{args.workload}-seed{args.seed}.json")
            metrics, detail = run_traced(ctx, wl, out)
        else:
            metrics, detail = run_untraced(ctx, wl, args.seconds)
        peak = rss.stop()
        if args.trace:
            metrics["peak_rss_mb"] = (peak, "MB")
        detail.update({
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "input_sha256": wl.digest, "gen_s": gen_s,
            "steal_s": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"),
            "calibration_s": {"start": calib0, "end": calibration_s()},
            "peak_rss_mb": peak, "failures": ctx.failures[:20],
            "wall_s": time.perf_counter() - T_START})
    except Exception:  # noqa: BLE001 -- no result line on any error
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
