"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process, one client, closed loop on
``local[<cores>]``, where cores is ``SPARK_GRAFT_CPUS`` or else the CPUs
this process may run on. With ``--trace 0`` it sets the session up three
times (cold, then two restarts) and prints the end-to-end metrics; with
``--trace 1`` it sets up once, measures half the time untraced, restarts
the session with the event log and the ``perf`` UDF profiler on, measures
the other half and prints the per-layer metrics. The line before the
result stamps the settings (cores, page counts) the numbers depend on.
Exits 1 when the correctness gate fails and 2 when the checkout holds no
``mistral_ocr_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import layers
from harness import SETUPS, Context, OpResult, process_start_time
from workloads import WORKLOADS


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input scale; tiny is for the smoke test")
    return p.parse_args(argv)


def _environment(root: str, work: str) -> int:
    """Point every worker, temp and scratch path into the checkout; return
    the core count."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts: temp files in the checkout, no
    # /tmp/hsperfdata, JIT compiler threads that live as long as the JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, root)
    return cores


def _end_to_end(ctx, ops) -> dict:
    """Medians over the set-ups and the timed operations, so one slow
    one does not move a metric."""
    return {
        "setup_s": (statistics.median(ctx.setup_seconds), "s"),
        "cpu_ms_per_doc": (statistics.median(r.cpu / r.docs for r in ops) * 1e3, "ms"),
        "worker_peak_rss_mb": (ctx.worker_peak_mb, "MB"),
    }


def _guarded(op):
    """An operation that raises counts as attempted and failed."""
    def run(i):
        t0 = time.time()
        try:
            return op(i)
        except Exception:
            traceback.print_exc()
            return OpResult(time.time() - t0, 0, 0, False)
    return run


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mistral_ocr_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout holding mistral_ocr_spark/",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    cores = _environment(root, work)
    ctx = Context(root, work, cores, args.seed)
    wl = WORKLOADS[args.workload](ctx, args.size)
    op = _guarded(wl.op)
    t_proc = process_start_time()

    def log(step):
        print(f"perfbench: {step} done at {time.time() - t_proc:.1f}s", file=sys.stderr, flush=True)

    try:
        ctx.start_session(since=t_proc)
        if not args.trace:
            for _ in range(SETUPS - 1):
                ctx.start_session()
        log("set-up")
        # inputs, oracle and one untimed operation, so the timed loop starts
        # in a session whose plans are compiled and workers are busy-warm
        wl.prepare()
        log("prepare")
        if not args.trace:
            ops = ctx.closed_loop(op, args.seconds)
            metrics = _end_to_end(ctx, ops)
            all_ops = ops + wl.after_loop(resume=False)
        else:
            untraced = (ctx.closed_loop(op, args.seconds / 2), wl.after_loop(resume=True))
            ctx.start_session(traced=True)
            wl.warmup.append(op(-1))
            ctx.spark.profile.clear()
            since = time.time()
            with ctx.hooked(wl.hooks()):
                traced = (ctx.closed_loop(op, args.seconds / 2),
                          wl.after_loop(resume=False))
            profile_dir = os.path.join(work, "profiles")
            ctx.spark.profile.dump(profile_dir, type="perf")
            ctx.stop_session()  # flushes the event log
            values = layers.per_layer(wl, ctx, untraced, traced, since, profile_dir)
            metrics = {k: (values[k], u) for k, u in layers.METRICS.items()}
            all_ops = [r for part in untraced + traced for r in part]
            trace_dir = os.path.join(root, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": ctx.spans.records}, f)
        log("measure")
    finally:
        ctx.shutdown()
    log("shutdown")

    all_ops = wl.warmup + all_ops
    failed = sum(1 for r in all_ops if not r.ok)
    info = {"workload": args.workload, "seed": args.seed, "cores": cores, "size": args.size,
            **wl.info, "ops": len(all_ops), "failed_frac": failed / len(all_ops),
            "op_s": [round(r.seconds, 3) for r in all_ops],
            "op_cpu_s": [round(r.cpu, 3) for r in all_ops],
            "setup_runs_s": [round(s, 3) for s in ctx.setup_seconds],
            "steal_frac": round(ctx.steal_frac(), 4)}
    if getattr(wl, "errors", None):
        info["error_class"] = dict(wl.errors)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(all_ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
