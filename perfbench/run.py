"""Layered benchmark of the iresearch_spark engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: cluster, ingest (see
perfbench/README.md). With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics
read off the spans, and the span tree is written to
.bench_work/out/trace-<workload>-<seed>.json. Every run appends its
result to .bench_work/out/results.jsonl; a traced run states its
overhead against the untraced runs of the same workload found there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "query_cpu_ms_p50": "ms",
    "cpu_ms_per_unit": "ms",
    "spark_jobs_per_unit": "count",
    "index_bytes_per_text_byte": "ratio",
}
WATCHDOG_S = 170


def _args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["cluster", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str) -> int:
    """Keep Spark, the JVM and Python's temp files inside the checkout,
    and put the checkout on the Python workers' path. Returns the
    number of CPUs this process may use (what `nproc` reports)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path[:0] = [ROOT, HERE]
    return len(os.sched_getaffinity(0))


def _overhead(results_path: str, workload: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end values, against the median of
    the untraced runs of this workload recorded in this checkout."""
    base: dict[str, list] = {}
    try:
        with open(results_path) as f:
            for line in f:
                r = json.loads(line)
                if r["workload"] == workload and r["trace"] == 0 and r["correct"]:
                    for k, v in r["e2e"].items():
                        base.setdefault(k, []).append(v)
    except FileNotFoundError:
        pass
    if not base:
        return {"note": "no untraced run of this workload recorded yet"}
    out = {}
    for k, v in traced.items():
        if base.get(k):
            m = statistics.median(base[k])
            out[k] = {"traced": v, "untraced_median": m, "delta": v - m,
                      "delta_share": (v - m) / m if m else None, "untraced_runs": len(base[k])}
    return out


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, "iresearch_spark")):
        print(f"no iresearch_spark package next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    spec = _spec()
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(work_root, "out")
    os.makedirs(out_dir, exist_ok=True)
    cores = _environment(work)

    def _timeout(_sig, _frm):
        raise TimeoutError(f"run exceeded {WATCHDOG_S}s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)

    import workloads as W
    from spans import NullTracer, Tracer, descendants, reap

    tracer = Tracer() if args.trace else NullTracer()
    run = W.Run(args.seed, args.seconds, tracer, work, cores)
    t_start = time.perf_counter()
    try:
        W.WORKLOADS[args.workload](run)
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            from pyspark.sql import SparkSession

            W.stop_spark(run, SparkSession.builder.getOrCreate())
        W.cleanup(work)
        reap(descendants())
    signal.alarm(0)

    e2e = {"setup_s": run.setup_s, **run.e2e}
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "run_wall_s": time.perf_counter() - t_start,
        "host_control_sec": W.host_probe(),
        "inputs": run.inputs,
        "bursts": run.facts.get("bursts"),
        "error_rate": run.failed / max(1, run.attempted),
        "errors": run.errors,
        "report": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in run.report.items()},
    }
    print("context " + json.dumps(context))
    print(f"inputs: {json.dumps(run.inputs)}")
    for name, (v, unit, n) in run.report.items():
        print(f"  {name:24s} {v:12.4f} {unit:28s} n={n}")
    print(f"  {'error_rate':24s} {context['error_rate']:12.4f} failed {run.failed} of {run.attempted}")

    if args.trace:
        import layers

        metrics = layers.layer_metrics(tracer, run)
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        units = layers.PER_LAYER
        overhead = _overhead(os.path.join(out_dir, "results.jsonl"), args.workload, e2e)
        print("tracing overhead (traced - untraced): " + json.dumps(overhead))
        tracer.write(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"context": context, "e2e_traced": e2e, "overhead": overhead, "per_layer": metrics},
        )
    else:
        metrics = e2e
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        units = E2E_UNITS
    if names != units or set(metrics) != set(names):
        print("metric names differ from BENCHMARK.json", file=sys.stderr)
        return 3
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(json.dumps({**context, "correct": run.failed == 0, "e2e": e2e}) + "\n")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": metrics[k], "unit": names[k]} for k in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
