"""oboyu_spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload serve|bulk --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. With ``--trace 0`` the last
stdout line is a JSON object whose ``metrics`` are the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` they are the per-layer
metrics, taken from spans recorded around the benchmark's calls into
each module (spans are written to ``.perfbench_out/``). Outputs are
checked against the pure-Python BM25 oracle; any mismatch makes the
command exit non-zero. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_bw_gbps(n: int):
    """bench.py's warm-then-measure host bandwidth probe: one throwaway
    sweep absorbs the first-touch page-fault tax, then one measured
    sweep (bench.py takes the best of two; each sweep costs ~1 s of
    array set-up, twice per run)."""
    from host_controls import run_level

    run_level("bw", n, 0.05)
    return run_level("bw", n, 0.15) / 1e9


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def declared_units(trace: int) -> dict:
    """Name -> unit of the metrics a run with ``--trace`` reports, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def trace_overhead(out_dir: str, workload: str, seed: int,
                   traced: dict):
    """Traced minus untraced end-to-end figures, as a share of the
    untraced run's, when an untraced run of the same workload and seed
    left its result in ``out_dir``; else None."""
    path = os.path.join(out_dir, f"result-{workload}-{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        untraced = json.load(fh)["metrics"]
    return {k: (v - untraced[k]["value"]) / untraced[k]["value"]
            for k, v in traced.items() if k in untraced}


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the python worker daemons, and wait
    until each has ended."""
    from perfbench.spans import descendants

    gw = spark.sparkContext._gateway
    proc = gw.proc
    workers = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "bulk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    if not os.path.isfile(os.path.join(ROOT, "oboyu_spark", "__init__.py")):
        print(f"no oboyu_spark package under {ROOT}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file the run writes (python temp dirs, Spark local
    # dirs, JVM temp files; -XX:-UsePerfData drops the JVM's hsperfdata
    # file under /tmp) inside the checkout, and let the python workers
    # import the checkout's package
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path.insert(0, ROOT)
    os.chdir(work)

    from perfbench import layers, spans, workloads

    nproc = len(os.sched_getaffinity(0))
    context = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "nproc": nproc, "commit": git_commit(),
               "host_bw_gbps_before": host_bw_gbps(nproc)}
    tracer = spans.Tracer() if args.trace else spans.NoTracer()
    t0 = time.perf_counter()
    spark = None
    try:
        with tracer.span("session.get_spark"):
            from oboyu_spark.session import get_spark

            spark = get_spark(cores=nproc)
        if tracer.enabled:
            tracer.attach(spark)
        run = workloads.Run(spark, tracer, args.seed, args.seconds, work, t0)
        e2e, state = workloads.WORKLOADS[args.workload](run)
        workloads.log(f"checked: {run.failed} failed of {run.attempted}")
        rss = spans.peak_rss_mb(spark)
        context["peak_rss"] = rss
        context.update(run.context)
        if tracer.enabled:
            metrics = layers.layer_metrics(run, state)
            metrics["session.peak_rss_mb"] = rss["total_mb"]
            workloads.log("layer metrics done")
            metrics["trace.overhead_frac"] = (
                tracer.overhead_s / (time.perf_counter() - t0))
            context["traced_end_to_end"] = e2e
            context["trace_overhead_vs_untraced"] = trace_overhead(
                out_dir, args.workload, args.seed, e2e)
            tracer.write(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = e2e
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    units = declared_units(args.trace)
    if set(metrics) != set(units):
        print(f"metrics {sorted(set(metrics) ^ set(units))} do not match "
              "BENCHMARK.json", file=sys.stderr)
        return 3
    context["host_bw_gbps_after"] = host_bw_gbps(nproc)
    context["failed_frac"] = run.failed / run.attempted
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }
    # unbounded run context: one line before the result, and on disk
    print(json.dumps({"context": context}))
    with open(os.path.join(out_dir, f"result-{args.workload}-{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump({**result, "context": context}, fh, indent=1)
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
