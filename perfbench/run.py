"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It starts a Spark session on
``local[<nproc>]`` through ``get_spark``, sets up the workload from the
seed, runs the timed closed loop for ``--seconds``, checks the outputs and
prints, as its last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The lines before it list every
metric with its unit and sample count. It exits 1 when an operation or a
correctness gate failed, and 2 when the checkout lacks the package.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

import harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, "perfbench", "out")


def git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"  # not a git checkout
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return ref


def set_environment() -> None:
    """The program's defaults, with only core count and scratch locations
    set, all inside the checkout."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "llm_rankers_spark", "__init__.py")):
        print(f"perfbench: no llm_rankers_spark package under {ROOT}", file=sys.stderr)
        return 2
    declared = harness.load_declared(os.path.join(ROOT, "BENCHMARK.json"))
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    set_environment()
    cpu0 = harness.cpu_times()
    log = harness.OpLog()
    fixed: dict = {}
    result = None
    with harness.RssSampler() as rss:
        from llm_rankers_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark()
        fixed["session.get_spark_s"] = time.perf_counter() - t0
        spark_version = spark.version
        tracer = harness.Tracer(workloads.job_stats_hook(spark.sparkContext))
        try:
            result = workloads.WORKLOADS[args.workload](
                spark, args.seed, args.seconds, bool(args.trace), WORK, tracer, log, fixed
            )
        except Exception:  # noqa: BLE001 - reported as a failed run, exit 1
            traceback.print_exc()
            log.attempted += 1
            log.failed += 1
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
            print(f"[perfbench] session stopped in {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    host = harness.host_delta(cpu0, harness.cpu_times())
    fixed["process.peak_rss_mb"] = rss.peak / 2**20
    fixed["host.steal_pct"] = host["steal_pct"]
    fixed["host.cpu_busy_frac"] = host["cpu_busy_frac"]

    metrics, counts = {}, {}
    if result is not None:
        if args.trace:
            metrics, counts = harness.per_layer_metrics(tracer, log, declared["per_layer"], fixed)
            group = declared["per_layer"]
        else:
            metrics, counts = harness.end_to_end_metrics(
                log, workloads.ROLES[args.workload], result["setup_s"], result["index_bytes_per_input_byte"]
            )
            group = declared["end_to_end"]
        if set(metrics) != set(group):
            raise SystemExit(f"perfbench: metrics {sorted(set(metrics) ^ set(group))} not as declared")
    else:
        group = {}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "host": host,
        "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith(("SPARK_", "LLMRS_"))},
        "versions": {"python": platform.python_version(), "spark": spark_version},
        "git_sha": git_sha(),
        "ops": dict(log.ops),
        "metrics": {n: {"value": metrics[n], "unit": group[n], "samples": counts[n]} for n in metrics},
        "layers_fixed": fixed,
    }
    os.makedirs(OUT, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.write(os.path.join(OUT, stem + ".spans.jsonl"))

    print(f"# {args.workload} seed={args.seed} nproc={record['nproc']} steal={host['steal_pct']:.1f}% "
          f"busy={host['cpu_busy_frac']:.2f} spark={spark_version} python={platform.python_version()} "
          f"sha={record['git_sha'][:12]}")
    for n in metrics:
        print(f"# {n:40s} {metrics[n]:14.6g} {group[n]:8s} n={counts[n]}")
    ok = result is not None and log.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": max(log.attempted, 1),
        "failed": log.failed,
        "metrics": {n: {"value": metrics[n], "unit": group[n]} for n in metrics},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
