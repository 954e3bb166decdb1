#!/usr/bin/env python3
"""Benchmark of the resumable logparser_spark job (see README.md here).

    python3 perfbench/run.py --workload batch_skewed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, both modes

Run from the repository root.  One local-mode Spark application with at
most four task slots, driven from this process.  ``--trace 0`` measures the
end-to-end metrics with tracing off; ``--trace 1`` runs one traced unit
plus the prefix runs and reports the per-layer metrics.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  Human-readable lines go to stderr; the full record (samples,
spans, provenance) goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_SLOTS = 4



def catalogue() -> dict:
    """Workloads and metric units, from BENCHMARK.json (the one list)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ten samples beyond
    it (the maximum when there are fewer than eleven samples).  Returns
    (value, percentile, samples beyond)."""
    xs = sorted(values)
    k = max(len(xs) - 11, 0) if len(xs) >= 11 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs) - 1 - k


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4)


def start_spark(work: str, slots: int, event_log: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{slots}]").appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 2 × slots, the job's own num_partitions rule; the default 200 makes
        # every streaming micro-batch commit 200 state stores
        .config("spark.sql.shuffle.partitions", str(2 * slots))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the application and its gateway JVM, and wait until the JVM and
    every Python worker it started have ended."""
    from pyspark import SparkContext

    from host import descendants, wait_ended

    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_ended(started)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def run_timed(wl, spark, seconds: float) -> tuple[list[dict], int, int, float, dict]:
    """Run units until ``seconds`` have passed (at least one).  Returns the
    samples of units that passed their checks, attempted, failed, peak RSS."""
    from host import RssSampler
    from workloads import CheckFailed

    samples, attempted, failed, streak = [], 0, 0, 0
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while True:
            attempted += 1
            try:
                samples.append(wl.run_unit(spark))
                streak = 0
            except CheckFailed as e:
                failed += 1
                print(f"CHECK FAILED: {e}", file=sys.stderr)
            except Exception:  # a unit that raises counts as failed; keep measuring
                failed += 1
                streak += 1
                print("UNIT RAISED:\n" + traceback.format_exc(), file=sys.stderr)
            if time.perf_counter() >= deadline or streak >= 3:
                break
    rss_detail = {"peak_jvm_mb": rss.peak_jvm_mb, "max_procs": rss.max_procs,
                  "rss_samples": rss.samples}
    return samples, attempted, failed, rss.peak_mb, rss_detail


def end_to_end(samples: list[dict], setup_s: float, peak_rss: float) -> tuple[dict, dict]:
    micro = [m for s in samples for m in s["microbatch_s"]]
    tail, pct, beyond = tail_percentile(micro)
    metrics = {
        "setup_s": setup_s,
        "turns_per_s": statistics.median(s["turns"] / s["wall_s"] for s in samples),
        "microbatch_p50_s": statistics.median(micro),
        "microbatch_tail_s": tail,
        "peak_rss_mb": peak_rss,
    }
    detail = {
        "units": len(samples),
        "turns_per_s_quartiles": quartiles([s["turns"] / s["wall_s"] for s in samples]),
        "microbatch_samples": len(micro),
        "microbatch_quartiles": quartiles(micro),
        "microbatch_tail_percentile": pct,
        "microbatch_tail_beyond": beyond,
    }
    return metrics, detail


def run_traced(wl, spark) -> tuple[dict, list[dict], Tracer, int, int]:
    """An untraced unit, the traced unit with its prefix runs, and another
    untraced unit: the JIT keeps warming from unit to unit, so the traced
    unit is compared with the mean of its two untraced neighbours.  The
    event log is read after the application stops (it is complete then)."""
    from spans import Tracer
    from workloads import CheckFailed

    tracer = Tracer(spark)
    facts, untraced, failed = {}, [], 0
    for step in ("untraced", "traced", "untraced"):
        try:
            if step == "traced":
                facts = wl.traced(spark, tracer)
            else:
                untraced.append(wl.run_unit(spark))
        except CheckFailed as e:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
            failed += 1
    return facts, untraced, tracer, 3, failed


def run_workload(args) -> int:
    sys.path.insert(0, HERE)
    from host import provenance, wait_for_no_spark_jvm
    from workloads import WORKLOADS

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    try:
        waited = wait_for_no_spark_jvm(grace_s=60)
    except RuntimeError as e:
        print(f"refusing to start: {e}", file=sys.stderr)
        return 3
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "slots": slots, "started_utc": time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime(T_PROCESS)),
        "loadavg_before": os.getloadavg(), **provenance(ROOT),
    }
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, slots)
    t = time.perf_counter()
    record["input"] = wl.make_inputs()
    record["inputs_s"] = time.perf_counter() - t

    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = start_spark(work, slots, event_log)
    try:
        wl.setup(spark)
        setup_s = time.time() - T_PROCESS - record["inputs_s"] - waited
        if args.trace:
            facts, untraced, tracer, attempted, failed = run_traced(wl, spark)
        else:
            samples, attempted, failed, peak, rss_detail = run_timed(wl, spark, args.seconds)
    finally:
        stop_spark(spark)
    record["loadavg_after"] = os.getloadavg()
    record["setup_s"] = setup_s

    if args.trace:
        if not facts or failed:
            finish(record, work_root, work, False, attempted, failed, None)
            return 1
        from spans import read_event_log

        logs = [os.path.join(event_log, f) for f in os.listdir(event_log)]
        metrics = wl.layer_metrics(tracer, read_event_log(logs[0]), facts)
        metrics.update({f"sources.{k}": record["input"][k]
                        for k in ("input_mb", "unique_masked_share", "top_conv_share")})
        untraced_s = statistics.mean(u["wall_s"] for u in untraced)
        metrics["trace.e2e_s"] = facts["e2e_s"]
        metrics["trace.overhead_s"] = facts["e2e_s"] - untraced_s
        record["spans"] = tracer.spans
        record["untraced_e2e_s"] = untraced_s
        return finish(record, work_root, work, True, attempted, failed, metrics)

    if not samples:
        print("no unit completed its checks; no result", file=sys.stderr)
        finish(record, work_root, work, False, attempted, failed, None)
        return 1
    metrics, detail = end_to_end(samples, setup_s, peak)
    record["detail"] = {**detail, **rss_detail}
    record["samples"] = samples
    return finish(record, work_root, work, failed == 0, attempted, failed, metrics)


def finish(record, work_root, work, correct, attempted, failed, metrics) -> int:
    record.update(correct=correct, attempted=attempted, failed=failed,
                  failed_ratio=failed / attempted, metrics=metrics)
    results = os.path.join(work_root, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(f"# {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"sha={record['git_sha'][:12]} slots={record['slots']} nproc={record['nproc']} "
          f"ram_gb={record['ram_gb']} load={record['loadavg_before']}->{record['loadavg_after']}",
          file=sys.stderr)
    print(f"failed_ratio {failed / attempted:.4f} ratio ({failed}/{attempted})", file=sys.stderr)
    if metrics is None:
        return 1
    units = catalogue()[record["trace"]]
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing "
                           f"{sorted(set(units) - set(metrics))}, extra "
                           f"{sorted(set(metrics) - set(units))}")
    for k in sorted(metrics):
        print(f"{k} {metrics[k]:.6g} {units[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    status = 0
    for name in catalogue()["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            print(f"== {name} trace={trace}", file=sys.stderr, flush=True)
            rc = subprocess.run(cmd, cwd=ROOT).returncode
            status = status or rc
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "logparser_spark")):
        print(f"no logparser_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in catalogue()["workloads"]:
        print(f"unknown workload {args.workload!r}; BENCHMARK.json lists "
              f"{catalogue()['workloads']}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
