"""Benchmark entry point: one workload, one Spark session, one JSON result.

    python3 perfbench/run.py --workload compaction --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run makes its inputs from --seed,
warms up (rounds that are not counted), then runs timed rounds in a
closed loop for --seconds, checks the outputs outside the timed
intervals, and prints two JSON lines on stdout: a run record (pinned
configuration, input sizes and digests, sample counts, failed_ratio,
check results), then the result object, which is always the last line.
With --trace 1 the first half of the measuring time runs untraced
rounds and the second half traced ones; the result then carries the
per-layer metrics, and the spans and the Spark event log are written
under .perfbench/out/.  Exit status: 0 when every operation and check
passed, 1 when any failed, 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "aws_logs_to_parquet_converter_spark"
DRIVER_MEM = "3g"
MIN_ROUNDS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks (/proc/stat): user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(start: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``start``: a run spoiled by a noisy host shows a high value."""
    d = [b - a for a, b in zip(start, cpu_ticks())]
    return d[7] / max(sum(d), 1)


def source_digest() -> str:
    """Digest of the engine's Python sources: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, ENGINE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def median_of(dicts: list[dict]) -> dict[str, float]:
    keys = sorted({k for d in dicts for k in d})
    return {k: statistics.median(d[k] for d in dicts if k in d) for k in keys}


def percentile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1] if len(xs) > 1 else xs[0]


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    # Everything the run writes stays inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path.insert(0, ROOT)
    try:
        return run(args, run_id, work)
    finally:
        shutil.rmtree(os.path.join(ROOT, ".perfbench", "work", run_id), ignore_errors=True)


def run(args, run_id: str, work: str) -> int:
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    import importlib.util

    spec = importlib.util.find_spec(ENGINE)
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        print(f"{ENGINE} is not in this checkout ({ROOT})", file=sys.stderr)
        return 2

    import pyspark
    from pyspark import SparkContext

    from aws_logs_to_parquet_converter_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    load_start = loadavg()
    ticks_start = cpu_ticks()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    out_dir = os.path.join(ROOT, ".perfbench", "out", run_id)
    if args.trace:
        os.makedirs(os.path.join(out_dir, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(out_dir, "eventlog"),
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      extra_conf=conf)
    session_start_s = time.perf_counter() - t
    sc = spark.sparkContext
    try:
        sc.setLogLevel("ERROR")
        return measure(args, spark, work, out_dir, {
            "session_start_s": session_start_s, "cpus": cpus, "load_start": load_start,
            "ticks_start": ticks_start,
            "pyspark": pyspark.__version__})
    finally:
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


def measure(args, spark, work: str, out_dir: str, info: dict) -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from metrics import END_TO_END, PER_LAYER
    from spans import ROUND_PROPERTY, Tracer, event_log_totals, tree_peak_rss_mb
    from workloads import WORKLOADS

    sc = spark.sparkContext
    tracer = Tracer(enabled=False)
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    attempted = failed = 0
    t = time.perf_counter()
    wl.setup()
    phases = {"session_start_s": info["session_start_s"], "inputs_s": time.perf_counter() - t}

    def one_round(rid: str) -> tuple[float, int, list[float], int] | None:
        nonlocal attempted, failed
        tracer.round_id = rid
        sc.setLocalProperty(ROUND_PROPERTY, rid)
        try:
            with tracer.span("round"):
                t = time.perf_counter()
                units, ops = wl.run_round()
                took = time.perf_counter() - t
        except Exception:  # a failed operation is counted, reported and the run goes on
            traceback.print_exc()
            attempted += 1
            failed += 1
            return None
        finally:
            sc.setLocalProperty(ROUND_PROPERTY, None)
        attempted += len(ops)
        # Persisted RDDs left behind, then release them outside the
        # timed interval: a cached plan would let the next round skip work.
        cached = sc._jsc.getPersistentRDDs().size()
        spark.catalog.clearCache()
        return took, units, ops, cached

    # The first (cold) warm-up round runs on the workload's warm-up
    # inputs; the rest run on the real ones.
    with wl.warmup_inputs():
        warm = [one_round("warmup0")]
    warm += [one_round(f"warmup{i}") for i in range(1, wl.WARMUP_ROUNDS)]
    phases["warmup_s"] = [r and r[0] for r in warm]
    setup_s = time.perf_counter() - T_START

    plain, traced, layers = [], [], []
    t0 = time.perf_counter()
    untraced_for = args.seconds / 2 if args.trace else args.seconds
    i = 0
    while time.perf_counter() - t0 < untraced_for or len(plain) < MIN_ROUNDS:
        r = one_round(f"r{i}")
        i += 1
        if r:
            plain.append(r)
    while args.trace and (time.perf_counter() - t0 < args.seconds or len(traced) < 2):
        tracer.enabled = True
        rid = f"t{i}"
        i += 1
        r = one_round(rid)
        if r:
            # plan cuts and counts run here, outside the round's span
            # and untagged, so the round's Spark totals stay its own
            layers.append({"round_s": r[0], **wl.trace_round()})
            traced.append((rid, r))
        tracer.enabled = False

    checks = wl.check()
    attempted += 1
    failed += bool(checks)
    for msg in checks:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    round_s = [r[0] for r in plain]
    ops = [x for r in plain for x in r[2]]
    values = {
        "setup_s": setup_s,
        "round_p50_s": statistics.median(round_s),
        "units_per_s": sum(r[1] for r in plain) / sum(round_s),
        "peak_rss_mb": tree_peak_rss_mb(),
    }
    record = {
        "workload": wl.name, "unit": wl.unit, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sizes": wl.sizes, "input_sha256": wl.input_sha256,
        "config": {"master": sc.master, "default_parallelism": sc.defaultParallelism,
                   "cpus": info["cpus"], "driver_memory": spark.conf.get("spark.driver.memory"),
                   "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                   "spark_version": spark.version, "pyspark": info["pyspark"],
                   "git_commit": git_commit(), "engine_sha256": source_digest(),
                   "loadavg_start": info["load_start"], "loadavg_end": loadavg(),
                   "cpu_steal_share": steal_share(info["ticks_start"])},
        "samples": {"rounds": len(round_s), "ops": len(ops),
                    "op_p50_s": statistics.median(ops), "op_p90_s": percentile(ops, 90),
                    "round_s": round_s, "op_s": [r[2] for r in plain]},
        "setup_phases": phases,
        "end_to_end": values,
        "failed_ratio": failed / attempted, "attempted": attempted, "failed": failed,
        "checks_failed": checks,
    }
    table = END_TO_END
    if args.trace:
        per_layer = median_of(layers)
        per_layer.update(wl.run_counts())
        traced_s = [r[0] for _, r in traced]
        per_layer["session.start_s"] = info["session_start_s"]
        per_layer["bench.cached_rdds_after_round"] = statistics.median(r[3] for _, r in traced)
        per_layer["trace.overhead_ratio"] = statistics.median(traced_s) / values["round_p50_s"]
        tracer.write(os.path.join(out_dir, "spans.jsonl"))
        spark.stop()  # closes the event log, so every event is on disk
        ev = event_log_totals(os.path.join(out_dir, "eventlog"), {rid for rid, _ in traced})
        per_layer.update({f"spark.{k}": v for k, v in median_of(list(ev.values())).items()})
        record["traced_rounds"] = {"round_s": traced_s, "out_dir": out_dir}
        if "layers.sum_s" in per_layer:
            q = statistics.quantiles(traced_s, n=4) if len(traced_s) > 1 else traced_s * 3
            record["traced_rounds"]["layers_sum_s"] = per_layer["layers.sum_s"]
            record["traced_rounds"]["round_q1_q3_s"] = [q[0], q[2]]
        record["per_layer"] = per_layer
        values = {k: per_layer.get(k, 0.0) for k in PER_LAYER}
        table = PER_LAYER
    print(json.dumps(record), flush=True)
    print(json.dumps({"correct": not checks and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": unit}
                                  for k, (unit, _) in table.items()}}), flush=True)
    wl.close()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
