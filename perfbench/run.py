#!/usr/bin/env python3
"""Feature-store benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pit_training --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run works in a
scratch directory under the checkout (removed at exit), pins the engine
configuration, generates its inputs from the seed, sets the workload up
several times (``setup_s`` is the median), warms it up, runs timed cycles
for ``--seconds`` seconds in a closed loop with one client, checks every
output outside the timers, and prints one JSON object as the last line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` installs the per-layer wrappers
(``tracing.py``) and reports the per-layer metrics instead. The run
record (seed, input fingerprint, engine settings, phase times) goes to
standard error. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True  # a run leaves no __pycache__ in the checkout

from layers import WORKLOADS  # noqa: E402  (this directory is sys.path[0])

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
# below host RAM (the engine's default is 16g); initial = maximum heap, so
# the JVM's resident size tracks what the run allocates, not when G1 grows
DRIVER_MEM = "1g"
T_START = time.perf_counter()


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str) -> dict:
    """Engine configuration of every run; returned for the result record."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([root, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM, spark-submit's launcher included, keeps out of /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}' pyspark-shell",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return {
        **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "JAVA_TOOL_OPTIONS")},
        "driver_java_options": f"-Xms{DRIVER_MEM}",
    }


def control_seconds(spark) -> float:
    """Host-speed note: a fixed CPU-bound Spark job (no input files),
    median of three."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, host_cpus()).selectExpr(
            "avg(xxhash64(cast(id as string), 'a')) as h1",
            "avg(xxhash64(id * 1000003, 'b')) as h2",
            "avg(sin(id % 1000)) as s",
        ).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus the Spark JVM it launched."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    proc = spark.sparkContext._gateway.proc
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return own + int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        pass
    return own


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, root: str, work: str) -> tuple[dict, object, dict]:
    """Start the session, run the workload, stop the session; returns the
    run record, the workload and the reported metrics."""
    engine = pin_environment(root, work)
    os.chdir(work)  # spark-warehouse and other relative paths land in the scratch dir
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS

    import gen
    import layers

    t0 = time.perf_counter()
    from dbt_snowflake_feature_store_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        control = control_seconds(spark)
        from tracing import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)

        t0 = time.perf_counter()
        fingerprint = gen.fingerprint(wl.generate())
        gen_s = time.perf_counter() - t0

        if args.trace:
            tracer.install()
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        steal0, total0 = cpu_jiffies()
        t_measure = time.perf_counter()
        deadline = t_measure + args.seconds
        # closed loop: the next cycle starts only if one more cycle of the
        # last one's length still ends by the deadline (at least one cycle)
        while True:
            t0 = time.perf_counter()
            tracer.cycle += 1
            wl.cycle()
            now = time.perf_counter()
            if now + (now - t0) > deadline:
                break
        measure_s = time.perf_counter() - t_measure
        steal1, total1 = cpu_jiffies()
        cycles = tracer.cycle + 1
        cpu = [
            sum(o.stages["executorCpuTime"] for o in tracer.ops if o.cycle == c) / 1e9 for c in range(cycles)
        ]
        tracer.uninstall()
        if args.spans:
            tracer.dump_spans(args.spans)

        cycle_s = statistics.median(wl.samples["cycle_s"])
        e2e = {
            "setup_s": statistics.median(setups),
            "cpu_s": statistics.median(cpu),
            "peak_rss_mb": peak_rss_mb(spark),
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "input_fingerprint": fingerprint,
            "engine": {**engine, "spark.sql.shuffle.partitions": engine["SPARK_GRAFT_CPUS"]},
            "control_s": control,
            # share of CPU time the hypervisor gave to other guests while measuring
            "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "phases_s": {
                "session": session_s, "generate": gen_s, "setup": sum(setups),
                "warmup": warmup_s, "measure": measure_s, "verify": wl.verify_s,
            },
            "cycles": cycles,
            "cycle_s": cycle_s,
            "samples": {k: len(v) for k, v in wl.samples.items()},
            "problems": wl.problems,
        }
        if args.trace:
            metrics = layers.per_layer(tracer, wl)
            metrics.update(
                {
                    "failed_ratio": wl.failed / max(wl.attempted, 1),
                    "trace.cycle_s": cycle_s,
                    **{f"trace.{k}": v for k, v in e2e.items()},
                    "harness.gen_s": gen_s,
                    "harness.session_s": session_s,
                    "harness.control_s": control,
                }
            )
        else:
            metrics = e2e
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0
    record["phases_s"]["stop"] = stop_s
    return record, wl, metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[name for name, _ in WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans", help="write the traced run's spans to this JSON-lines file")
    args = ap.parse_args()
    if args.spans:
        args.spans = os.path.abspath(args.spans)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dbt_snowflake_feature_store_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        record, wl, metrics = run(args, root, work)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    units = _units()
    record["phases_s"]["total"] = time.perf_counter() - T_START
    print(json.dumps(record, sort_keys=True), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": wl.failed == 0 and wl.attempted > 0,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _units() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
