"""Closed-loop benchmark of serenedb_spark through its user-facing doors.

    python3 perfbench/run.py --workload search|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. One process, one closed-loop client, one
request in flight, Spark local[n] with n <= nproc. The run makes its
inputs from the seed, sets the engine up once, makes one untimed warm-up
pass over every op class, then runs a fixed number of whole rounds (one
op per class; for ingest, one write/refresh/read-back cycle). S fixes
that number through the workload's nominal round time, so a run does the
same work on a fast host and a slow one. Every op's output is checked.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer ones with
--trace 1). Lines before it, prefixed "# ", echo the configuration and
give detail: per-class medians, ingest medians, run quality, and with
--trace 1 the per-class and per-layer self-time tables.

Exits non-zero without a result when the engine sources are missing or
anything fails outside an op.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HASH_SEED = "0"
#: the run stops itself after this long, well inside the 180 s limit
DEADLINE_S = 170


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def spark_conf(work: str) -> dict[str, str]:
    """The benchmark's own Spark settings. The heap fits a 15 GB host;
    every scratch path stays inside the checkout."""
    n = min(4, len(os.sched_getaffinity(0)))
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def start_spark(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def cpu_probe_ms() -> float:
    """Time of a fixed pure-Python loop. The host's speed drifts by up to
    2x with no CPU steal recorded; this reading shows that drift."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i % 7
    return (time.perf_counter() - t0) * 1e3


def process_age_s() -> float:
    """Seconds since this process started. The start time comes from the
    kernel, so it covers interpreter start-up and survives the re-exec
    that fixes PYTHONHASHSEED."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start / os.sysconf("SC_CLK_TCK"))


def jvm_heap_mb(spark) -> float:
    """JVM heap in use after full GCs: the lowest of eight readings, one
    after each `System.gc()`. Python's collection runs first, so the JVM
    objects only Python still pinned are released. Between GCs Spark's
    cleaner drops the blocks of collected datasets, so the reading takes
    three to six GCs to settle, and can hold still for two in between."""
    jvm = spark.sparkContext._jvm
    gc.collect()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used)


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


class Deadline(Exception):
    pass


def _alarm(*_):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def run_op(op, spark, tracer, op_id: int):
    """Run and check one op. Returns (latency s, error or None)."""
    out, err = None, None
    with tracer.op(op_id, op.cls, spark):
        t0 = time.perf_counter()
        try:
            out = op.run()
        except Deadline:
            raise
        except Exception as e:  # an op failure is a result, not a crash
            err = f"{type(e).__name__}: {str(e)[:200]}"
        lat = time.perf_counter() - t0
    if err is None:
        try:
            err = op.check(out)
        except Deadline:
            raise
        except Exception as e:
            err = f"check raised {type(e).__name__}: {str(e)[:200]}"
    return lat, err


def main() -> int:
    args = parse_args()
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        env = dict(os.environ, PYTHONHASHSEED=HASH_SEED)
        os.execve(sys.executable, [sys.executable] + sys.argv, env)
    if not os.path.isdir(os.path.join(ROOT, "serenedb_spark")):
        print(f"engine sources not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)

    # scratch space of this process only, removed when it ends
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        return start(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def start(args, scratch: str) -> int:
    from corpus import write_documents
    from spans import Tracer
    from workloads import WORKLOADS

    for sub in ("tmp", "spark-local", "warehouse", "data"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = spark_conf(scratch)
    print("# config " + json.dumps(dict(
        conf, PYTHONHASHSEED=os.environ["PYTHONHASHSEED"],
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace)), flush=True)

    t0 = time.perf_counter()
    data_dir = os.path.join(scratch, "data")
    docs_path = write_documents(args.seed, data_dir)
    inputs_s = time.perf_counter() - t0

    spark = start_spark(conf)
    try:
        return measure(args, spark, data_dir, docs_path, inputs_s,
                       Tracer(bool(args.trace)), WORKLOADS[args.workload])
    finally:
        signal.alarm(0)
        stop_spark(spark)


def measure(args, spark, data_dir, docs_path, inputs_s, tracer, Workload):
    """Set the engine up once, then run the warm-up and the timed phase.
    setup_s runs from process start to the end of the warm-up pass."""
    jvm_s = process_age_s() - inputs_s
    wl = Workload(args.seed, tracer)
    t0 = time.perf_counter()
    wl.setup(spark, data_dir, docs_path)
    engine_s = time.perf_counter() - t0
    try:
        return timed(args, spark, tracer, wl, dict(
            inputs_s=inputs_s, jvm_s=jvm_s, engine_s=engine_s))
    finally:
        wl.close()


def timed(args, spark, tracer, wl, setup):
    from spans import gc_ms

    errors: list[str] = []
    attempted = 0
    t0 = time.perf_counter()
    for op in wl.round(0):
        attempted += 1
        _, err = run_op(op, spark, tracer, -1)
        if err:
            errors.append(f"warm-up {op.cls}: {err}")
    setup["warmup_s"] = time.perf_counter() - t0
    setup_s = process_age_s()
    # heap after the same fixed work in every run
    heap = jvm_heap_mb(spark)

    probe0 = cpu_probe_ms()
    tracer.install(spark)
    lat: dict[str, list[float]] = {c: [] for c in wl.CLASSES}
    timed_ops: list[int] = []
    ok_ops = 0
    busy = 0.0
    rounds = max(1, round(args.seconds / wl.ROUND_S))
    steal0 = cpu_times()
    wall0 = time.perf_counter()
    for r in range(1, rounds + 1):
        for op in wl.round(r):
            op_id = len(timed_ops)
            timed_ops.append(op_id)
            attempted += 1
            t, err = run_op(op, spark, tracer, op_id)
            busy += t
            lat[op.cls].append(t)
            if err:
                errors.append(f"round {r} {op.cls}: {err}")
            else:
                ok_ops += 1
    wall = time.perf_counter() - wall0
    steal1 = cpu_times()
    tracer.uninstall()
    probe1 = cpu_probe_ms()
    steal_pct = 100.0 * (steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0])
    # checks that read back the writes of the whole run, off the clock
    for name, err in wl.final_checks():
        attempted += 1
        if err:
            errors.append(f"final {name}: {err}")

    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    medians = {c: statistics.median(v) for c, v in lat.items()}
    all_lat = sorted(x for v in lat.values() for x in v)
    i90 = min(len(all_lat) - 1, int(0.9 * len(all_lat)))
    detail = {
        "rounds": rounds, "timed_ops": len(timed_ops), "busy_s": busy,
        "wall_s": wall,
        "class_p50_ms": {c: round(m * 1e3, 2) for c, m in medians.items()},
        "p90_ms": round(all_lat[i90] * 1e3, 2),
        "p90_samples_beyond": len(all_lat) - 1 - i90,
        "error_rate": len(errors) / attempted,
        "errors": errors[:20],
        "setup": setup,
        "quality": {"steal_pct": steal_pct,
                    "load1": os.getloadavg()[0],
                    "cpu_probe_ms": [probe0, probe1],
                    "gc_ms": gc_ms(spark.sparkContext)},
    }
    detail.update(wl.detail(lat))
    print("# detail " + json.dumps(detail), flush=True)

    if args.trace:
        values, classes = tracer.layer_metrics(timed_ops)
        values["host.steal_pct"] = steal_pct
        values["trace.overhead_pct"] = 100.0 * tracer.own_s / wall
        values["trace.throughput_ops_s"] = ok_ops / busy
        print("# per-class " + json.dumps(classes), flush=True)
        print("# self-time-ms-per-op " + json.dumps(
            tracer.self_time_table(timed_ops)), flush=True)
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.write(os.path.join(
            WORK, "spans", f"{args.workload}-s{args.seed}.jsonl"))
    else:
        values = {"setup_s": setup_s, "throughput_ops_s": ok_ops / busy,
                  "p50_geomean_ms": geomean(medians.values()) * 1e3,
                  "driver_rss_mb": rss, "jvm_heap_mb": heap}
    # exactly the metrics BENCHMARK.json declares, with its units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
