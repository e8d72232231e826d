"""Seeded single-process benchmark of the feature store.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One run: make the workload's inputs from
the seed, start the Spark session, set the workload up SETUP_REPS times,
warm it up, run its closed loop (one client) for S seconds, check every
output, and print one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are END_TO_END; with ``--trace 1`` they are
PER_LAYER, read from spans around each call into a layer and from Spark's
event log.  Lines before the JSON give each workload's own metrics with
their sample counts and bases.  Everything the run writes goes under
``.perfbench_work/`` in the checkout; only a traced run's span file
outlives the run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "feature_store_healthcare_spark"
WORKLOAD_NAMES = ("online_serving", "offline_training", "ingest_merge", "catalog_operators")
SETUP_REPS = 3
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads: half the CPUs.  The other half runs the Python
    driver, the JVM's compiler and collector threads and the Python
    workers; with one task thread per CPU they all queue behind the tasks
    and a run measures the scheduler more than the program."""
    return max(1, nproc() // 2)


def configure_env(work: str, trace: bool) -> str | None:
    """Point every temporary, warehouse and log directory of the Python
    driver, the JVM and its Python workers into ``work``.  Returns the
    event-log directory when tracing."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher included; -XX:-UsePerfData keeps
    # the hsperfdata file out of the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} -XX:-UsePerfData"
    )
    args = [f"--conf spark.sql.warehouse.dir={dirs['warehouse']}"]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{dirs['events']}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None
    return dirs["events"] if trace else None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_op(wl, i: int):
    """One operation; an exception is a failed operation, not a failed run."""
    from perfbench.workloads import OpRecord

    try:
        return wl.op(i)
    except Exception as exc:
        return OpRecord(i, "error", failed=True, error=f"{type(exc).__name__}: {exc}")


def warm_up(wl, tracer) -> list:
    """The workload's first WARMUP_OPS operations, untimed and untraced:
    the JIT and Spark's caches are still settling while they run.  Their
    outputs are checked like any other."""
    tracer.enabled = False
    return [run_op(wl, i) for i in range(wl.WARMUP_OPS)]


def run_loop(wl, tracer, seconds: float, trace: bool) -> list:
    """The closed loop: one client, the next operation starts when the last
    returns.  It stops at the first block boundary after ``seconds`` once
    it holds the workload's MIN_OPS, so a run holds whole blocks of the
    workload's operation mix, or when the workload's generated inputs run
    out.  A traced run traces every other operation, so the untraced ones
    measure the tracing overhead in the same process."""
    records = []
    wl.start_timing()
    end = time.perf_counter() + seconds
    i = wl.WARMUP_OPS
    while i < wl.MAX_OPS:
        n = i - wl.WARMUP_OPS
        if time.perf_counter() >= end and n >= wl.MIN_OPS and n % wl.BLOCK == 0:
            break
        tracer.enabled = trace and i % 2 == 0
        records.append(run_op(wl, i))
        wl.after_op()
        i += 1
    tracer.enabled = trace
    return records


def outcome(records) -> dict:
    """The result line's counts: every operation attempted, and those that
    raised or returned a wrong output."""
    failed = sum(1 for r in records if r.failed)
    return {"correct": failed == 0 and bool(records), "attempted": len(records), "failed": failed}


def report_line(name: str, value, unit: str, n: int | None = None) -> None:
    count = f" (n={n})" if n is not None else ""
    print(f"perfbench: {name} = {value:.6g} {unit}{count}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, event_dir: str | None) -> int:
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import Tracer, read_event_log
    from perfbench.workloads import WORKLOADS, Env, spark_layer

    tracer = Tracer(enabled=bool(args.trace))
    env = Env(spark=None, tracer=tracer, work_dir=work, seed=args.seed)
    wl = WORKLOADS[args.workload](env)
    digest = wl.digest()
    if hasattr(wl, "stage_inputs"):
        wl.stage_inputs(SETUP_REPS)
    print(
        f"perfbench: workload={args.workload} seed={args.seed} schedule_sha256={digest}"
        f" nproc={nproc()} master=local[{task_slots()}] loop=closed clients=1"
        f" setup_reps={SETUP_REPS}"
        f" trace={args.trace}"
    )
    input_s = time.perf_counter() - T_START

    from feature_store_healthcare_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        env.spark = wl.spark = spark
        tracer.attach(spark.sparkContext)
        setup_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = warm_up(wl, tracer)
        warmup_s = time.perf_counter() - t
        timed = run_loop(wl, tracer, args.seconds, bool(args.trace))
        records = warm + timed
        wl.check(records)
        wl.close()
        details = wl.details(timed)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        jvm_mb = vm_hwm_mb(jvm_pid)
    finally:
        tracer.detach()
        stop_spark(spark)

    failed = [r for r in records if r.failed]
    for r in failed[:5]:
        print(f"perfbench: op {r.index} failed: {r.error}", file=sys.stderr)
    attempted = len(records)
    ok = [r for r in timed if not r.failed]
    primary = [r.latency_s * 1e3 for r in ok if r.kind == wl.primary]
    setup_s = session_s + statistics.median(setup_times) + warmup_s

    print(
        f"perfbench: inputs made in {input_s:.3f} s (not counted);"
        f" session start {session_s:.3f} s; set-up reps"
        f" {', '.join(f'{t:.3f}' for t in setup_times)} s (first is cold);"
        f" warm-up {warmup_s:.3f} s over {len(warm)} untimed ops"
    )
    report_line("setup_s", setup_s, "s (session start + median set-up rep + warm-up)", SETUP_REPS)
    for name, (value, unit, n) in details.items():
        report_line(name, value, unit, n)
    report_line("error_rate", len(failed) / max(attempted, 1), f"ratio ({len(failed)} failed / {attempted} attempted)")

    if args.trace:
        costs = read_event_log(event_dir)
        spans_path = os.path.join(
            os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"
        )
        tracer.write(spans_path)
        print(f"perfbench: {len(tracer.spans)} spans written to {os.path.relpath(spans_path, ROOT)}")
        layer = {
            "session.get_spark_s": (session_s, "s"),
            "session.jvm_rss_peak_mb": (jvm_mb, "MB"),
            "session.py_rss_peak_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
        }
        layer.update(wl.per_layer(timed, costs))
        layer.update(spark_layer(tracer, costs))
        traced = [r.latency_s for r in ok if r.kind == wl.primary and r.traced]
        plain = [r.latency_s for r in ok if r.kind == wl.primary and not r.traced]
        overhead = (
            (statistics.median(traced) / statistics.median(plain) - 1) * 100
            if traced and plain
            else 0.0
        )
        layer["trace.overhead_pct"] = (overhead, "%")
        print(
            f"perfbench: trace overhead {overhead:+.2f} % on the median {wl.primary}"
            f" ({len(traced)} traced vs {len(plain)} untraced ops)"
        )
        # every registered metric, then any extra the workload measured
        units = {**PER_LAYER, **{k: u for k, (_v, u) in layer.items() if k not in PER_LAYER}}
        metrics = {k: {"value": float(layer.get(k, (0.0,))[0]), "unit": u} for k, u in units.items()}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(primary) if primary else 0.0,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({**outcome(records), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
