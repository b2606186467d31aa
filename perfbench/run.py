"""Benchmark of the parameter-server engine.

    python3 perfbench/run.py --workload ps_train --seed 1 --seconds 12 --trace 0

Runs one workload at local[<half the CPUs>] for ``--seconds`` of timed work, checks
its outputs and prints, as the last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Earlier stdout lines are diagnostics. See perfbench/README.md."""

from __future__ import annotations

import os
import sys
import time


def process_start() -> float:
    """Wall-clock time this process started (Linux /proc), so set-up time
    covers the interpreter start too; falls back to now elsewhere."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_PROCESS = process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.stats import items_per_s, percentile  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}
PER_LAYER = {
    "session.start_ms": "ms",
    "sources.scan_ms": "ms",
    "sources.rows": "count",
    "sources.stream_backlog_files_max": "count",
    "ps.kernel.pull_call_ms": "ms",
    "ps.kernel.push_call_ms": "ms",
    "ps.kernel.push_calls": "count",
    "ps.kernel.jobs": "count",
    "ps.kernel.stages": "count",
    "ps.kernel.tasks": "count",
    "ps.kernel.executor_cpu_ms": "ms",
    "ps.kernel.shuffle_write_bytes": "bytes",
    "ps.kernel.epoch1_ms": "ms",
    "ps.kernel.epoch2_ms": "ms",
    "ps.kernel.epoch3_ms": "ms",
    "scratch.checkpoints": "count",
    "scratch.checkpoint_ms": "ms",
    "scratch.cached_bytes_peak": "bytes",
    "streaming.transport.batch_ms_p50": "ms",
    "streaming.transport.add_batch_ms_p50": "ms",
    "streaming.transport.jobs_per_batch": "count",
    "streaming.online_ps.batch_ms_p50": "ms",
    "streaming.online_ps.batch_ms_p90": "ms",
    "streaming.online_ps.add_batch_ms_p50": "ms",
    "streaming.online_ps.rows_per_batch_p50": "count",
    "streaming.online_ps.state_rows_total": "count",
    "streaming.online_ps.state_memory_bytes": "bytes",
    "streaming.online_ps.state_commit_ms_p50": "ms",
    "generator.lag_ms_max": "ms",
}


def pin_cpus() -> int:
    """Confine this process, and the JVM and Python workers it starts, to
    the first half of the CPUs it may use; returns how many. On a shared
    virtual machine a run that keeps every vCPU busy loses a varying share
    of its time to the hypervisor (steal), which swung the same operation's
    wall time by up to 1.8x between runs; on half the vCPUs it stayed
    within ~15 %."""
    cpus = sorted(os.sched_getaffinity(0))
    keep = cpus[: max(1, len(cpus) // 2)]
    os.sched_setaffinity(0, keep)
    return len(keep)


def cpu_pressure() -> str:
    try:
        with open("/proc/pressure/cpu") as fh:
            return fh.readline().strip()
    except OSError:
        return "n/a"


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat (user nice system idle iowait
    irq softirq steal ...), or [] where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between:
    on a shared virtual machine this, not the code, moves wall times."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else None


def launch_conf(work: str, traced: bool) -> str:
    """spark-submit arguments: no console progress bars, scratch space and
    the warehouse inside the work dir, and (traced run only) an
    uncompressed event log."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    # PySpark splits this string with shlex
    return " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(w, traced_spark_work: dict, res) -> dict[str, float]:
    """Per-layer metrics of a traced run; layers the workload does not
    reach read 0."""
    out = {name: 0.0 for name in PER_LAYER}
    out.update(w.layers)
    ops = max(res.attempted, 1)
    kern = traced_spark_work.get("ps.kernel", {})
    out["ps.kernel.jobs"] = kern.get("jobs", 0) / ops
    out["ps.kernel.stages"] = kern.get("stages", 0) / ops
    out["ps.kernel.tasks"] = kern.get("tasks", 0) / ops
    out["ps.kernel.executor_cpu_ms"] = kern.get("executor_cpu_ms", 0) / ops
    out["ps.kernel.shuffle_write_bytes"] = kern.get("shuffle_write_bytes", 0) / ops
    if w.name == "ps_serve":
        tr = traced_spark_work.get("streaming.transport", {})
        out["streaming.transport.jobs_per_batch"] = (tr.get("jobs", 0) + kern.get("jobs", 0)) / ops
    return out


def measure(args, work: str) -> tuple[dict, dict]:
    """Run one workload in a fresh SparkSession; returns the diagnostics
    stamp and the result object."""
    from flink_parameter_server_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    pressure_before = cpu_pressure()
    ticks_before = cpu_ticks()
    spark = w = None
    try:
        before_session_s = time.time() - T_PROCESS
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_ms = (time.perf_counter() - t0) * 1e3
        spark.sparkContext.setLogLevel("ERROR")
        timer = trace.CallTimer(spark) if traced else None
        if timer is not None:
            from flink_parameter_server_spark.ps import kernel

            timer.wrap(kernel.BatchParameterServer, "pull", "pull")
            timer.wrap(kernel.BatchParameterServer, "push", "push")
            # the kernel imported the name, so wrap it where it is called from
            timer.wrap(kernel, "scoped_checkpoint", "checkpoint")
        w = WORKLOADS[args.workload](spark, work, args.seed, timer)
        t_setup = time.perf_counter()
        w.setup()
        setup_s = time.time() - T_PROCESS
        setup_parts = {
            "before_session_s": before_session_s,
            "session_s": session_ms / 1e3,
            "workload_setup_s": time.perf_counter() - t_setup,
            "warm_walls_s": getattr(w, "warm_walls", []),
        }
        if timer is not None:
            timer.tag_label = "ps.kernel"
        res = w.run(args.seconds)
        if timer is not None:
            timer.tag_label = None
        failed = res.failed + w.check()
        if traced:
            w.layers["session.start_ms"] = session_ms
            w.trace()
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "ops": res.attempted,
            "op_ms": [round(x, 1) for x in res.latencies_ms] if len(res.latencies_ms) <= 50 else None,
            "timed_wall_s": res.wall_s,
            "cpu_pressure_before": pressure_before,
            "setup": setup_parts,
            **w.notes,
        }
    finally:
        if w is not None:
            w.close()
        if spark is not None:
            stop_spark(spark)

    e2e = {
        "setup_s": setup_s,
        "items_per_s": items_per_s(res.items, res.wall_s),
        "latency_p50_ms": percentile(res.latencies_ms, 50),
        "latency_p90_ms": percentile(res.latencies_ms, 90),
    }
    stamp["cpu_pressure_after"] = cpu_pressure()
    stamp["cpu_steal_share"] = steal_share(ticks_before, cpu_ticks())
    stamp["end_to_end"] = e2e
    if traced:
        work_by_label = trace.summarize(
            trace.read_events(os.path.join(work, "eventlog")), getattr(w, "groups", {})
        )
        stamp["spark_work_by_tag"] = work_by_label
        metrics, units = layer_metrics(w, work_by_label, res), PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return stamp, result


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still cleans up: finally blocks run on SystemExit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the engine must be importable before anything runs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    cpus = pin_cpus()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        for sub in ("local", "tmp", "eventlog"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(cpus),
                "SPARK_GRAFT_DRIVER_MEM": "2g",
                "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
                "TMPDIR": os.path.join(work, "tmp"),
                # Python workers import the engine from the checkout
                "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
                "PYSPARK_SUBMIT_ARGS": launch_conf(work, bool(args.trace)),
            }
        )
        tempfile.tempdir = os.path.join(work, "tmp")
        stamp, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(stamp, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
