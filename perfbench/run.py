"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The package is imported from that root and
the program builds nothing, so a checkout needs no build step. The run sets
up one workload, runs timed passes until ``--seconds`` have elapsed (at least
two passes), checks every pass's outputs, and prints as its last stdout line
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one more
pass with spans installed and reports the per-layer metrics instead. A
provenance stamp is printed on the line before, and the full report,
including every span, is written under ``perfbench/_work/reports/``.
Everything the run writes stays under ``perfbench/_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# Spark's local[N]: the workloads run about one task at a time, and two
# task threads leave the other cores to the JIT, the GC and the Python side
SPARK_CPUS = 2
# timed passes per run at the least, however long they take, so that a
# run's medians sit at the same point of the JIT's warm-up in every run
MIN_PASSES = 2


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """name -> unit of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def provenance(seed: int, nproc: int, master: str, load_start, cpu_start) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        res = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        )
        commit = res.stdout.strip() or None
    delta = [b - a for a, b in zip(cpu_start, cpu_times())]
    return {
        "hostname": socket.gethostname(),
        "nproc": nproc,
        "spark_master": master,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # time the hypervisor ran something else on this VM's CPUs
        "cpu_steal_pct": round(100 * delta[7] / max(1, sum(delta)), 2),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "seed": seed,
    }


def start_session(cpus: int):
    """``session.get_spark`` with every scratch path inside the checkout and
    job retention raised so that job-group counts stay complete."""
    from sqlserver_cdc_to_kafka_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed set of JIT compiler threads, so that ProcessCpu can
            # tell their time apart from the program's
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, unreaped process counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    others = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when the pipe from Python closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in others) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in others:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def end_to_end(setup_s: float, passes) -> dict[str, float]:
    """Set-up wall time, and the CPU time of the timed passes and their
    operations, each a median over the whole run (the geometric mean
    aside)."""
    from layers import geomean

    ops = [c for p in passes for c in p.op_cpu_s]
    return {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(p.cpu_s for p in passes),
        "op_cpu_p50_ms": statistics.median(ops) * 1000,
        "op_cpu_geomean_ms": geomean(ops) * 1000,
    }


def judge(wl, passes) -> tuple[int, int, list[str]]:
    """Check every pass: (operations attempted, operations failed, messages).
    An operation fails when any of its checks fails or its check raises."""
    attempted = failed = 0
    failures = []
    for p in passes:
        try:
            bad = wl.check(p)
        except Exception as exc:  # noqa: BLE001 - a check that raises fails its pass
            bad = [(op, f"check raised {type(exc).__name__}: {exc}") for op in wl.ops(p)]
        attempted += len(wl.ops(p))
        failed += len({op for op, _ in bad})
        failures.extend(f"{op}: {msg}" for op, msg in bad)
    return attempted, failed, failures


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.perf_counter()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    sys.path[:0] = [HERE, ROOT]
    try:
        import workloads
        from tracing import JobCounter, NullTracer, Tracer
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    nproc = len(os.sched_getaffinity(0))
    spark = start_session(min(SPARK_CPUS, nproc))
    log(f"session up after {time.perf_counter() - t_start:.1f} s")
    try:
        ctx = workloads.Ctx(spark, run_dir, args.seed, JobCounter(spark.sparkContext, "run"))
        wl = workloads.WORKLOADS[args.workload](ctx)
        checked = wl.setup()
        setup_s = time.perf_counter() - t_start
        log(f"setup done after {setup_s:.1f} s")

        passes = []
        deadline = time.perf_counter() + args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            passes.append(wl.run_pass(len(passes), NullTracer()))
        checked += passes
        log(
            f"{len(passes)} timed passes: wall {[round(p.wall_s, 2) for p in passes]} s,"
            f" cpu {[round(p.cpu_s, 2) for p in passes]} s"
        )

        tracer = None
        if args.trace:
            tracer = Tracer(JobCounter(spark.sparkContext, "trace"))
            wl.install_spans(tracer)
            jit_start = ctx.cpu.jit_seconds()
            try:
                traced = wl.traced_pass(tracer)
            finally:
                tracer.uninstall()
            jit_s = ctx.cpu.jit_seconds() - jit_start
            checked.append(traced)

        attempted, failed, failures = judge(wl, checked)
        for msg in failures:
            log(f"check failed: {msg}")

        if args.trace:
            import layers

            metrics = layers.per_layer(wl, traced, passes, tracer, failed / attempted)
            metrics["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
            metrics["session.jit_cpu_s"] = jit_s
            metrics["session.py_peak_rss_mb"] = (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            )
        else:
            metrics = end_to_end(setup_s, passes)
        units = metric_units()[args.trace]
        if set(metrics) != set(units):
            raise RuntimeError(
                "metrics differ from BENCHMARK.json: missing "
                f"{sorted(set(units) - set(metrics))}, extra {sorted(set(metrics) - set(units))}"
            )
        stamp = provenance(args.seed, nproc, spark.sparkContext.master, load_start, cpu_start)
    finally:
        stop_session(spark)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }
    report_dir = os.path.join(WORK, "reports")
    os.makedirs(report_dir, exist_ok=True)
    report = os.path.join(
        report_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(report, "w") as f:
        json.dump(
            {
                "provenance": stamp,
                "result": result,
                "failures": failures,
                "passes": [
                    {
                        "wall_s": p.wall_s,
                        "cpu_s": p.cpu_s,
                        "rows": p.rows,
                        "op_s": p.op_s,
                        "op_cpu_s": p.op_cpu_s,
                        "jobs": p.jobs,
                    }
                    for p in passes
                ],
                "spans": [vars(s) for s in tracer.spans] if tracer else [],
            },
            f,
        )
    print(json.dumps({"provenance": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
