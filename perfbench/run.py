"""Pipeline-platform benchmark: one workload, one run.

    python3 perfbench/run.py --workload batch_medallion --seed 1 --seconds 4 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
(untimed), computes DuckDB reference results (untimed), sets the Spark
session up five times (the median is ``setup_s``; see ``main``),
then repeats the workload's unit until ``--seconds`` have passed. Every op
is checked against the reference after its timed window; a failed check
fails the op.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures half
the time untraced and half with span wrappers installed, prints the
per-layer metrics and the tracing overhead, and writes the spans and the
per-layer self-time table under ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "autonomus_datapipeline_spark"
SETUPS = 5
DRIVER_MEM = "2g"


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


# -- machine context -------------------------------------------------------


def _canary() -> float:
    """Seconds for a fixed single-core pure-Python loop (best of three)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else 0.0


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _reset_hwm() -> None:
    """Reset this process's peak-RSS mark, so input generation does not
    count towards the driver's peak."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


# -- statistics --------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, str]:
    """Value at the highest percentile with at least ten samples beyond it,
    and that percentile's label. Below 21 samples that percentile is under
    the median, so the maximum is reported instead."""
    s = sorted(values)
    n = len(s)
    if n < 21:
        return s[-1], f"max of {n}"
    i = n - 11
    return s[i], f"p{100.0 * (i + 1) / n:.1f} of {n}"


# -- session -----------------------------------------------------------------


def _session(work: str):
    from autonomus_datapipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still alive after a minute
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- phases ------------------------------------------------------------------


def _phase(wl, spark, h, seconds: float) -> list:
    """Run whole units until ``seconds`` have passed; return their ops."""
    first = len(h.ops)
    deadline = time.perf_counter() + seconds
    while True:
        h.unit += 1
        wl.unit(spark, h)
        if time.perf_counter() >= deadline:
            break
    return h.ops[first:]


def _e2e(ops: list) -> dict:
    walls = [op.wall for op in ops]
    t, label = tail(walls)
    return {
        "op_p50_s": statistics.median(walls),
        "op_tail_s": t,
        "tail_label": label,
        "items_per_s": sum(op.items for op in ops) / sum(walls),
        "samples": len(walls),
        "walls": [round(w, 4) for w in walls],
    }


def main() -> None:
    args = _parse()
    if importlib.util.find_spec("pyspark") is None:
        _die("pyspark is not importable")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _die(f"package {PACKAGE!r} not found next to perfbench/ (run from the repo root)")
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    # Pin the engine to the cores this process may use and keep every file
    # it writes inside the checkout; set before the package is imported.
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import layers
    import workloads
    from harness import Harness

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    context = {
        "nproc": os.cpu_count(),
        "affinity_cpus": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_before": os.getloadavg(),
        "canary_s": _canary(),
        "python": platform.python_version(),
    }
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        planted = wl.generate()
        wl.reference()
        gen_s = time.perf_counter() - t0
        _reset_hwm()

        # Set-up i: start the session, then warm it. Only the first set-up
        # launches the JVM, so only it runs the full warm-up unit that gets
        # the JIT past the first, up to twice as slow, repetitions; every
        # set-up then runs the workload's light warm-up on its new context.
        setups, starts, warms = [], [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _session(work)
            t1 = time.perf_counter()
            if i == 0:
                wl.warmup(spark)
            wl.rewarm(spark)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        wl.prepare(spark)

        ticks = _cpu_ticks()
        tracer = None
        if args.trace:
            untraced = _phase(wl, spark, Harness(spark), args.seconds / 2)
            import spans

            tracer = spans.Tracer(count_jobs=layers.COUNT_JOBS)
            h = Harness(spark, tracer)
            tracer.job_ids = h.current_job_ids
            tracer.install(layers.targets(tracer), sites=(workloads,))
            try:
                ops = _phase(wl, spark, h, args.seconds / 2)
            finally:
                tracer.uninstall()
            all_ops = untraced + ops
        else:
            h = Harness(spark)
            ops = all_ops = _phase(wl, spark, h, args.seconds)

        context["cpu_steal_share"] = _steal_share(ticks, _cpu_ticks())
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        driver_mb, jvm_mb = _hwm_mb("self"), _hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    context["loadavg_after"] = os.getloadavg()
    e2e = _e2e(ops)
    failed = [op for op in all_ops if op.failed]
    report = {
        "peak_rss_mb": driver_mb + jvm_mb,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "context": context, "planted": planted,
        "input_generation_s": gen_s, "setup_runs_s": setups,
        "ops": len(all_ops), "item": wl.item, "units": wl.units, **e2e,
        "failures": [{"op": op.id, "kind": op.kind, "error": op.error,
                      "checks": op.failures} for op in failed[:5]],
    }
    if args.trace:
        base = _e2e(untraced)
        metrics, table = layers.per_layer(
            tracer, ops, setups=(starts, warms),
            rss=(driver_mb, jvm_mb), overhead=e2e["op_p50_s"] - base["op_p50_s"])
        report["untraced_op_p50_s"] = base["op_p50_s"]
        report["self_time_table"] = table
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + "-spans.json")
        with open(stem + "-layers.txt", "w") as fh:
            fh.write(layers.format_table(table))
        print(layers.format_table(table))
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "op_p50_s": (e2e["op_p50_s"], "s"),
            "op_tail_s": (e2e["op_tail_s"], "s"),
            "items_per_s": (e2e["items_per_s"], "1/s"),
        }
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
