"""Repository benchmark: one seeded, closed-loop, single-client workload
run on ``local[nproc]``.

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. Progress goes to stderr; stdout carries
``#``-prefixed detail lines (sample counts, percentiles, environment)
and, as its LAST line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` enables the
Spark UI and reports the per-layer metrics instead. See README.md.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """The ``perf_counter()`` reading at this process's start, from the
    kernel's start time (clock ticks since boot)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


T_PROCESS = _process_start()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "formula1_etl_analytics_project_spark"
# end-to-end metrics (name, unit), reported with tracing off
E2E = [
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("ops_per_s", "1/s"),
]
MODULES = {
    "etl": f"{PACKAGE}.etl",
    "readers": f"{PACKAGE}.sources.readers",
    "sinks": f"{PACKAGE}.sources.sinks",
    "pipeline": f"{PACKAGE}.streaming.pipeline",
    "analytics": f"{PACKAGE}.plans.analytics",
    "catalog": f"{PACKAGE}.plans.catalog",
    "oracle_harness": f"{PACKAGE}.oracle_harness",
    "session": f"{PACKAGE}.session",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> dict:
    """Pin cores, driver memory and scratch dirs from outside the engine
    (``session.DEFAULT_CPUS`` would otherwise fall back to 32 and the
    driver heap to 48g)."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(4, int(ram_gb // 4)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # re-read TMPDIR
    # the JVMs keep temp files in the run dir and write no /tmp perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return {"nproc": cores, "ram_gb": round(ram_gb, 1), "driver_mem": f"{driver_gb}g"}


def import_modules() -> SimpleNamespace:
    return SimpleNamespace(**{k: importlib.import_module(v) for k, v in MODULES.items()})


def start_session(ctx, trace: bool):
    conf = {"spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse")}
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        })
    spark = ctx.m.session.get_spark(app_name="perfbench", extra_conf=conf)
    ctx.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return spark


def setup(ctx, workload, trace: bool, gen_s: float) -> float:
    """The run's one cold set-up: interpreter start, package and pyspark
    import, JVM launch and session start, input staging and view
    registration. Timed from process start, with input generation
    subtracted."""
    ctx.m = import_modules()
    t0 = time.perf_counter()
    ctx.spark = start_session(ctx, trace)
    ctx.session_start_ms = (time.perf_counter() - t0) * 1000
    stage_dir = os.path.join(ctx.run_dir, "stage")
    os.makedirs(stage_dir)
    workload.stage(ctx, stage_dir)
    return time.perf_counter() - T_PROCESS - gen_s


def run_loop(ctx, workload, seconds: float, records: list, on_op=None) -> float:
    """Closed loop, one client: whole cycles until ``seconds`` have
    passed. Returns the loop's wall time."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for op in workload.cycle(ctx):
            records.append(execute(ctx, op, on_op))
    return time.perf_counter() - t0


def execute(ctx, op, on_op=None) -> dict:
    """Prepare (untimed), run (timed), then check (untimed) one
    operation. An exception or a wrong output is a failed operation."""
    if op.prepare:
        op.prepare()
    rec = {"name": op.name, "ok": False}
    root = ctx.tracer.span(f"op.{op.name}") if ctx.tracer else nullcontext()
    t0 = time.perf_counter()
    try:
        with root as span:
            result = op.run()
        rec["ms"] = (time.perf_counter() - t0) * 1000
        rec["ok"] = bool(op.check(result))
    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
        rec.setdefault("ms", (time.perf_counter() - t0) * 1000)
        log(f"operation {op.name} raised:\n{traceback.format_exc(limit=4)}")
    if not rec["ok"]:
        log(f"FAILED: {op.name}")
    elif on_op:
        rec["root"] = span
        on_op(rec)
    return rec


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it (the
    maximum when there are fewer than 11 samples)."""
    n = len(samples)
    s = sorted(samples)
    if n < 11:
        return s[-1], "max"
    p = int(100 * (n - 10) / n)
    return s[min(n - 1, int(n * p / 100))], f"p{p}"


def peak_rss_mb(ctx) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{ctx.jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def versions(spark) -> dict:
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def shutdown(ctx) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    spark = getattr(ctx, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not next to {HERE}; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import layers  # noqa: PLC0415 - needs ROOT on sys.path first
    from workloads import WORKLOADS  # noqa: PLC0415

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload; workloads: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_environment(run_dir)
    ctx = SimpleNamespace(run_dir=run_dir, tracer=None, spark=None)
    try:
        return run(ctx, args, env, run_id, WORKLOADS[args.workload], layers)
    finally:
        shutdown(ctx)
        for name in os.listdir(run_dir):
            if name != "spans.jsonl":
                shutil.rmtree(os.path.join(run_dir, name), ignore_errors=True)
        if not os.listdir(run_dir):
            os.rmdir(run_dir)


def run(ctx, args, env, run_id, workload_cls, layers) -> int:
    trace = bool(args.trace)
    t = time.perf_counter()
    workload = workload_cls(args.seed, os.path.join(ctx.run_dir, "gen"))
    workload.generate()
    gen_s = time.perf_counter() - t
    log(f"generated inputs in {gen_s:.1f}s: {workload.sizes}")

    setup_s = setup(ctx, workload, trace, gen_s)
    log(f"set-up {setup_s:.2f}s")

    if hasattr(workload, "prepare_oracles"):
        workload.prepare_oracles(ctx)
    records: list[dict] = []
    if workload.warm:  # an unmeasured cold cycle, then the warm loop
        t = time.perf_counter()
        for op in workload.cycle(ctx):
            records.append(execute(ctx, op))
        cold_s = time.perf_counter() - t
        log(f"cold cycle {cold_s:.1f}s (not measured)")
    n_cold = len(records)

    measured: list[dict] = []
    if trace:
        wall, layer_metrics = layers.traced_loop(ctx, workload, run_id, args.seconds, measured, run_loop)
    else:
        wall = run_loop(ctx, workload, args.seconds, measured)
    records += measured
    log(f"measured {len(measured)} operations in {wall:.1f}s")
    if not workload.warm:  # the measured loop starts cold; one operation per cycle
        cold_s = measured[0]["ms"] / 1000.0

    errors = workload.final_check(ctx)
    for e in errors:
        log(f"FINAL CHECK FAILED: {e}")

    lat = [r["ms"] for r in measured if r["ok"]]
    if not lat:
        log("no successful measured operation")
        return 1
    p50 = statistics.median(lat)
    rss_mb = peak_rss_mb(ctx)
    tail_ms, tail_label = tail(lat)
    values = {
        "setup_s": setup_s,
        "op_p50_ms": p50,
        "ops_per_s": len(lat) / (sum(lat) / 1000.0),
    }
    e2e = {name: (values[name], unit) for name, unit in E2E}
    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"]) + len(errors)
    info = {
        "workload": workload.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **env, **versions(ctx.spark), "inputs": workload.sizes,
        "cold_cycle_s": round(cold_s, 3), "unmeasured_ops": n_cold, "peak_rss_mb": round(rss_mb, 1), "measured_ops": len(measured), "measured_wall_s": round(wall, 3),
        "op_tail_ms": round(tail_ms, 3), "op_tail_pct": tail_label, "samples": len(lat),
        "failed_ratio": failed / attempted,
    }
    by_kind: dict[str, list[float]] = {}
    for r in measured:
        if r["ok"]:
            by_kind.setdefault(r["name"], []).append(r["ms"])
    info["cold_ms_by_name"] = {r["name"]: round(r["ms"], 1) for r in records[:n_cold]}
    info["op_p50_ms_by_name"] = {k: round(statistics.median(v), 2) for k, v in sorted(by_kind.items())}
    if hasattr(workload, "write_amp") and workload.write_amp:
        info["write_amp"] = round(statistics.median(workload.write_amp), 3)
    print("# " + json.dumps(info))
    for name, (value, unit) in e2e.items():
        print(f"# {name} = {value:.6g} {unit}")

    if trace:
        session = {"session.cold_cycle_s": cold_s, "session.peak_rss_mb": rss_mb}
        metrics = layers.finish(workload, layer_metrics, values, session)
    else:
        metrics = {name: {"value": value, "unit": unit} for name, (value, unit) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
