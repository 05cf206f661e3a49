"""Per-layer metrics of the traced run.

``traced_loop`` installs runtime wrappers around the public layer calls
``etl.run_etl`` makes (``etl.read_wide_csv``, every ``etl.BUILDERS``
entry, ``etl.write_parquet``) and around
``streaming.pipeline.upsert_parquet_versioned`` - no source edit; the
originals are restored afterwards - then runs the workload's measured
loop with a ``Tracer`` and turns each operation's span tree into metric
samples. Each per-layer metric is the median over operations of its
per-operation value (0 when the workload never exercises that layer).
The ``trace.*`` metrics are the traced run's own end-to-end figures
(Spark UI on, wrappers installed); minus the ``--trace 0`` run's
figures they give the tracing overhead.

One deliberate perturbation: the traced ``read_wide_csv`` forces the
cached scan (``cache().count()``) inside its span, so the CSV parse is
timed as the reader's work instead of hiding inside the first table's
write.
"""

from __future__ import annotations

import os
import statistics
import time

from spans import Tracer, walk
from workloads import ANALYTICS_FNS, MERGE, OPERATOR_ENTRIES, RELATIONAL_ENTRIES, STAR_SQL, parquet_files

STAR_TABLES = [
    "date_dim", "location_dim", "status_dim", "driver", "team", "race",
    "time_dim", "sprint", "free_practice", "qualification", "laps",
    "pit_stop", "results", "driver_standings", "team_standings",
]
UPSERT = "sources.sinks.upsert_parquet_versioned"


def _names() -> list[tuple[str, str]]:
    out = [
        ("session.start_ms", "ms"),
        ("session.cold_cycle_s", "s"),
        ("session.peak_rss_mb", "MB"),
        ("session.executor_cpu_ms", "ms"),
        ("session.jvm_gc_ms", "ms"),
        ("session.shuffle_fetch_wait_ms", "ms"),
        ("session.spill_bytes", "bytes"),
        ("session.failed_tasks", "count"),
        ("sources.readers.read_wide_csv.exec_ms", "ms"),
        ("sources.readers.input_bytes", "bytes"),
    ]
    out += [(f"plans.star.{t}.exec_ms", "ms") for t in STAR_TABLES]
    out += [
        ("plans.star.build_ms", "ms"),
        ("plans.star.shuffle_write_bytes", "bytes"),
        ("plans.star.spill_bytes", "bytes"),
        ("sources.sinks.write_parquet.ms", "ms"),
        ("sources.sinks.write_parquet.output_bytes", "bytes"),
        ("sources.sinks.write_parquet.files", "count"),
    ]
    for fn in ANALYTICS_FNS:
        out += [(f"plans.analytics.{fn}.plan_ms", "ms"), (f"plans.analytics.{fn}.exec_ms", "ms")]
    for name in STAR_SQL:
        out += [(f"plans.sql.{name}.plan_ms", "ms"), (f"plans.sql.{name}.exec_ms", "ms")]
    for e in RELATIONAL_ENTRIES:
        out += [
            (f"plans.catalog.{e}.plan_ms", "ms"),
            (f"plans.catalog.{e}.exec_ms", "ms"),
            (f"plans.catalog.{e}.jobs", "count"),
            (f"plans.catalog.{e}.stages", "count"),
            (f"plans.catalog.{e}.tasks", "count"),
        ]
    out += [
        (f"{MERGE}.ms", "ms"),
        ("streaming.readback.ms", "ms"),
        (f"{UPSERT}.ms", "ms"),
        (f"{UPSERT}.input_bytes", "bytes"),
        (f"{UPSERT}.output_bytes", "bytes"),
        (f"{UPSERT}.files", "count"),
        (f"{UPSERT}.write_amp", "ratio"),
    ]
    for e in OPERATOR_ENTRIES:
        out += [
            (f"operators.{e}.exec_ms", "ms"),
            (f"operators.{e}.cpu_ms", "ms"),
            (f"operators.{e}.core_util", "ratio"),
            (f"operators.{e}.shuffle_bytes", "bytes"),
            (f"operators.{e}.spill_bytes", "bytes"),
        ]
    out += [
        ("trace.setup_s", "s"),
        ("trace.op_p50_ms", "ms"),
        ("trace.ops_per_s", "1/s"),
    ]
    return out


PER_LAYER = _names()


def _spill(s) -> float:
    return s.rolled("mem_spill_bytes") + s.rolled("disk_spill_bytes")


def op_samples(root, cores: int) -> dict[str, float]:
    """Metric values of one operation's span tree (summed when a layer
    is called more than once per operation)."""
    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for s in walk(root):
        n = s.name
        if n == "sources.readers.read_wide_csv":
            add(f"{n}.exec_ms", s.ms)
            add("sources.readers.input_bytes", s.rolled("input_bytes"))
        elif n.startswith("plans.star.") and n.endswith(".build"):
            add("plans.star.build_ms", s.ms)
        elif n.startswith("plans.star."):
            add(f"{n}.exec_ms", s.ms)
            add("plans.star.shuffle_write_bytes", s.rolled("shuffle_write_bytes"))
            add("plans.star.spill_bytes", _spill(s))
        elif n == "sources.sinks.write_parquet":
            add(f"{n}.ms", s.ms)
            add(f"{n}.output_bytes", s.rolled("output_bytes"))
            add(f"{n}.files", s.extra.get("files", 0))
        elif n.startswith(("plans.analytics.", "plans.sql.", "plans.catalog.")):
            add(f"{n}.plan_ms", s.extra.get("plan_ms", 0.0))
            add(f"{n}.exec_ms", s.extra.get("exec_ms", s.ms))
            if n.startswith("plans.catalog."):
                for k in ("jobs", "stages", "tasks"):
                    add(f"{n}.{k}", s.rolled(k))
        elif n in (MERGE, "streaming.readback"):
            add(f"{n}.ms", s.ms)
        elif n == UPSERT:
            add(f"{n}.ms", s.ms)
            add(f"{n}.input_bytes", s.rolled("input_bytes"))
            add(f"{n}.output_bytes", s.rolled("output_bytes"))
            add(f"{n}.files", s.extra.get("files", 0))
        elif n.startswith("operators."):
            cpu_ms = s.rolled("cpu_ns") / 1e6
            add(f"{n}.exec_ms", s.ms)
            add(f"{n}.cpu_ms", cpu_ms)
            add(f"{n}.core_util", cpu_ms / (s.ms * cores) if s.ms else 0.0)
            add(f"{n}.shuffle_bytes", s.rolled("shuffle_write_bytes"))
            add(f"{n}.spill_bytes", _spill(s))
    return out


def install_wrappers(ctx):
    """Wrap the layer calls ``run_etl`` and ``merge_epoch_batch`` make,
    from outside; returns the undo function."""
    etl, pipeline, tr = ctx.m.etl, ctx.m.pipeline, ctx.tracer
    orig_read, orig_write = etl.read_wide_csv, etl.write_parquet
    orig_builders = dict(etl.BUILDERS)
    orig_upsert = pipeline.upsert_parquet_versioned
    current = {"table": None}

    def read_wide_csv(spark, path):
        with tr.span("sources.readers.read_wide_csv"):
            df = orig_read(spark, path)
            df.cache().count()
        return df

    def builder(name, fn):
        def build(wide):
            current["table"] = name
            with tr.span(f"plans.star.{name}.build"):
                return fn(wide)

        return build

    def write_parquet(df, path, mode="overwrite", partition_by=None):
        with tr.span(f"plans.star.{current['table']}"):
            with tr.span("sources.sinks.write_parquet") as s:
                orig_write(df, path, mode=mode, partition_by=partition_by)
            s.extra["files"] = len(parquet_files(path))

    def upsert(spark, incoming, path, keys, *a, **kw):
        with tr.span(UPSERT) as s:
            out = orig_upsert(spark, incoming, path, keys, *a, **kw)
        version = ctx.m.sinks.read_current_version(path)
        s.extra["files"] = len(parquet_files(os.path.join(path, version)))
        return out

    etl.read_wide_csv, etl.write_parquet = read_wide_csv, write_parquet
    etl.BUILDERS.update({n: builder(n, f) for n, f in orig_builders.items()})
    pipeline.upsert_parquet_versioned = upsert

    def undo():
        etl.read_wide_csv, etl.write_parquet = orig_read, orig_write
        etl.BUILDERS.update(orig_builders)
        pipeline.upsert_parquet_versioned = orig_upsert

    return undo


def traced_loop(ctx, workload, run_id, seconds, records, run_loop) -> tuple[float, dict]:
    """Run the workload's measured loop with tracing on; returns its
    wall time and the raw per-operation samples and session deltas for
    ``finish``."""
    ctx.tracer = tracer = Tracer(
        ctx.spark, run_id, os.path.join(ctx.run_dir, "spans.jsonl"), time.perf_counter()
    )
    undo = install_wrappers(ctx)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    samples: list[dict[str, float]] = []

    def on_op(rec):
        tracer.attribute(rec["root"])
        samples.append(op_samples(rec["root"], cores))

    before, gc0 = tracer.stage_totals(), tracer.executor_gc_ms()
    try:
        wall = run_loop(ctx, workload, seconds, records, on_op)
    finally:
        undo()
        ctx.tracer = None
    after, gc1 = tracer.stage_totals(), tracer.executor_gc_ms()
    tracer.close()
    n = max(1, len(records))
    delta = {k: after.get(k, 0.0) - before.get(k, 0.0) for k in after}
    return wall, {
        "samples": samples,
        "session": {
            "session.start_ms": ctx.session_start_ms,
            "session.executor_cpu_ms": delta.get("cpu_ns", 0.0) / 1e6 / n,
            "session.jvm_gc_ms": (gc1 - gc0) / n,
            "session.shuffle_fetch_wait_ms": delta.get("fetch_wait_ms", 0.0) / n,
            "session.spill_bytes": (delta.get("mem_spill_bytes", 0.0) + delta.get("disk_spill_bytes", 0.0)) / n,
            "session.failed_tasks": delta.get("failed_tasks", 0.0),
        },
    }


def finish(workload, raw: dict, e2e: dict[str, float], session: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json, 0 where not exercised;
    ``e2e`` holds the traced run's end-to-end values."""
    values: dict[str, list[float]] = {}
    for sample in raw["samples"]:
        for k, v in sample.items():
            values.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in values.items()}
    out.update(raw["session"], **session)
    if getattr(workload, "write_amp", None):
        out[f"{UPSERT}.write_amp"] = statistics.median(workload.write_amp)
    out.update({f"trace.{k}": v for k, v in e2e.items()})
    return {name: {"value": out.get(name, 0.0), "unit": unit} for name, unit in PER_LAYER}
