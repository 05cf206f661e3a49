"""The benchmark's own tests: seeded inputs, metric names against
BENCHMARK.json, the out-of-checkout refusal, and a tiny-scale smoke
cycle of every workload (untraced and traced) in one session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

import gen
import layers
import run
from workloads import SCALES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(root, n), "rb") as fh:
                h.update(n.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        w = WORKLOADS[name](seed, str(tmp_path / str(i)), "tiny")
        w.generate()
        digests.append(_digest(w.gen_dir))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_same_seed_gives_identical_etl_truth():
    races, laps, _, _ = SCALES["tiny"]
    a = gen.etl_truth(gen.wide_frame(3, n_races=races, laps_per=laps))
    b = gen.etl_truth(gen.wide_frame(3, n_races=races, laps_per=laps))
    assert a == b and len(a) == 15 and all(n > 0 for n in a.values())


def test_wide_csv_has_the_66_column_contract_and_valid_dates(tmp_path):
    frame = gen.wide_frame(1, n_races=30, laps_per=2, bad_rate=0.0)
    path = str(tmp_path / "wide.csv")
    gen.write_wide_csv(frame, path)
    with open(path) as fh:
        assert fh.readline().strip().split(",") == gen.WIDE_COLUMNS
    assert len(gen.WIDE_COLUMNS) == 66
    # every race date parses (the fixture's 202x-0{race+1} scheme would not)
    assert pd.to_datetime(frame["date"], format="%Y-%m-%d", errors="coerce").notna().all()


def test_merge_batches_are_key_unique_and_grow_by_one_race():
    star = gen.star_tables(2, n_races=5, future_races=3)
    current = star["results"]
    for i in (1, 2):
        batch = gen.merge_batch(2, i, current, 5 + i, 20)
        assert batch["resultId"].is_unique
        current = gen.apply_batch(current, batch)
    assert len(current) == len(star["results"]) + 2 * 20
    assert current["resultId"].is_unique


def test_metric_names_match_benchmark_json_both_ways():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [w.why for w in WORKLOADS.values()]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_full_reload",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    run.pin_environment(run_dir)
    ctx = SimpleNamespace(run_dir=run_dir, tracer=None)
    ctx.m = run.import_modules()
    ctx.spark = run.start_session(ctx, trace=True)
    ctx.session_start_ms = 1.0
    yield ctx
    run.shutdown(ctx)


# the layers each workload must report as exercised in a traced cycle
EXERCISED = {
    "etl_full_reload": ["plans.star.results.exec_ms", "sources.sinks.write_parquet.files", "sources.readers.input_bytes"],
    "dashboard_mix": [
        "plans.analytics.season_team_rollup.exec_ms",
        "plans.catalog.asof_join.stages",
        "sources.sinks.upsert_parquet_versioned.output_bytes",
        "operators.minhash_lsh_pairs.cpu_ms",
    ],
}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_smoke_cycle_untraced_and_traced(ctx, tmp_path, name):
    w = WORKLOADS[name](1, str(tmp_path / "gen"), "tiny")
    w.generate()
    os.makedirs(tmp_path / "stage")
    w.stage(ctx, str(tmp_path / "stage"))
    if hasattr(w, "prepare_oracles"):
        w.prepare_oracles(ctx)
    recs = [run.execute(ctx, op) for op in w.cycle(ctx)]
    assert recs and all(r["ok"] for r in recs), [r["name"] for r in recs if not r["ok"]]

    traced: list[dict] = []
    _, raw = layers.traced_loop(ctx, w, f"test-{name}", 0.001, traced, run.run_loop)
    assert traced and all(r["ok"] for r in traced)
    assert w.final_check(ctx) == []
    e2e = {name: 1.0 for name, _ in run.E2E}
    metrics = layers.finish(w, raw, e2e, {"session.cold_cycle_s": 1.0, "session.peak_rss_mb": 1.0})
    assert list(metrics) == [n for n, _ in layers.PER_LAYER]
    for key in EXERCISED[name]:
        assert metrics[key]["value"] > 0, key
