"""Tests for the commit-log snapshot store (sources/sinks.py
upsert_parquet_versioned / read_snapshot): optimistic concurrency on
plain parquet.

The writer-race tests are GENUINELY concurrent (threads merging
batches against the same store) and assert no lost updates - the
anomaly a last-write-wins pointer store cannot prevent and the reason
transactional table formats exist - and, for streaming epochs, that
every epoch is applied exactly once.
"""

from __future__ import annotations

import os
import sys
import threading

from formula1_etl_analytics_project_spark.sources.sinks import (
    read_snapshot,
    upsert_parquet_versioned,
)


def _head(path: str) -> int:
    """Number of the latest commit (commits are numbered 1, 2, ...)."""
    return len([n for n in os.listdir(f"{path}/_log") if n.endswith(".commit")])


def test_commit_log_basic_merge(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("clog") / "store")
    n1 = upsert_parquet_versioned(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path,
        ["k"],
    )
    assert n1 == 1
    n2 = upsert_parquet_versioned(
        spark,
        spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"),
        path,
        ["k"],
    )
    assert n2 == 2
    snap = {r["k"]: r["v"] for r in read_snapshot(spark, path).collect()}
    assert snap == {1: "a", 2: "b2", 3: "c"}
    assert _head(path) == 2


def test_concurrent_writers_lose_no_updates(spark, tmp_path_factory):
    """Two writers race 5 commits each over disjoint key ranges; every
    one of the 10 batches must survive in the final snapshot. A
    pointer store would interleave read-merge-swap and silently drop
    whole batches."""
    path = str(tmp_path_factory.mktemp("clog_mw") / "store")
    errors: list[Exception] = []

    def writer(offset: int) -> None:
        try:
            for i in range(5):
                batch = spark.createDataFrame(
                    [(offset + i, f"w{offset}_{i}")], "k long, v string"
                )
                upsert_parquet_versioned(spark, batch, path, ["k"], max_retries=30)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors

    snap = {r["k"]: r["v"] for r in read_snapshot(spark, path).collect()}
    expected = {100 + i: f"w100_{i}" for i in range(5)}
    expected.update({200 + i: f"w200_{i}" for i in range(5)})
    assert snap == expected
    # exactly 10 commits happened - one per applied batch
    assert _head(path) == 10


def test_concurrent_epoch_writers_apply_each_epoch_once(spark, tmp_path_factory):
    """More writer threads than cores deliver the same epoch sequence
    0..k through merge_epoch_batch to one store. The epoch check runs
    inside each claim attempt, so every epoch is applied by exactly one
    thread: the others skip it (head already at that epoch) or refuse
    it as a regression (head already past it), and a lost race
    re-checks against the winner's commit. The store ends at epoch k
    holding the fold of the k+1 batches."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        read_current_epoch,
    )
    from formula1_etl_analytics_project_spark.streaming.pipeline import (
        merge_epoch_batch,
    )

    path = str(tmp_path_factory.mktemp("clog_epochs") / "store")
    k = 4
    n_threads = (os.cpu_count() or 1) + 2
    # consecutive epochs overlap on one key, so the fold order matters
    rows = [{e: f"e{e}", e + 1: f"e{e}"} for e in range(k + 1)]
    batches = [
        spark.createDataFrame(list(r.items()), "k long, v string") for r in rows
    ]
    applied: list[int] = []
    errors: list[Exception] = []
    lock = threading.Lock()
    start = threading.Barrier(n_threads)

    def writer() -> None:
        try:
            start.wait(timeout=60)
            for e in range(k + 1):
                try:
                    won = merge_epoch_batch(batches[e], e, path, ["k"])
                except ValueError as exc:
                    if "epoch regression" not in str(exc):
                        raise
                    won = False  # a faster thread already committed past e
                if won:
                    with lock:
                        applied.append(e)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=writer) for _ in range(n_threads)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the racing threads finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
            assert not t.is_alive(), "writer thread hung"
    finally:
        sys.setswitchinterval(switch)
    assert not errors, errors

    assert sorted(applied) == list(range(k + 1))
    assert read_current_epoch(path) == k
    assert _head(path) == k + 1
    model: dict[int, str] = {}
    for r in rows:
        model.update(r)
    snap = {r["k"]: r["v"] for r in read_snapshot(spark, path).collect()}
    assert snap == model


def test_loser_orphans_are_invisible_and_pruned(spark, tmp_path_factory):
    """Underscore-prefixed loser/orphan snapshot dirs must never be
    visible through the committed read path."""
    path = str(tmp_path_factory.mktemp("clog_orph") / "store")
    upsert_parquet_versioned(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path, ["k"]
    )
    # simulate a crashed loser: stranded data dir with no commit file
    os.makedirs(f"{path}/_snap_00000099_deadbeef", exist_ok=True)
    snap = read_snapshot(spark, path)
    assert snap.count() == 1
    assert _head(path) == 1


def test_time_travel_reads_prior_versions(spark, tmp_path_factory):
    """VERSION AS OF over the commit log: retained versions are
    readable by commit number; pruned ones fail loudly, never
    silently wrong."""
    import pytest as _pytest

    path = str(tmp_path_factory.mktemp("clog_tt") / "store")
    upsert_parquet_versioned(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path, ["k"]
    )
    upsert_parquet_versioned(
        spark, spark.createDataFrame([(1, "a2")], "k long, v string"), path, ["k"]
    )
    v1 = {r["k"]: r["v"] for r in read_snapshot(spark, path, version=1).collect()}
    v2 = {r["k"]: r["v"] for r in read_snapshot(spark, path, version=2).collect()}
    assert v1 == {1: "a"} and v2 == {1: "a2"}
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, version=99)


def test_upsert_schema_evolution(spark):
    """mergeSchema twin on the merge path: a new incoming column
    surfaces with NULLs for pre-existing rows; a dropped column
    survives with NULLs for incoming rows; strict mode still fails."""
    import pytest as _pytest

    from formula1_etl_analytics_project_spark.sources.sinks import upsert

    existing = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    incoming = spark.createDataFrame(
        [(2, "b2", 0.9)], "k long, v string, score double"
    )
    merged = upsert(existing, incoming, ["k"], evolve_schema=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b2", 0.9)}
    with _pytest.raises(Exception):
        upsert(existing, incoming, ["k"]).collect()  # strict: loud failure


def test_commit_log_equals_fold_of_upserts(spark, tmp_path_factory):
    """Sequential commit-log semantics == a pure dict fold of the same
    batches, on randomized batch sequences (seeded, deterministic)."""
    import random

    rng = random.Random(31)
    path = str(tmp_path_factory.mktemp("clog_fold") / "store")
    model: dict[int, int] = {}
    for _ in range(6):
        # dict construction keeps each batch KEY-UNIQUE - the upsert
        # contract for order_col=None batches; cross-batch collisions
        # (8-key space) still exercise the merge path every round
        batch = {rng.randrange(8): rng.randrange(1000) for _ in range(3)}
        model.update(batch)
        upsert_parquet_versioned(
            spark,
            spark.createDataFrame(list(batch.items()), "k long, v long"),
            path,
            ["k"],
        )
    got = {r["k"]: r["v"] for r in read_snapshot(spark, path).collect()}
    assert got == model


def test_stranded_temp_claims_are_inert(spark, tmp_path_factory):
    """A writer crashing between its temp-claim write and the link()
    (or between link and unlink) strands a dot-prefixed temp file in
    _log/. It must be invisible to commit resolution and must not
    block subsequent commits."""
    path = str(tmp_path_factory.mktemp("clog_tmp") / "store")
    upsert_parquet_versioned(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path, ["k"]
    )
    # simulate both crash windows
    with open(f"{path}/_log/.claim_tmp_deadbeef", "w") as f:
        f.write("_snap_00000099_feedface\n")
    assert _head(path) == 1  # temp claim not a commit
    upsert_parquet_versioned(
        spark, spark.createDataFrame([(2, "b")], "k long, v string"), path, ["k"]
    )
    assert _head(path) == 2
    snap = {r["k"]: r["v"] for r in read_snapshot(spark, path).collect()}
    assert snap == {1: "a", 2: "b"}
    assert os.path.exists(f"{path}/_log/.claim_tmp_deadbeef")  # left alone


def test_vacuum_keeps_recent_versions_and_fails_loud_on_old(spark, tmp_path_factory):
    from formula1_etl_analytics_project_spark.sources.sinks import (
        vacuum_commit_log,
    )
    import pytest as _pytest

    path = str(tmp_path_factory.mktemp("clog_vac") / "store")
    for i in range(4):
        upsert_parquet_versioned(
            spark,
            spark.createDataFrame([(1, f"v{i}")], "k long, v string"),
            path,
            ["k"],
        )
    # the upsert's own prune already keeps only current+previous, so
    # vacuum to keep_last=1 removes exactly the previous snapshot
    removed = vacuum_commit_log(path, keep_last=1)
    assert removed == 1
    assert read_snapshot(spark, path, version=4).collect()[0]["v"] == "v3"
    # older versions: loud pruned-snapshot error, never silent wrong data
    with _pytest.raises(FileNotFoundError, match="pruned"):
        read_snapshot(spark, path, version=3)
    with _pytest.raises(FileNotFoundError, match="pruned"):
        read_snapshot(spark, path, version=1)
    # the store still accepts new commits after vacuum
    upsert_parquet_versioned(
        spark, spark.createDataFrame([(2, "x")], "k long, v string"), path, ["k"]
    )
    assert _head(path) == 5


def test_vacuum_spares_inflight_writer_snapshots(spark, tmp_path_factory):
    """vacuum_commit_log must not delete a concurrent writer's staged
    snapshot (written BEFORE its claim link): the dir is unreferenced
    by any commit yet numbered beyond the head. Deleting it would let
    the writer's link succeed with the head pointing at a vacuumed dir
    — every later read/upsert then fails (ADVICE r03). Only dirs at or
    below the head number are vacuum's to reclaim."""
    from formula1_etl_analytics_project_spark.sources.sinks import (
        vacuum_commit_log,
    )

    path = str(tmp_path_factory.mktemp("clog_vac_inflight") / "store")
    for i in range(3):
        upsert_parquet_versioned(
            spark,
            spark.createDataFrame([(1, f"v{i}")], "k long, v string"),
            path,
            ["k"],
        )
    head = _head(path)
    # a concurrent writer's staged-but-unclaimed next snapshot...
    inflight = f"_snap_{head + 1:08d}_cafebabe"
    os.makedirs(f"{path}/{inflight}")
    with open(f"{path}/{inflight}/part-0.parquet", "w") as f:
        f.write("staged")
    # ...and a crash orphan from an old losing writer
    orphan = "_snap_00000001_0badf00d"
    os.makedirs(f"{path}/{orphan}", exist_ok=True)
    removed = vacuum_commit_log(path, keep_last=2)
    assert os.path.exists(f"{path}/{inflight}/part-0.parquet"), (
        "vacuum deleted an in-flight writer's staged snapshot"
    )
    assert not os.path.exists(f"{path}/{orphan}")
    assert removed >= 1
    # the in-flight writer can still claim and the store stays readable
    upsert_parquet_versioned(
        spark, spark.createDataFrame([(2, "x")], "k long, v string"), path, ["k"]
    )
    snap = {r["k"]: r["v"] for r in read_snapshot(spark, path).collect()}
    assert snap == {1: "v2", 2: "x"}
