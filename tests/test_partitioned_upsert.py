"""Partitioned fact-scale MERGE: only touched partitions are read and
rewritten; untouched partition files stay byte-identical on disk."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.sources.sinks import (
    upsert_parquet_partitioned,
    write_parquet,
)


def _files(path: str, part: str) -> dict[str, float]:
    out = {}
    for f in glob.glob(os.path.join(path, part, "*.parquet")):
        out[f] = os.path.getmtime(f)
    return out


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
        ["k", "part", "v"],
    )
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])

    before_a = _files(path, "part=A")
    before_b = _files(path, "part=B")
    assert before_a and before_b

    # incoming touches only partition A: update k=10, insert k=1000
    incoming = spark.createDataFrame(
        [(10, "A", 999.0), (1000, "A", 111.0)], ["k", "part", "v"]
    )
    upsert_parquet_partitioned(spark, incoming, path, keys=["k"], partition_col="part")

    after = spark.read.parquet(path)
    assert after.count() == 101
    got = {r["k"]: r["v"] for r in after.filter(F.col("k").isin(10, 1000, 60)).collect()}
    assert got == {10: 999.0, 1000: 111.0, 60: 60.0}
    # partition B files untouched (same paths, same mtimes)
    assert _files(path, "part=B") == before_b
    # partition A rewritten
    assert _files(path, "part=A") != before_a


def test_partitioned_upsert_detects_cross_partition_key_move(spark, tmp_path):
    """ADVICE r02: an incoming row whose key exists under a DIFFERENT
    partition value would be silently duplicated by dynamic overwrite
    (the old partition is never rewritten). The default check must
    refuse the batch before any write."""
    import pytest

    base = spark.createDataFrame(
        [(1, "A", 1.0), (2, "B", 2.0)], ["k", "part", "v"]
    )
    path = str(tmp_path / "snap3")
    write_parquet(base, path, partition_by=["part"])
    moved = spark.createDataFrame([(2, "A", 9.0)], ["k", "part", "v"])
    with pytest.raises(ValueError, match="across partitions"):
        upsert_parquet_partitioned(
            spark, moved, path, keys=["k"], partition_col="part"
        )
    # nothing was written: snapshot unchanged
    rows = {r["k"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("A", 1.0), 2: ("B", 2.0)}
    # opt-out path still writes (caller owns the invariant)
    upsert_parquet_partitioned(
        spark, moved, path, keys=["k"], partition_col="part",
        check_moved_keys=False,
    )
    assert spark.read.parquet(path).count() == 3  # the documented dup
    # partition_col inside keys: a "moved" key is a new key - no check,
    # no raise, straight merge
    base2 = str(tmp_path / "snap4")
    write_parquet(base, base2, partition_by=["part"])
    upsert_parquet_partitioned(
        spark, moved, base2, keys=["k", "part"], partition_col="part"
    )
    assert spark.read.parquet(base2).count() == 3


def test_partitioned_upsert_keep_last_on_duplicate_incoming(spark, tmp_path):
    base = spark.createDataFrame([(1, "A", 1.0, 0)], ["k", "part", "v", "seq"])
    path = str(tmp_path / "snap2")
    write_parquet(base, path, partition_by=["part"])
    incoming = spark.createDataFrame(
        [(1, "A", 5.0, 1), (1, "A", 7.0, 2)], ["k", "part", "v", "seq"]
    )
    upsert_parquet_partitioned(
        spark, incoming, path, keys=["k"], partition_col="part", order_col="seq"
    )
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0]["v"] == 7.0


# ---------------------------------------------------------------------------
# Commit-log snapshot store: merge, retention and crash windows
# ---------------------------------------------------------------------------


def _store_rows(spark, path):
    from formula1_etl_analytics_project_spark.sources.sinks import read_snapshot

    return {r["k"]: r["v"] for r in read_snapshot(spark, path).collect()}


def _snap_dirs(path):
    return sorted(n for n in os.listdir(path) if n.startswith("_snap_"))


def test_versioned_upsert_merges_and_prunes(spark, tmp_path):
    from formula1_etl_analytics_project_spark.sources import sinks

    path = str(tmp_path / "store")
    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
    sinks.upsert_parquet_versioned(spark, base, path, keys=["k"])
    assert _store_rows(spark, path) == {1: 1.0, 2: 2.0}
    v1 = sinks.read_current_version(path)

    inc = spark.createDataFrame([(2, 9.0), (3, 3.0)], ["k", "v"])
    sinks.upsert_parquet_versioned(spark, inc, path, keys=["k"])
    assert _store_rows(spark, path) == {1: 1.0, 2: 9.0, 3: 3.0}
    v2 = sinks.read_current_version(path)

    # current + previous retained (in-flight readers), older pruned
    assert _snap_dirs(path) == [v1, v2]
    assert v1.startswith("_snap_00000001_") and v2.startswith("_snap_00000002_")
    sinks.upsert_parquet_versioned(
        spark, spark.createDataFrame([(4, 4.0)], ["k", "v"]), path, keys=["k"]
    )
    v3 = sinks.read_current_version(path)
    assert v3.startswith("_snap_00000003_")
    assert _snap_dirs(path) == [v2, v3]


def test_versioned_upsert_kill_windows_never_lose_the_snapshot(spark, tmp_path):
    """Walk one commit step by step, crashing after each step, and prove
    a reader ALWAYS gets a complete snapshot - there is no
    delete-before-write window anywhere."""
    from formula1_etl_analytics_project_spark.sources import sinks

    path = str(tmp_path / "store")
    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
    sinks.upsert_parquet_versioned(spark, base, path, keys=["k"])
    old = _store_rows(spark, path)
    current = sinks.read_current_version(path)
    merged = sinks.upsert(
        sinks.read_snapshot(spark, path),
        spark.createDataFrame([(2, 9.0)], ["k", "v"]),
        ["k"],
    )

    # CRASH after step 1 (new snapshot fully written, commit 2 not
    # claimed): the orphan is invisible, the reader sees the old
    # snapshot intact
    v2 = "_snap_00000002_0000feed"
    sinks.write_parquet(merged, os.path.join(path, v2))
    assert sinks.read_current_version(path) == current
    assert _store_rows(spark, path) == old

    # step 2 is a single atomic link of the full commit file: afterwards
    # the reader sees the new snapshot; the previous dir is STILL on
    # disk for readers that resolved the old head
    assert sinks._claim(path, 2, v2)
    assert sinks.read_current_version(path) == v2
    assert _store_rows(spark, path) == {1: 1.0, 2: 9.0}
    assert {r["k"]: r["v"] for r in sinks.read_snapshot(spark, path, version=1).collect()} == old
    # a writer racing for the same commit number loses the claim
    assert not sinks._claim(path, 2, "_snap_00000002_0000beef")
    assert sinks.read_current_version(path) == v2

    # a crashed writer's orphan for commit 3 stays invisible; the next
    # successful upsert claims commit 3 with its own dir, its vacuum
    # reclaims the orphan and keeps current + previous - the store
    # converges, nothing is duplicated
    orphan = "_snap_00000003_0000dead"
    sinks.write_parquet(merged, os.path.join(path, orphan))
    assert _store_rows(spark, path) == {1: 1.0, 2: 9.0}
    assert sinks.upsert_parquet_versioned(
        spark, spark.createDataFrame([(5, 5.0)], ["k", "v"]), path, keys=["k"]
    ) == 3
    v3 = sinks.read_current_version(path)
    assert v3 != orphan and v3.startswith("_snap_00000003_")
    assert _store_rows(spark, path) == {1: 1.0, 2: 9.0, 5: 5.0}
    assert _snap_dirs(path) == sorted([v2, v3])


def test_partitioned_upsert_evolve_schema_mixed_lake(spark, tmp_path):
    """evolve_schema=True: an incoming batch carrying a brand-new
    column rewrites ONLY its partitions with the widened schema;
    untouched partition files stay byte-identical (old schema), and a
    mergeSchema read NULL-fills the column for them - the
    Delta mergeSchema-on-MERGE composition (VERDICT r06 task 7)."""
    base = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
        ["k", "part", "v"],
    )
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])
    before_b = _files(path, "part=B")

    incoming = spark.createDataFrame(
        [(10, "A", 999.0, "x"), (1000, "A", 111.0, "y")],
        ["k", "part", "v", "tag"],
    )
    upsert_parquet_partitioned(
        spark, incoming, path, keys=["k"], partition_col="part",
        evolve_schema=True,
    )

    # B untouched on disk: still the ORIGINAL schema, same files
    assert _files(path, "part=B") == before_b
    b_direct = spark.read.parquet(os.path.join(path, "part=B"))
    assert "tag" not in b_direct.columns

    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert merged.count() == 101
    got = {
        r["k"]: (r["v"], r["tag"])
        for r in merged.filter(F.col("k").isin(10, 1000, 20, 60)).collect()
    }
    assert got == {
        10: (999.0, "x"),       # updated row carries the new column
        1000: (111.0, "y"),     # inserted row carries it
        20: (20.0, None),       # un-updated row in the REWRITTEN partition
        60: (60.0, None),       # row in the untouched old-schema partition
    }


def test_partitioned_upsert_without_evolve_rejects_new_column(spark, tmp_path):
    """Default (evolve_schema=False) keeps strict-pipeline semantics:
    silent schema drift must fail loudly, not widen the table."""
    import pytest

    base = spark.createDataFrame([(1, "A", 1.0)], ["k", "part", "v"])
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])
    incoming = spark.createDataFrame(
        [(1, "A", 2.0, "x")], ["k", "part", "v", "tag"]
    )
    with pytest.raises(Exception):
        upsert_parquet_partitioned(
            spark, incoming, path, keys=["k"], partition_col="part"
        )


def test_partitioned_upsert_second_evolving_merge_preserves_values(
    spark, tmp_path
):
    """A SECOND evolve_schema merge on the mixed lake must read the
    snapshot with mergeSchema: a plain read picks its schema from an
    arbitrary footer, and when an old-schema file wins the evolved
    column's stored values get NULLed out in the rewritten
    partitions - silent data loss (round-7 review finding)."""
    base = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
        ["k", "part", "v"],
    )
    path = str(tmp_path / "snap")
    write_parquet(base, path, partition_by=["part"])

    first = spark.createDataFrame(
        [(10, "A", 999.0, "x")], ["k", "part", "v", "tag"]
    )
    upsert_parquet_partitioned(
        spark, first, path, keys=["k"], partition_col="part",
        evolve_schema=True,
    )
    # second evolving merge touches A again with a DIFFERENT key; the
    # stored tag of k=10 must survive the partition rewrite
    second = spark.createDataFrame(
        [(11, "A", 111.0, "y")], ["k", "part", "v", "tag"]
    )
    upsert_parquet_partitioned(
        spark, second, path, keys=["k"], partition_col="part",
        evolve_schema=True,
    )
    merged = spark.read.option("mergeSchema", True).parquet(path)
    got = {
        r["k"]: r["tag"]
        for r in merged.filter(F.col("k").isin(10, 11, 60)).collect()
    }
    assert got == {10: "x", 11: "y", 60: None}
