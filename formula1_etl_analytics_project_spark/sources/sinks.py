"""Sinks: batch parquet writes and the merge-on-key upsert.

Reference behavior being replaced (SURVEY.md section 2.1/2.4):
  * S4/S5 - one string-built ``INSERT`` per row executed through a
    fresh ``MsSqlOperator`` (``driver_etl.py:87-96``) - the reference's
    dominant perf bug. Here: a single distributed columnar write.
  * S6 - idempotent reset via ``DELETE FROM`` x14 (``DDL
    Final.sql:338-352``) -> ``mode='overwrite'``.
  * J3 - the orphaned ``MERGE INTO`` upsert experiment
    (``__pycache__/resultssss.cpython-38.pyc``) -> left-anti join of
    existing rows against incoming keys, then union-append. With plain
    parquet (no Delta in this image) the merge materializes a new
    snapshot, published through ONE snapshot store: a commit log of
    atomically claimed commit files over immutable snapshot dirs
    (``upsert_parquet_versioned`` / ``read_snapshot`` - multi-writer,
    time travel, streaming epochs). On Delta/Iceberg the same logical
    plan becomes MERGE.

Scale notes: ``partition_by`` should be a low-cardinality natural key
(e.g. year) so 100 TB writes produce prunable directories; the upsert
shuffles both sides by the key - at scale, bucketing the base table on
the merge key turns that into a shuffle-free join.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import uuid

from pyspark.sql import DataFrame, functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC twin of ``write_parquet`` - same columnar/pushdown properties
    through Spark's native ORC source, for sinks that feed Hive/Trino
    estates standardized on ORC."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_sharded(
    df: DataFrame,
    path: str,
    order_col: str | list[str],
    rows_per_file: int = 100_000,
    num_shards: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Training-shard writer: globally ORDERED, size-BOUNDED output
    files - the layout a data loader streams sequentially (e.g. the
    epoch-shuffle key from `epoch_shuffle_docs` as ``order_col`` gives
    resumable pseudorandom shards).

    Mechanics: ``repartitionByRange(order_col)`` gives disjoint,
    ordered key ranges per partition (sampled range bounds - one extra
    sampling pass, no global sort); ``sortWithinPartitions`` orders
    rows inside each; ``maxRecordsPerFile`` splits any oversized
    partition into sequential files, so EVERY output file holds a
    contiguous key range of at most ``rows_per_file`` rows. Verified
    by tests/test_sharded_write.py (per-file caps + non-overlapping
    per-file key ranges).

    At 100 TB this is the answer to both small-files and
    giant-file problems at once: AQE/range sampling sizes the
    partitions, the record cap bounds the worst case, and no stage
    ever funnels through a single task (contrast ``coalesce(1)`` or a
    global ``orderBy`` + single writer).
    """
    if rows_per_file < 1:
        raise ValueError(f"rows_per_file must be >= 1, got {rows_per_file}")
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    out = (
        df.repartitionByRange(num_shards, *cols)
        if num_shards
        else df.repartitionByRange(*cols)
    )
    (
        out.sortWithinPartitions(*cols)
        .write.mode(mode)
        .option("maxRecordsPerFile", rows_per_file)
        .parquet(path)
    )


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """Merge-on-key: incoming rows win; existing rows survive only when
    their key is absent from incoming. Logical twin of SQL MERGE
    (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) for full-row
    updates.

    SQL MERGE errors when the source matches a target row twice; this
    twin resolves it instead: pass ``order_col`` to keep the LAST
    incoming row per key deterministically (highest ``order_col``,
    ANSI "latest version wins"). Without ``order_col`` the caller must
    provide key-unique batches - duplicate incoming keys would
    otherwise all survive the union and corrupt the snapshot's key
    invariant.

    ``evolve_schema`` (Delta ``mergeSchema`` twin): columns that exist
    on only one side surface on the merged output with NULLs for the
    other side's rows - the append-only corpus-growth pattern where
    new metadata columns appear mid-stream and rewriting history is
    not an option. Off by default: silent schema drift in a strict
    pipeline should fail loudly, not widen the table.
    """
    if evolve_schema:
        for c in incoming.columns:
            if c not in existing.columns:
                existing = existing.withColumn(
                    c, F.lit(None).cast(incoming.schema[c].dataType)
                )
        for c in existing.columns:
            if c not in incoming.columns:
                incoming = incoming.withColumn(
                    c, F.lit(None).cast(existing.schema[c].dataType)
                )
    if order_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        incoming = (
            incoming.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    survivors = existing.join(
        incoming.select(*keys).distinct(), on=keys, how="left_anti"
    )
    return survivors.unionByName(incoming)


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change feed (insert/update/delete) to a snapshot.

    ``changes`` carries the snapshot's columns plus ``op_col`` in
    {'I','U','D'} and a monotonically increasing ``seq_col`` (commit
    LSN / binlog position). Per key, only the HIGHEST-``seq_col``
    change matters for a snapshot rebuild - intermediate versions are
    skipped entirely (no row-at-a-time replay):

      1. window row_number per key over ``seq_col`` desc -> latest
         change per key (ties broken by ``op_col`` for determinism;
         a well-formed feed never ties).
      2. snapshot rows whose key appears in the feed are dropped
         (one left-anti join).
      3. latest changes with op != 'D' are unioned in - an 'I'/'U'
         whose key was absent from the snapshot simply inserts, and a
         'D'-then-'I' key at higher seq correctly survives (the
         reducer sees only the final 'I').

    Both steps shuffle on ``keys`` only; at scale the snapshot side
    prunes to touched partitions first (compose with
    ``upsert_parquet_partitioned``). This is the generalization of
    ``upsert`` (which cannot express deletes) and the logical twin of
    ``MERGE ... WHEN MATCHED AND op='D' THEN DELETE`` on Delta/Iceberg
    (unavailable in this image).

    Reference scope note: the reference's loads are truncate-and-
    reload (``DDL Final.sql:338-352``); a daily-batch CDC apply is
    what that pattern becomes when the table no longer fits a full
    daily rewrite.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    survivors = snapshot.join(
        latest.select(*keys).distinct(), on=keys, how="left_anti"
    )
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    return survivors.unionByName(upserts)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    buckets: int = 8,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed-table write (``bucketBy`` + ``saveAsTable``).

    Two tables co-bucketed on their join key with the same bucket count
    join WITHOUT a shuffle - each bucket pair joins locally (the plan
    shows SortMergeJoin with no Exchange). This is the 100 TB answer to
    repeated fact-fact joins: pay the partitioning once at write time,
    never again per query. Spark bucketing requires a managed table
    (plain ``.parquet(path)`` cannot record bucket metadata).
    """
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode(mode).bucketBy(buckets, *cols)
    if sort_by:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*scols)
    if path is not None:
        # external table: bucket METADATA lives in the catalog, data
        # files under the caller's path - keeps the warehouse dir (and
        # therefore the CWD) untouched
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
    create_table_column_types: str | None = None,
) -> None:
    """JDBC sink - the batch replacement for the reference's
    one-INSERT-per-row ``MsSqlOperator`` loop (driver_etl.py:87-96).

    Executors write concurrently with ``batchsize``-row prepared-
    statement batches; ``num_partitions`` caps the number of concurrent
    connections. ``create_table_column_types`` overrides the default
    SQL types on CREATE (e.g. ``"tag VARCHAR(64)"`` - Spark's default
    StringType mapping is CLOB/TEXT on several dialects, which some
    engines cannot compare or index).

    Executed end-to-end in tests/test_jdbc_derby.py against embedded
    Derby (the in-JVM database Spark ships) - batch write, commit,
    read-back; no external DB needed.
    """
    writer_df, props = prepare_jdbc_write(df, batch_size, num_partitions, properties)
    writer = writer_df.write
    if create_table_column_types:
        writer = writer.option(
            "createTableColumnTypes", create_table_column_types
        )
    writer.jdbc(url=url, table=table, mode=mode, properties=props)


def prepare_jdbc_write(
    df: DataFrame,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """Construction step of the JDBC sink, split out so the
    batching/concurrency config is testable without a database.

    Returns the (possibly repartitioned) DataFrame and the final JDBC
    properties. One partition = one connection = one stream of
    ``batch_size``-row executeBatch calls - the distributed replacement
    for the reference's one-INSERT-per-row loop.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    writer_df = df.repartition(num_partitions) if num_partitions else df
    props = {"batchsize": str(batch_size), **(properties or {})}
    return writer_df, props


def upsert_parquet_partitioned(
    spark,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
    order_col: str | None = None,
    check_moved_keys: bool | str = True,
    evolve_schema: bool = False,
) -> None:
    """Fact-scale MERGE on partitioned parquet: only the partitions
    that contain incoming keys are read, merged, and rewritten -
    untouched partitions are never scanned and never written. This is
    the plain-parquet form of Delta/Iceberg's row-level MERGE
    (reference's orphaned MERGE INTO experiment, SURVEY J3) at the
    grain that matters at 100 TB: a day's late data rewrites that
    day's partition, not the table.

    PARTITION-STABILITY INVARIANT: a key's partition value must never
    change between batches. Dynamic overwrite only rewrites partitions
    present in the incoming batch, so an incoming row whose key already
    exists under a DIFFERENT partition value would leave the old row in
    place - the key silently duplicated across partitions. With
    ``check_moved_keys=True`` (default) violations are detected before
    any write and raise ``ValueError``: the snapshot is scanned as a
    (keys, partition_col) projection - column-pruned, no data columns -
    and inner-joined against the incoming keys on key-equal AND
    partition-different. The check is skipped automatically when
    ``partition_col`` is itself part of ``keys`` (a moved "key" is then
    a different key by definition). Callers that guarantee stability
    upstream can pass ``check_moved_keys=False`` to skip the
    key-column scan.

    SCALE: the exact check's key-projection scan is O(table) per merge
    - measured in SCALING.md ("Moved-key check at scale": +0.37 s at
    sf0.1 where job latency dominates; the scan term crosses the Bloom
    path's ~3 s fixed overhead around O(10^8) rows on this container,
    far below the 100 TB design point where it becomes a multi-TB
    key-column scan per merge. Decision recorded there. Pass
    ``check_moved_keys="bloom"`` to check against the per-partition
    Bloom index sidecar instead (operators/bloom_index.py): the merge
    then (1) checks exactly inside the partitions it already reads,
    (2) probes incoming keys against the OR of every OTHER partition's
    filter - no table IO - and (3) verifies the FPP-bounded positives
    with a partition-PRUNED exact scan of just the suspect partitions.
    The index must exist (build_key_bloom_index, a one-time full-key
    scan); this function keeps it fresh by rebuilding the touched
    partitions' filters from the merge result after the data write.

    Mechanics: the affected-partition list comes from the incoming
    batch (one tiny distinct - cardinality = touched partitions, e.g.
    days, NOT rows); the existing side is read WITH that partition
    filter (partition pruning - the scan never touches other
    directories); the merge result is localCheckpoint-materialized,
    then written with dynamic partition overwrite, which replaces
    exactly the partitions present in the result. Commit is per
    partition directory, so the window in which a partition is
    replaced non-atomically shrinks to the touched partitions (the
    whole-table store with an atomic commit is
    :func:`upsert_parquet_versioned`).

    ``evolve_schema`` (Delta ``mergeSchema``-on-MERGE twin): the
    incoming batch may carry columns the snapshot lacks (and vice
    versa); :func:`upsert` widens both sides with NULLs. Only the
    TOUCHED partitions are rewritten with the widened schema -
    untouched partition directories keep their old files, so the lake
    is mixed-schema afterwards and readers must scan with
    ``.option("mergeSchema", True)`` (the ``schema_evolution_scan``
    pattern). Off by default: schema drift in a strict pipeline
    should fail loudly.
    """
    if check_moved_keys == "bloom" and partition_col not in keys:
        from formula1_etl_analytics_project_spark.operators import (
            bloom_index as _bi,
        )

        if _bi.read_meta(spark, path) is None:
            raise FileNotFoundError(
                f"check_moved_keys='bloom' but no Bloom index under "
                f"{path}; run build_key_bloom_index(spark, path, keys, "
                f"partition_col, expected_keys_per_partition) once "
                f"(for a brand-new table, after the first upsert)"
            )
    parts = [
        r[0] for r in incoming.select(partition_col).distinct().collect()
    ]
    try:
        # Under evolve_schema the lake may already be mixed-schema
        # from a PRIOR evolving merge (only touched partitions carry
        # new columns). A plain read picks its schema from an
        # arbitrary file footer; if an old-schema file wins, the
        # evolved column vanishes from `existing` and this merge
        # would rewrite its partitions with the stored values
        # NULLed out - silent data loss. mergeSchema unifies the
        # footers so previously-evolved columns always survive.
        existing = (
            spark.read.option("mergeSchema", evolve_schema)
            .parquet(path)
            .filter(F.col(partition_col).isin(parts))
        )
        existing.head(1)
    except Exception:
        existing = None
    if (
        check_moved_keys
        and existing is not None
        and partition_col not in keys
    ):
        incoming_keys = incoming.select(*keys, partition_col).distinct()
        if check_moved_keys == "bloom":
            from formula1_etl_analytics_project_spark.operators import (
                bloom_index as _bi,
            )

            # within the partitions this merge already scans, check
            # exactly (no extra IO); everywhere else, via the index
            snapshot_keys = existing.select(*keys, partition_col)
            moved_outside = _bi.probe_moved_keys(
                spark, path, incoming, keys, partition_col
            ).withColumnRenamed("suspect_partition", "__old_part")
        else:
            snapshot_keys = spark.read.parquet(path).select(
                *keys, partition_col
            )
            moved_outside = None
        moved = (
            snapshot_keys.withColumnRenamed(partition_col, "__old_part")
            .join(incoming_keys, on=keys, how="inner")
            .filter(F.col("__old_part") != F.col(partition_col))
            .select(*keys, "__old_part", partition_col)
        )
        if moved_outside is not None:
            moved = moved.unionByName(
                moved_outside.select(*keys, "__old_part", partition_col)
            )
        n_moved = moved.limit(1).count()
        if n_moved:
            sample = moved.head(5)
            raise ValueError(
                "upsert_parquet_partitioned: incoming batch moves key(s) "
                f"across partitions (e.g. {sample}); dynamic overwrite "
                "would duplicate them. Delete/migrate the old rows first "
                "or include the partition column in the merge keys."
            )
    merged = (
        incoming
        if existing is None
        else upsert(
            existing,
            incoming,
            keys,
            order_col=order_col,
            evolve_schema=evolve_schema,
        )
    )
    # materialize before overwriting the files the plan reads
    merged = merged.localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if check_moved_keys == "bloom" and partition_col not in keys:
        from formula1_etl_analytics_project_spark.operators import (
            bloom_index as _bi,
        )

        _bi.update_key_bloom_index(spark, path, merged, keys, partition_col)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. The 100 TB lake-maintenance op -
    streaming sinks and fine-grained upserts accrete kilobyte files,
    and every downstream scan then pays a task per file; periodic
    compaction restores ~``target_file_bytes`` files (128 MB default,
    the usual HDFS/S3 sweet spot).

    Writes a staging dir first, then swaps it in (delete + rename), so
    a crash during the write keeps the original directory. Returns the output file count.
    ``coalesce`` (not ``repartition``) avoids a shuffle - compaction is
    pure IO. Partitioned layouts should compact per partition directory
    (call this per partition path) so untouched partitions stay put.

    Staging safety: the staging dir lives in the SAME parent (so the
    final rename is a same-filesystem metadata op) but under an
    underscore-prefixed basename - ``<parent>/_compact_tmp_<base>_<hex>``
    - which Spark/Hive/Presto readers skip by convention. A plain
    ``<path>__compact_<hex>`` sibling would parse as an extra Hive
    partition of the parent table when ``path`` is a partition
    directory like ``.../part=A``, silently duplicating rows after a
    crash or during the write window. ``<base>`` is sanitized to
    alphanumerics (an ``=`` in the staging name would itself be parsed
    as a partition column by directory discovery, underscore prefix or
    not); keeping the per-target prefix means concurrent compactions of
    SIBLING partitions never clean each other's live staging. Stale
    ``_compact_tmp_<base>_*`` dirs for the same target (from a crashed
    earlier run) are cleaned on entry.
    """
    import math as _math
    import posixpath as _pp
    import re as _re
    import uuid as _uuid

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(hconf)
    parent, base = _pp.split(path.rstrip("/"))
    safe_base = _re.sub(r"[^A-Za-z0-9]+", "-", base)
    stale_prefix = f"_compact_tmp_{safe_base}_"
    for status in fs.listStatus(Path(parent)):
        name = status.getPath().getName()
        if name.startswith(stale_prefix):
            fs.delete(status.getPath(), True)
    summary = fs.getContentSummary(Path(path))
    n_files = max(1, _math.ceil(summary.getLength() / target_file_bytes))
    df = spark.read.parquet(path)
    staging = _pp.join(parent, f"{stale_prefix}{_uuid.uuid4().hex[:12]}")
    df.coalesce(n_files).write.mode("overwrite").parquet(staging)
    fs.delete(Path(path), True)
    fs.rename(Path(staging), Path(path))
    return n_files


# ---------------------------------------------------------------------------
# Snapshot store: a commit log over immutable parquet snapshots
# ---------------------------------------------------------------------------

_LOG_DIR = "_log"


def _log_path(path: str) -> str:
    return posixpath.join(path, _LOG_DIR)


def _head(path: str) -> int | None:
    """Latest commit number in ``path/_log/``, or None for an empty
    store. The log is the source of truth: a snapshot dir without a
    commit file does not exist."""
    try:
        names = os.listdir(_log_path(path))
    except FileNotFoundError:
        return None
    commits = [n for n in names if n.endswith(".commit")]
    return int(max(commits).split(".")[0]) if commits else None


def _read_commit(path: str, n: int) -> tuple[str, int | None]:
    """(snapshot dir, streaming epoch or None) named by commit ``n``.
    A commit file is one line: ``<snap_dir>`` or ``<snap_dir> epoch=N``."""
    with open(posixpath.join(_log_path(path), f"{n:08d}.commit")) as f:
        snap_dir, *tags = f.read().split()
    epochs = [int(t[len("epoch="):]) for t in tags if t.startswith("epoch=")]
    return snap_dir, (epochs[0] if epochs else None)


def read_current_version(path: str) -> str | None:
    """Directory name, relative to ``path``, of the head commit's
    snapshot (e.g. ``_snap_00000003_1a2b3c4d``), or None for an empty
    store."""
    head = _head(path)
    return None if head is None else _read_commit(path, head)[0]


def read_current_epoch(path: str) -> int | None:
    """Streaming epoch recorded in the head commit, or None if the
    store is empty or its head was not written by an epoch-tagged
    merge. The epoch is part of the commit file, so it is published
    atomically with the snapshot it describes and the two can never be
    observed out of sync - this is what makes foreachBatch replay
    exactly-once (see streaming.pipeline.merge_epoch_batch)."""
    head = _head(path)
    return None if head is None else _read_commit(path, head)[1]


def read_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Read the head snapshot, or - time travel - the snapshot as of
    commit ``version`` (Delta's ``VERSION AS OF`` twin). Every commit
    names its immutable snapshot dir, so any retained version is
    readable by number; each upsert keeps the last two commits'
    snapshots (see :func:`vacuum_commit_log`). Raises
    ``FileNotFoundError`` for an empty store, a commit that does not
    exist, or one whose snapshot was vacuumed - never silently wrong
    data."""
    if version is None:
        version = _head(path)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {path}")
    try:
        snap_dir = _read_commit(path, version)[0]
    except FileNotFoundError:
        raise FileNotFoundError(
            f"commit {version} does not exist under {path}"
        ) from None
    full = posixpath.join(path, snap_dir)
    if not os.path.isdir(full):
        raise FileNotFoundError(
            f"commit {version} exists but its snapshot {snap_dir} was "
            f"pruned by the retention policy"
        )
    return spark.read.parquet(full)


def _claim(path: str, n: int, snap_dir: str, epoch_id: int | None = None) -> bool:
    """Publish commit ``n`` naming ``snap_dir`` (and ``epoch_id``)
    ATOMICALLY WITH ITS CONTENT. The line is written and fsynced to a
    writer-private temp file first, then ``os.link`` publishes it under
    the claim name: one atomic directory operation that fails with
    ``FileExistsError`` if another writer claimed ``n`` first. There is
    no window where the claim exists empty (an O_EXCL create-then-write
    would expose exactly that window to readers and to crashes).
    Returns False on a lost race.

    Stale ``.claim_tmp_`` files from crashed writers are left in place
    deliberately - unlinking them would race an in-flight writer
    between its temp write and its link. They are dot-prefixed
    (invisible to readers) and tiny."""
    log = _log_path(path)
    tmp = posixpath.join(log, f".claim_tmp_{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as f:
        f.write(snap_dir + ("" if epoch_id is None else f" epoch={epoch_id}") + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, posixpath.join(log, f"{n:08d}.commit"))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def upsert_parquet_versioned(
    spark,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
    epoch_id: int | None = None,
    max_retries: int = 8,
) -> int | None:
    """Merge-on-key onto the snapshot store with OPTIMISTIC CONCURRENCY
    - the plain-parquet logical twin of a Delta/Iceberg transactional
    MERGE, and the store's only write path. Layout::

        path/_log/00000001.commit   <- "<snap_dir>[ epoch=N]", never deleted
        path/_log/00000002.commit
        path/_snap_00000001_<hex>/  <- immutable plain-parquet snapshots
        path/_snap_00000002_<hex>/

    Each attempt:

      1. read the head commit N and merge ``incoming`` against its
         snapshot;
      2. write the merged snapshot under a WRITER-UNIQUE dir (uuid
         suffix - racing writers never collide on data files);
      3. claim commit N+1 (:func:`_claim`). Exactly one racer wins; a
         loser deletes its orphan snapshot and retries from step 1,
         re-merging against the winner's result. A snapshot-write
         failure is also treated as a lost race (a faster writer's
         retention may remove a lagging writer's base mid-scan).

    Lost updates are impossible: a commit is only ever created against
    the snapshot it merged - proven by the genuinely concurrent writer
    tests in tests/test_commit_log.py. A reader through
    :func:`read_snapshot` sees the previous or the new complete
    snapshot at every instant; nothing is deleted before the new
    snapshot is committed. Crash windows: before the claim -> an orphan
    underscore-prefixed snapshot dir, invisible to readers and
    reclaimed by a later vacuum; after the claim -> the commit is
    complete. The winner then runs :func:`vacuum_commit_log` with
    ``keep_last=2``: the current and previous snapshots stay for
    in-flight readers, in-flight writers' dirs are spared.

    ``epoch_id`` (streaming callers, see
    streaming.pipeline.merge_epoch_batch) is written into the commit
    file, so it commits atomically with the snapshot. It is checked in
    step 1 against the head the claim is made on, so a lost race
    re-checks it against the winner: the head's own epoch means the
    batch is already applied (return None, nothing written); a lower
    epoch raises ``ValueError`` - a restarted query with a reset
    checkpoint would otherwise have its batches silently dropped.

    Durability/portability: link-into-place is atomic on POSIX; the
    HDFS equivalent is rename-without-overwrite, and on S3 it maps to
    conditional PUT (If-None-Match) of the full payload - the same
    primitive Delta's commit protocol uses there. Returns the commit
    number claimed, or None for an already-applied epoch.
    """
    last_err: Exception | None = None
    for _ in range(max_retries):
        base_n = _head(path)
        if base_n is None:
            os.makedirs(_log_path(path), exist_ok=True)
            base_n, merged = 0, incoming
        else:
            base_dir, base_epoch = _read_commit(path, base_n)
            if (
                epoch_id is not None
                and base_epoch is not None
                and epoch_id <= base_epoch
            ):
                if epoch_id == base_epoch:
                    return None
                raise ValueError(
                    f"epoch regression: store {path} committed epoch "
                    f"{base_epoch} but received epoch {epoch_id}; the "
                    "stream's checkpoint was reset or a different query is "
                    "writing - refusing to silently drop batches. Use a "
                    "fresh snapshot store for a fresh checkpoint."
                )
            existing = spark.read.parquet(posixpath.join(path, base_dir))
            merged = upsert(existing, incoming, keys, order_col=order_col)
        next_n = base_n + 1
        snap_dir = f"_snap_{next_n:08d}_{uuid.uuid4().hex[:8]}"
        try:
            write_parquet(merged, posixpath.join(path, snap_dir), mode="overwrite")
        except Exception as exc:
            last_err = exc
        else:
            if _claim(path, next_n, snap_dir, epoch_id):
                vacuum_commit_log(path, keep_last=2)
                return next_n
        # lost the race: drop our snapshot, re-merge against the winner
        shutil.rmtree(posixpath.join(path, snap_dir), ignore_errors=True)
    raise RuntimeError(
        f"upsert_parquet_versioned lost the commit race {max_retries} "
        f"times under {path}; raise max_retries or reduce writer contention"
    ) from last_err


def vacuum_commit_log(path: str, keep_last: int = 2) -> int:
    """Retention management for the snapshot store: keep the snapshots
    of the last ``keep_last`` commits (the current one is always kept),
    delete older snapshot dirs AND loser/crash orphans. Commit FILES are
    never deleted - the log stays a complete history (they are
    bytes-sized); time travel to a vacuumed version fails loudly via
    read_snapshot's pruned-snapshot error rather than silently reading
    nothing. Returns the number of snapshot dirs removed.

    The Delta VACUUM analogue, minus retention-by-timestamp. Every
    successful upsert runs it with ``keep_last=2`` (current + previous,
    so in-flight readers of the previous snapshot finish their scan);
    callers may vacuum harder on their own cadence.

    Safe alongside concurrent writers: a writer stages its snapshot dir
    BEFORE linking the claim that commits it, so an in-flight writer's
    just-written ``_snap_<n+1>_...`` is not referenced by any commit
    yet. Deleting it would let the writer's subsequent link succeed
    with the head commit pointing at a vacuumed dir - bricking the
    store. Vacuum therefore only removes snapshot dirs whose embedded
    commit number is <= the head commit number; dirs numbered beyond
    the head are in-flight claims (or crash orphans, reclaimed once the
    head passes them) and survive. A dir at or below the head that no
    retained commit names belongs to a writer that already lost its
    claim.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    head = _head(path)
    if head is None:
        return 0
    # claims are always head + 1, so commit numbers are contiguous
    keep_dirs = {
        _read_commit(path, n)[0] for n in range(max(1, head - keep_last + 1), head + 1)
    }
    removed = 0
    for name in os.listdir(path):
        if not name.startswith("_snap_") or name in keep_dirs:
            continue
        n_part = name.split("_")[2]
        if not n_part.isdigit() or int(n_part) > head:
            continue  # in-flight (not-yet-claimed) writer snapshot
        shutil.rmtree(posixpath.join(path, name), ignore_errors=True)
        removed += 1
    return removed
