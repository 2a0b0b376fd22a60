"""Streaming sinks (T2/T3).

The reference's delivery path is Firehose DirectPut buffered 64 MB / 60 s
into S3 objects (reference src/create_firehose_stream.py:27-39) —
at-least-once, no replay protection. The Spark-first equivalent is a
checkpointed file sink: the trigger interval plays the buffering-hint
role, the checkpoint + write-ahead commit log make delivery exactly-once,
and ``partitionBy`` gives the Hive layout the batch side already uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def buffered_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int = 60,
    partition_by: list[str] | None = None,
    query_name: str = "tick_sink",
) -> StreamingQuery:
    """T2: micro-batch parquet delivery ≙ Firehose buffering.

    ``processingTime=60s`` mirrors the reference's ``IntervalInSeconds:
    60``; the size-based half of the buffering hint (64 MB) is governed
    by the source's rows-per-trigger options instead of the sink. Files
    land under ``path`` atomically per batch via the sink's commit log.
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def process_available_files(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    query_name: str = "landing_batch",
    output_mode: str = "append",
) -> StreamingQuery:
    """T3: drain everything currently in the source, then stop.

    ``trigger(availableNow=True)`` is the batch-per-drop semantics of
    the reference's S3-event → Lambda → Glue chain: each invocation
    processes exactly the files that have landed since the last
    checkpointed offset. One named query ≙ ``maxConcurrentRuns: 1``
    (Structured Streaming enforces single-instance per checkpoint).
    Call ``.awaitTermination()`` on the result for the synchronous
    batch-job feel.
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .outputMode(output_mode)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def upsert_sink(
    df,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    query_name: str = "upsert_sink",
    order_col: str | None = None,
) -> StreamingQuery:
    """Streaming MERGE: each micro-batch upserts into a parquet snapshot
    via ``foreachBatch`` + :func:`~aws_etl_project2_fiap_spark.io.update.
    merge_into` (insert-if-new, replace-if-matched by key).

    This is the streaming K6: the reference's "UPDATE the row for today"
    pattern applied continuously. foreachBatch gives the batch-API
    escape hatch; exactly-once comes from the checkpoint + the merge's
    atomic snapshot swap (a replayed batch re-merges idempotently).

    When a batch holds several rows per key, ``order_col`` picks the
    winner (keep-latest by that column); without it the pick is
    arbitrary-but-single — pass an event/sequence column whenever
    intra-batch corrections are possible. Dedup applies on the initial
    snapshot too."""
    import os

    from ..io.update import merge_into
    from ..operators.dedup import keep_latest

    def _dedup(batch_df):
        if order_col is not None:
            return keep_latest(batch_df, keys, order_col)
        return batch_df.dropDuplicates(keys)

    def _merge(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not os.path.exists(target_path):
            _dedup(batch_df).write.mode("overwrite").parquet(target_path)
            return
        merge_into(spark, target_path, _dedup(batch_df), keys)

    return (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def cdc_apply_sink(
    df: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint: str,
    op_col: str = "_op",
    order_col: str | None = None,
    query_name: str = "cdc_apply_sink",
) -> StreamingQuery:
    """Apply an op-coded change stream (CDC) to a VERSIONED table —
    the Delta ``foreachBatch`` + ``MERGE`` recipe with real delete
    support, upgrading :func:`upsert_sink` (plain-parquet, upserts
    only) to the lakehouse layer.

    Each input row carries ``op_col``: ``"delete"`` removes the row's
    key from the table; any other value upserts the row (its data
    columns, ``op_col`` dropped, must match the table's columns — the
    Debezium c/u/d shape collapsed to upsert/delete). Per micro-batch:

    - ``order_col`` (an event/sequence data column) picks the winner
      when a batch holds several ops per key (keep-latest, so a
      late-arriving upsert cannot resurrect a newer delete); without
      it the source must be key-unique per batch: two ops on one key
      (an upsert and a delete included) fail the query with the
      merge's duplicate-key error rather than picking one;
    - the batch applies as ONE merge whose clauses read ``op_col``:
      ``WHEN MATCHED AND op = 'delete' THEN DELETE``, ``WHEN MATCHED
      THEN UPDATE`` and ``WHEN NOT MATCHED AND op IS DISTINCT FROM
      'delete' THEN INSERT`` over explicit column maps (``op_col`` is
      never written; a row whose op is NULL is dropped)
      — broadcast-probed file-level CoW, so a delivery-sized batch
      touches only the files holding its keys;
    - exactly-once: the batch's one commit records its ``batch_id`` in
      the manifest; a replayed batch (foreachBatch is at-least-once)
      is skipped when its id is committed;
    - :class:`~..io.versioned.CommitConflict` from a concurrent writer
      retries the whole batch against the new snapshot (nothing was
      half-applied: the merge is one atomic commit).

    First batch creates the table from its upserts (deletes in the
    seed batch refer to rows that never existed — after keep-latest
    they are no-ops by construction)."""
    import os

    from ..io import versioned as V
    from ..operators.dedup import keep_latest

    def _apply(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if order_col is not None:
            batch_df = keep_latest(batch_df, keys, order_col)
        batch_df = batch_df.filter(F.col(op_col).isNotNull())
        if batch_df.isEmpty():
            return
        for _attempt in range(5):
            try:
                if not os.path.exists(V._pointer(table_path)):
                    ups = batch_df.filter(
                        F.col(op_col) != "delete"
                    ).drop(op_col)
                    if ups.isEmpty():
                        return  # delete-only seed batch: nothing exists
                    V.create_table(
                        ups, table_path, extra={"batch_id": batch_id}
                    )
                    return
                if batch_id in V.committed_batch_ids(table_path):
                    return  # replayed batch: already committed
                V._merge_ops(
                    spark, table_path, batch_df, keys, op_col,
                    extra={"batch_id": batch_id},
                )
                return
            except V.CommitConflict:
                continue
        raise RuntimeError(
            f"cdc_apply_sink: batch {batch_id} lost the commit race 5 "
            f"times on {table_path} — writer storm, investigate"
        )

    return (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def cdf_replica_sink(
    df: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint: str,
    query_name: str = "cdf_replica_sink",
) -> StreamingQuery:
    """Continuous replication: apply a ``versioned_table`` CDC stream
    (``option("feed", "cdc")`` — rows + ``_change_type``) to a replica
    versioned table. The streaming half of
    :func:`~..io.versioned.replicate_table`, with the same
    key-reconciliation: a rewritten file re-emits its rows as
    delete+insert in ONE batch, so a key on the insert side is an
    UPSERT with its final value and a key ONLY on the delete side is a
    true DELETE — applying ops blindly (``cdc_apply_sink``) would let
    the delete leg kill the just-upserted key. Replay guard and
    conflict retry as in :func:`cdc_apply_sink`; a replayed batch is
    row-idempotent by the same argument as ``replicate_table``."""
    import os

    from ..io import versioned as V

    def _apply(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        changes = V._reconcile_feed(batch_df, keys)
        for _attempt in range(5):
            try:
                if not os.path.exists(V._pointer(table_path)):
                    ups = changes.filter(
                        F.col("_change_type") != "delete"
                    ).drop("_change_type")
                    if ups.isEmpty():
                        return
                    V.create_table(
                        ups, table_path, extra={"batch_id": batch_id}
                    )
                    return
                if batch_id in V.committed_batch_ids(table_path):
                    return
                V._merge_ops(
                    spark, table_path, changes, keys, "_change_type",
                    extra={"batch_id": batch_id},
                )
                return
            except V.CommitConflict:
                continue
        raise RuntimeError(
            f"cdf_replica_sink: batch {batch_id} lost the commit race "
            f"5 times on {table_path} — writer storm, investigate"
        )

    return (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def matview_refresh_sink(
    spark,
    view_path: str,
    checkpoint: str,
    query_name: str = "matview_refresh_sink",
    available_now: bool = True,
    interval_seconds: int | None = None,
    evolve_dims: bool = False,
) -> StreamingQuery:
    """Continuous materialized-view maintenance: refresh the view
    whenever its SOURCE table commits, driven by the versioned-table
    streaming source (offset = source version).

    The micro-batch DataFrame is only the TRIGGER — the closure never
    runs an action on it, so Spark materializes no batch rows; the
    refresh itself reads ``table_changes(watermark → head)`` straight
    from the table log (``io/matview.refresh_aggregate_view``), which
    is the cheaper and more correct delta: the view's watermark lives
    in its OWN manifest, so crashed/replayed/duplicate SEQUENTIAL
    triggers fold each CDF range exactly once — refresh is
    watermark-idempotent, and the checkpoint merely avoids redundant
    no-op triggers after restart. Run ONE maintenance loop per view
    (refresh re-checks the watermark before committing, but two loops
    racing the same range is still a misconfiguration — the
    single-maintainer discipline real formats expect for OPTIMIZE).

    Scale: per trigger, the cost is one manifest read when nothing
    changed (the "noop" strategy), else the CDF fold (O(changed
    files)). Nothing in the loop ever rescans the source."""
    from ..io import matview as MV
    from .table_source import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    meta = MV.view_meta(view_path)  # validates view_path up front
    feed = (
        spark.readStream.format("versioned_table")
        .option("path", meta["source"])
        .load()
    )

    def _refresh(batch_df, batch_id: int) -> None:
        # evolve_dims=True keeps the loop alive when a SOURCE commit
        # arrives after dims moved (folds the dim change first instead
        # of dying on StaleDimensions). Caveat: the feed triggers on
        # SOURCE commits only, so a dim-only change folds at the NEXT
        # source commit — a dim-driven SLA needs its own trigger (run
        # evolve_dimensions on the dim's feed or a schedule).
        MV.refresh_aggregate_view(
            batch_df.sparkSession, view_path, evolve_dims=evolve_dims
        )

    w = (
        feed.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(
            processingTime=f"{interval_seconds or 60} seconds"
        )
    return w.start()


def rollup_sink(
    df: DataFrame,
    rollup_path: str,
    partition_col: str,
    dims: list[str],
    aggs: dict,
    checkpoint: str,
    query_name: str = "rollup_sink",
) -> StreamingQuery:
    """Streaming continuous aggregate: every micro-batch folds into the
    partitioned rollup via :func:`~aws_etl_project2_fiap_spark.io.rollup.
    incremental_rollup` — the streaming upgrade of the reference's
    buffer-then-batch-job chain (T2→Glue): instead of landing raw files
    and re-aggregating them nightly, the aggregate is maintained as data
    arrives, and only the partitions a batch touches are rewritten.

    Sums aren't idempotent, so a replayed batch (foreachBatch is
    at-least-once on its own) must NOT re-fold: a per-batch-id commit
    marker under the rollup dir skips batches already applied — the
    standard batchId-dedup pattern that upgrades foreachBatch to
    exactly-once. Markers are scoped to the checkpoint's batch-id
    sequence; wipe both together.
    """
    import os

    from ..io.rollup import incremental_rollup, init_rollup

    marker_dir = os.path.join(rollup_path, "_committed_batches")

    def _fold(batch_df, batch_id: int) -> None:
        marker = os.path.join(marker_dir, str(batch_id))
        if os.path.exists(marker):
            return  # replayed batch: already folded
        if batch_df.isEmpty():
            pass
        elif not os.path.exists(os.path.join(rollup_path, "_SUCCESS")):
            init_rollup(batch_df, rollup_path, partition_col, dims, aggs)
        else:
            incremental_rollup(
                batch_df.sparkSession, batch_df, rollup_path,
                partition_col, dims, aggs,
            )
        os.makedirs(marker_dir, exist_ok=True)
        open(marker, "w").close()

    return (
        df.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def versioned_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    query_name: str = "versioned_sink",
    rules: dict | None = None,
    quarantine_path: str | None = None,
    dedup_keys: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    compact_every: int | None = None,
    compact_small_bytes: int = 32 * 1024 * 1024,
) -> StreamingQuery:
    """Streaming appends into a versioned table (io/versioned.py): each
    micro-batch becomes one manifest commit, so the lakehouse loop —
    time travel over ingested history, manifest-stats file skipping,
    copy-on-write corrections — applies to live data the moment it
    lands.

    Exactly-once: appends aren't idempotent, so each commit records its
    ``batch_id`` in the manifest and a replayed batch (foreachBatch is
    at-least-once on its own) is skipped when its id is already
    committed — the same batchId-dedup pattern as :func:`rollup_sink`,
    but the table's own log IS the marker store, and the commit (data
    files → manifest → atomic pointer flip) can never half-apply.
    Empty batches commit nothing.

    ``rules`` (name → aggregate expression, see
    :mod:`..operators.quality`) gates every batch in ONE extra
    aggregation pass: a batch with any violations is diverted to
    ``quarantine_path`` (parquet, batch-id subdir) instead of the
    table — bad deliveries never poison committed history, and the
    quarantined bytes stay replayable after the rule/bug is fixed.

    ``dedup_keys`` makes appends IDEMPOTENT BY CONTENT, not just by
    batch id: each batch drops rows whose key(s) already exist in the
    table (LEFT ANTI join against the current snapshot's key columns)
    and duplicate keys within the batch keep one row — re-delivered or
    overlapping crawls never commit the same document twice. The anti
    join reads only the key columns (column-pruned scan); at 100 TB
    amortize it with a persisted fingerprint index — the bloom
    (operators/dedup.incremental_dedup_bloom) or MinHash
    (probe_minhash_index) paths — and pass the surviving sliver here.

    ``bloom_cols`` forwards to the commit so every batch's files get
    per-file Bloom indexes (io/versioned.py) — point reads on the
    ingested table stay prunable with zero extra passes (the index is
    built from the just-written files).

    ``compact_every=N`` is auto-compaction (the Delta
    autoOptimize/autoCompact loop): after every Nth successful append
    the sink runs the INCREMENTAL OPTIMIZE (``compact_table(
    small_only_bytes=compact_small_bytes)``) — only the per-micro-batch
    dribble under the size threshold is merged, files already at size
    are referenced untouched, so cost stays ∝ small bytes forever. The
    compaction is its own commit AFTER the batch's append commit; a
    crash between them loses only tidiness, never data, and the next
    trigger's sweep picks the dribble up. A CommitConflict from a
    concurrent writer skips the sweep (the data commit already
    succeeded; compaction re-runs on a later batch). The cadence is
    counted in THIS sink's successful appends (a local counter — a
    restart resets it, costing tidiness only), not in table versions:
    compaction commits and concurrent writers advance the version, so
    a version-keyed cadence drifts from "every N appends"."""
    import os

    from ..io import versioned as V

    appends = {"n": 0}  # this sink's successful appends (cadence clock)

    def _append(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if dedup_keys and os.path.exists(V._pointer(table_path)):
            existing = V.read_table(
                batch_df.sparkSession, table_path
            ).select(*dedup_keys)
            batch_df = batch_df.dropDuplicates(dedup_keys).join(
                existing, dedup_keys, "left_anti"
            )
            if batch_df.isEmpty():
                return  # nothing novel: no commit, no empty version
        elif dedup_keys:
            batch_df = batch_df.dropDuplicates(dedup_keys)
        if rules:
            from ..operators.quality import check_rules

            report = check_rules(batch_df, rules)
            bad = {
                r["rule"]: r["violations"]
                for r in report.collect()
                if r["violations"] > 0
            }
            if bad:
                dst = os.path.join(
                    quarantine_path or f"{table_path}_quarantine",
                    f"batch_{batch_id}",
                )
                batch_df.write.mode("overwrite").parquet(dst)
                return
        for attempt in range(5):
            if os.path.exists(V._pointer(table_path)):
                if batch_id in V.committed_batch_ids(table_path):
                    return  # replayed batch: already committed
                try:
                    V.append_table(
                        batch_df, table_path, extra={"batch_id": batch_id},
                        bloom_cols=bloom_cols,
                    )
                    appends["n"] += 1
                    if compact_every and appends["n"] % compact_every == 0:
                        try:
                            V.compact_table(
                                batch_df.sparkSession, table_path,
                                small_only_bytes=compact_small_bytes,
                                bloom_cols=bloom_cols,
                            )
                        except V.CommitConflict:
                            pass  # data landed; tidy up on a later batch
                    return
                except V.ConstraintViolation:
                    # the table's own CHECK constraints reject the batch
                    # — same quarantine contract as the `rules` gate:
                    # bad deliveries never poison committed history and
                    # stay replayable after the upstream bug is fixed
                    dst = os.path.join(
                        quarantine_path or f"{table_path}_quarantine",
                        f"batch_{batch_id}",
                    )
                    batch_df.write.mode("overwrite").parquet(dst)
                    return
                except V.CommitConflict:
                    # a concurrent UPDATE/OPTIMIZE moved the pointer
                    # between our snapshot read and commit — re-read the
                    # new current version and re-append (append is safe
                    # to retry: nothing was committed)
                    continue
            else:
                try:
                    V.create_table(
                        batch_df, table_path, extra={"batch_id": batch_id},
                        bloom_cols=bloom_cols,
                    )
                    appends["n"] += 1
                    return
                except (V.CommitConflict, FileExistsError):
                    # another stream/batch writer created the table
                    # between our pointer check and the v1 commit —
                    # loop again and take the append path
                    continue
        raise RuntimeError(
            f"versioned_sink: batch {batch_id} lost the commit race 5 "
            f"times on {table_path} — writer storm, investigate"
        )

    return (
        df.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def apply_near_dup_batch(
    batch_df,
    batch_id: int,
    *,
    table_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    quarantine_path: str | None = None,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    token_hash: str = "xxhash64",
) -> None:
    """One micro-batch of :func:`near_dup_gated_sink`, module-level so
    the replay/crash matrix is directly testable without driving a
    stream (the sink is a thin foreachBatch wrapper). ``token_hash=
    "md5"`` selects the engine-portable signature variant (see
    operators/dedup.minhash_index_signatures) — the driver's DuckDB
    oracle recomputes that gate decision bit-for-bit."""
    import os

    from ..io import versioned as V
    from ..operators.dedup import (
        append_to_minhash_index,
        probe_minhash_index,
    )

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    t_done = os.path.exists(V._pointer(table_path)) and (
        batch_id in V.committed_batch_ids(table_path)
    )
    i_done = os.path.exists(V._pointer(index_path)) and (
        batch_id in V.committed_batch_ids(index_path)
    )
    if t_done and i_done:
        return
    if t_done:
        # crash between the two commits: recover the EXACT novel set
        # from the batch's OWN table commit — the rows that commit
        # added (its change-feed insert leg) — never by re-probing the
        # whole table: a batch row whose id already existed from an
        # EARLIER delivery (e.g. a same-id re-delivery quarantined in
        # the original run) would semi-join as "novel" and its
        # signatures would drift the index from the corpus
        ver = V.version_of_batch(table_path, batch_id)
        if ver == 1:
            novel = V.read_table(spark, table_path, version=1)
        else:
            novel = (
                V.table_changes(spark, table_path, ver - 1, ver)
                .filter(F.col("_change_type") == "insert")
                .drop("_change_type", "_commit_version")
            )
    else:
        batch_df = (
            batch_df.withColumn(
                "__fp", F.md5(F.col(text_col).cast("binary"))
            )
            .dropDuplicates(["__fp"])
            .drop("__fp")
            .dropDuplicates([id_col])
        )
        if os.path.exists(V._pointer(index_path)):
            hits = probe_minhash_index(
                spark, index_path, batch_df,
                text_col=text_col, id_col=id_col, threshold=threshold,
                shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
                token_hash=token_hash,
            )
            dup_ids = hits.select(
                F.col("batch_id").alias(id_col)
            ).distinct()
            dupes = batch_df.join(dup_ids, id_col, "left_semi")
            novel = batch_df.join(dup_ids, id_col, "left_anti")
            if not dupes.isEmpty():
                dst = os.path.join(
                    quarantine_path or f"{table_path}_neardups",
                    f"batch_{batch_id}",
                )
                dupes.join(
                    hits.groupBy("batch_id").agg(
                        F.max_by("index_id", "est_jaccard").alias(
                            "dup_of"
                        ),
                        F.max("est_jaccard").alias("est_jaccard"),
                    ).withColumnRenamed("batch_id", id_col),
                    id_col,
                ).write.mode("overwrite").parquet(dst)
        else:
            novel = batch_df
        if novel.isEmpty():
            return  # all dupes: quarantined, nothing to commit
        novel = novel.localCheckpoint(eager=True)  # probe plan once
        for attempt in range(5):
            try:
                if os.path.exists(V._pointer(table_path)):
                    V.append_table(
                        novel, table_path,
                        extra={"batch_id": batch_id},
                    )
                else:
                    V.create_table(
                        novel, table_path,
                        extra={"batch_id": batch_id},
                    )
                break
            except (V.CommitConflict, FileExistsError):
                if batch_id in V.committed_batch_ids(table_path):
                    break  # another replay of us won the race
                continue
        else:
            raise RuntimeError(
                f"near_dup_gated_sink: batch {batch_id} lost the "
                f"corpus commit race 5 times on {table_path}"
            )
    if not i_done and not novel.isEmpty():
        if not os.path.exists(V._pointer(index_path)):
            from ..operators.dedup import build_minhash_index

            build_minhash_index(
                novel, index_path, text_col=text_col, id_col=id_col,
                shingle_n=shingle_n, num_hashes=num_hashes,
                bands=bands, extra={"batch_id": batch_id},
                token_hash=token_hash,
            )
        else:
            for attempt in range(5):
                try:
                    append_to_minhash_index(
                        novel, index_path, text_col=text_col,
                        id_col=id_col, shingle_n=shingle_n,
                        num_hashes=num_hashes, bands=bands,
                        token_hash=token_hash,
                        extra={"batch_id": batch_id},
                    )
                    break
                except V.CommitConflict:
                    if batch_id in V.committed_batch_ids(index_path):
                        break
                    continue
            else:
                raise RuntimeError(
                    f"near_dup_gated_sink: batch {batch_id} lost "
                    f"the index commit race 5 times on {index_path}"
                )


def near_dup_gated_sink(
    df: DataFrame,
    table_path: str,
    index_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    quarantine_path: str | None = None,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    token_hash: str = "xxhash64",
    query_name: str = "near_dup_gated_sink",
) -> StreamingQuery:
    """Streaming ingest gated by CORPUS-SCALE near-dup detection — the
    steady-state shape of a pretraining-data pipeline: every
    micro-batch probes the persisted MinHash signature index
    (operators/dedup.probe_minhash_index — delivery signatures
    broadcast, corpus text never rescanned, index never rebuilt), near-
    duplicates are quarantined with their matched corpus ids, and the
    novel remainder lands as ONE commit in the corpus table plus ONE
    commit of its signatures in the index.

    Exactly-once across BOTH tables: the batch id is recorded in each
    table's manifest. foreachBatch replays resolve per-half —

    - both committed → no-op;
    - neither → probe and apply (re-probing is deterministic: the index
      cannot contain this batch's signatures yet);
    - crash BETWEEN the two commits → the corpus table already holds
      exactly the batch's novel rows, so the replay derives the novel
      set from the table itself (semi-join on ids) instead of
      re-probing an index state that no longer matches, then completes
      the index append. Probing is never run against an index that
      already absorbed the batch, so a replay can never quarantine a
      batch as a duplicate of itself.

    Scope: cross-corpus near-dups. Within one micro-batch only exact
    id/content duplicates collapse (first occurrence by id); two novel
    near-dup documents arriving in the SAME batch both land, and the
    next delivery of either is caught — the same cadence/accuracy
    trade every delivery-granular incremental dedup makes."""
    def _apply(batch_df, batch_id: int) -> None:
        apply_near_dup_batch(
            batch_df, batch_id,
            table_path=table_path, index_path=index_path,
            text_col=text_col, id_col=id_col, threshold=threshold,
            quarantine_path=quarantine_path, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, token_hash=token_hash,
        )

    return (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def enriched_versioned_sink(
    df: DataFrame,
    dim_table_path: str,
    keys: list[str],
    out_table_path: str,
    checkpoint: str,
    query_name: str = "enriched_versioned_sink",
    how: str = "left",
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Stream-static ENRICHMENT where the static side is a versioned
    table re-resolved EVERY micro-batch: each batch joins against the
    dimension table's then-current snapshot (io/versioned.read_table
    resolves the manifest at plan time, so an SCD correction committed
    between batches is picked up by the next batch — the behavior a
    native stream-static join over a fixed file list cannot give), and
    the enriched rows append to ``out_table_path`` through the same
    exactly-once batch-id commit protocol as :func:`versioned_sink`.

    Scale: the dimension read is manifest-resolved (column-pruned to
    the join keys + payload) and delivery-sized batches broadcast
    against it under AQE; the output commit is one manifest append.
    """
    import os

    from ..io import versioned as V

    def _enrich(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dim = V.read_table(batch_df.sparkSession, dim_table_path)
        enriched = batch_df.join(dim, keys, how)

        def _quarantine() -> None:
            # the OUT table's CHECK constraints reject the enriched
            # batch (e.g. a left join's NULL dim payload): divert, same
            # replayable contract as versioned_sink — an uncaught raise
            # here would poison-pill the checkpoint (the batch replays
            # and fails forever)
            dst = os.path.join(
                quarantine_path or f"{out_table_path}_quarantine",
                f"batch_{batch_id}",
            )
            enriched.write.mode("overwrite").parquet(dst)

        for attempt in range(5):
            if os.path.exists(V._pointer(out_table_path)):
                if batch_id in V.committed_batch_ids(out_table_path):
                    return
                try:
                    V.append_table(
                        enriched, out_table_path,
                        extra={"batch_id": batch_id},
                    )
                    return
                except V.ConstraintViolation:
                    _quarantine()
                    return
                except V.CommitConflict:
                    continue
            else:
                try:
                    V.create_table(
                        enriched, out_table_path,
                        extra={"batch_id": batch_id},
                    )
                    return
                except V.ConstraintViolation:
                    _quarantine()
                    return
                except (V.CommitConflict, FileExistsError):
                    continue
        raise RuntimeError(
            f"enriched_versioned_sink: batch {batch_id} lost the commit "
            f"race 5 times on {out_table_path}"
        )

    return (
        df.writeStream.foreachBatch(_enrich)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
