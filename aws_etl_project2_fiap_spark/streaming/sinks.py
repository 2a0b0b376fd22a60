"""Streaming sinks (T2/T3).

The reference's delivery path is Firehose DirectPut buffered 64 MB / 60 s
into S3 objects (reference src/create_firehose_stream.py:27-39) —
at-least-once, no replay protection. The Spark-first equivalent is a
checkpointed file sink: the trigger interval plays the buffering-hint
role, the checkpoint + write-ahead commit log make delivery exactly-once,
and ``partitionBy`` gives the Hive layout the batch side already uses.

The foreachBatch sinks that write a versioned table (io/versioned.py)
share one exactly-once commit, :func:`_commit_once` — Delta's
idempotent foreachBatch write (``txnAppId``/``txnVersion``) on this
log. foreachBatch alone is at-least-once: a restart, or a lost
checkpoint, delivers a batch id again. So each micro-batch commits as
ONE version whose manifest records its ``batch_id``, and a batch whose
id a retained manifest already lists is skipped: the table's own log is
the marker store, and a commit (data files → manifest → atomic pointer
flip) never half-applies. The first batch creates the table, later ones
update it. A concurrent writer that commits first (``CommitConflict``)
or creates the table first (``FileExistsError``) sends the batch round
again against the new snapshot, up to five times. A sink with a
quarantine diverts a batch the table's CHECK constraints reject to
``<quarantine>/batch_<id>`` (parquet) instead of failing the query:
bad deliveries never poison committed history, stay replayable after
the upstream fix, and cannot poison-pill the checkpoint (a batch that
raises replays and fails forever).
"""

from __future__ import annotations

import functools
import os

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


def _drain(df: DataFrame, apply, checkpoint: str, query_name: str):
    """Start ``apply(batch_df, batch_id)`` over every micro-batch of
    ``df`` available now, then stop — the foreachBatch twin of
    :func:`process_available_files`."""
    return (
        df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def _quarantine(df: DataFrame, root: str, batch_id: int) -> None:
    """Divert a micro-batch to ``root/batch_<id>`` as parquet."""
    df.write.mode("overwrite").parquet(
        os.path.join(root, f"batch_{batch_id}")
    )


def _commit_once(
    what: str, path: str, batch_id: int, create, update, quarantine=None
) -> None:
    """Commit one micro-batch to the versioned table at ``path``
    exactly once (the protocol in the module docstring):
    ``create(extra)`` while the table does not exist, else
    ``update(extra)`` unless a retained manifest already records
    ``batch_id``. ``extra`` carries the batch id into that commit, so
    each callback must make exactly one commit (or none). A
    ``ConstraintViolation`` calls ``quarantine()`` when given and
    raises otherwise."""
    from ..io import versioned as V

    extra = {"batch_id": batch_id}
    for _attempt in range(5):
        try:
            if not os.path.exists(V._pointer(path)):
                create(extra)
            elif batch_id not in V.committed_batch_ids(path):
                update(extra)
            return
        except V.ConstraintViolation:
            if quarantine is None:
                raise
            quarantine()
            return
        except (V.CommitConflict, FileExistsError):
            continue  # another writer moved or created the table first
    raise RuntimeError(
        f"{what}: batch {batch_id} lost the commit race 5 times on "
        f"{path} — writer storm, investigate"
    )


def _apply_ops(
    what: str, changes: DataFrame, path: str, keys: list[str],
    op_col: str, batch_id: int,
) -> None:
    """Commit a key-unique, op-tagged change set through
    :func:`_commit_once`: ONE :func:`~..io.versioned._merge_ops` merge
    (``op_col == "delete"`` deletes the key, any other value upserts),
    or, while the table does not exist, a create from the non-delete
    rows — a delete in the seed batch refers to a row that never
    existed, so a delete-only seed batch commits nothing."""
    from ..io import versioned as V

    def _create(extra: dict) -> None:
        ups = changes.filter(F.col(op_col) != "delete").drop(op_col)
        if not ups.isEmpty():
            V.create_table(ups, path, extra=extra)

    _commit_once(
        what, path, batch_id, _create,
        lambda extra: V._merge_ops(
            changes.sparkSession, path, changes, keys, op_col, extra=extra
        ),
    )


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

    return _drain(df, _merge, checkpoint, query_name)


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
    - the merge is the batch's one commit, made exactly once by
      :func:`_commit_once`; the first batch creates the table from its
      upserts (:func:`_apply_ops`)."""
    from ..operators.dedup import keep_latest

    def _apply(batch_df, batch_id: int) -> None:
        if order_col is not None:
            batch_df = keep_latest(batch_df, keys, order_col)
        batch_df = batch_df.filter(F.col(op_col).isNotNull())
        if not batch_df.isEmpty():
            _apply_ops(
                "cdc_apply_sink", batch_df, table_path, keys, op_col,
                batch_id,
            )

    return _drain(df, _apply, checkpoint, query_name)


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
    the delete leg kill the just-upserted key. The reconciled batch
    commits as in :func:`cdc_apply_sink` (:func:`_apply_ops`); a
    replayed batch is row-idempotent by the same argument as
    ``replicate_table``."""
    from ..io import versioned as V

    def _apply(batch_df, batch_id: int) -> None:
        if not batch_df.isEmpty():
            _apply_ops(
                "cdf_replica_sink", V._reconcile_feed(batch_df, keys),
                table_path, keys, "_change_type", batch_id,
            )

    return _drain(df, _apply, checkpoint, query_name)


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
    at-least-once on its own) must NOT re-fold: a per-batch-id marker
    under the rollup dir skips batches already folded. The marker is
    NOT atomic with the fold — it is created after the fold has
    rewritten the partitions, so a crash between the two re-folds the
    batch on replay and double-counts its sums and counts. The sink is
    exactly-once only outside that window: a plain-parquet rollup has
    no commit that could carry the marker (unlike the manifest of
    :func:`_commit_once`). Markers are scoped to the checkpoint's
    batch-id sequence; wipe both together.
    """
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

    return _drain(df, _fold, checkpoint, query_name)


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
    lands. The commit is exactly-once through :func:`_commit_once`;
    empty batches commit nothing.

    ``rules`` (name → aggregate expression, see
    :mod:`..operators.quality`) gates every batch in ONE extra
    aggregation pass: a batch with any violations is diverted to
    ``quarantine_path`` (parquet, batch-id subdir) instead of the
    table — bad deliveries never poison committed history, and the
    quarantined bytes stay replayable after the rule/bug is fixed. A
    batch the table's own CHECK constraints reject goes there too.

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
    from ..io import versioned as V

    appends = {"n": 0}  # this sink's successful appends (cadence clock)
    qdir = quarantine_path or f"{table_path}_quarantine"

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
            if any(r["violations"] > 0 for r in report.collect()):
                _quarantine(batch_df, qdir, batch_id)
                return

        def _create(extra: dict) -> None:
            V.create_table(
                batch_df, table_path, extra=extra, bloom_cols=bloom_cols
            )
            appends["n"] += 1

        def _update(extra: dict) -> None:
            V.append_table(
                batch_df, table_path, extra=extra, bloom_cols=bloom_cols
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

        _commit_once(
            "versioned_sink", table_path, batch_id, _create, _update,
            lambda: _quarantine(batch_df, qdir, batch_id),
        )

    return _drain(df, _append, checkpoint, query_name)


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
    from ..io import versioned as V
    from ..operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
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
                _quarantine(
                    dupes.join(
                        hits.groupBy("batch_id").agg(
                            F.max_by("index_id", "est_jaccard").alias(
                                "dup_of"
                            ),
                            F.max("est_jaccard").alias("est_jaccard"),
                        ).withColumnRenamed("batch_id", id_col),
                        id_col,
                    ),
                    quarantine_path or f"{table_path}_neardups",
                    batch_id,
                )
        else:
            novel = batch_df
        if novel.isEmpty():
            return  # all dupes: quarantined, nothing to commit
        novel = novel.localCheckpoint(eager=True)  # probe plan once
        _commit_once(
            "near_dup_gated_sink", table_path, batch_id,
            lambda extra: V.create_table(novel, table_path, extra=extra),
            lambda extra: V.append_table(novel, table_path, extra=extra),
        )
    if not i_done and not novel.isEmpty():
        sig = dict(
            text_col=text_col, id_col=id_col, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, token_hash=token_hash,
        )
        _commit_once(
            "near_dup_gated_sink", index_path, batch_id,
            lambda extra: build_minhash_index(
                novel, index_path, extra=extra, **sig
            ),
            lambda extra: append_to_minhash_index(
                novel, index_path, extra=extra, **sig
            ),
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

    Exactly-once across BOTH tables: each half commits through
    :func:`_commit_once`, so the batch id is recorded in each table's
    manifest. foreachBatch replays resolve per-half —

    - both committed → no-op;
    - neither → probe and apply (re-probing is deterministic: the index
      cannot contain this batch's signatures yet);
    - crash BETWEEN the two commits → the corpus table already holds
      exactly the batch's novel rows, so the replay takes the novel set
      from the batch's own table commit (its change-feed insert leg)
      instead of re-probing an index state that no longer matches,
      then completes the index append. Probing is never run against an
      index that already absorbed the batch, so a replay can never
      quarantine a batch as a duplicate of itself.

    Scope: cross-corpus near-dups. Within one micro-batch only exact
    id/content duplicates collapse (first occurrence by id); two novel
    near-dup documents arriving in the SAME batch both land, and the
    next delivery of either is caught — the same cadence/accuracy
    trade every delivery-granular incremental dedup makes."""
    return _drain(
        df,
        functools.partial(
            apply_near_dup_batch,
            table_path=table_path, index_path=index_path,
            text_col=text_col, id_col=id_col, threshold=threshold,
            quarantine_path=quarantine_path, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, token_hash=token_hash,
        ),
        checkpoint, query_name,
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
    the enriched rows append to ``out_table_path`` exactly once through
    :func:`_commit_once`. A batch the OUT table's CHECK constraints
    reject (e.g. a left join's NULL dim payload) goes to
    ``quarantine_path``.

    Scale: the dimension read is manifest-resolved (column-pruned to
    the join keys + payload) and delivery-sized batches broadcast
    against it under AQE; the output commit is one manifest append.
    """
    from ..io import versioned as V

    qdir = quarantine_path or f"{out_table_path}_quarantine"

    def _enrich(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dim = V.read_table(batch_df.sparkSession, dim_table_path)
        enriched = batch_df.join(dim, keys, how)
        _commit_once(
            "enriched_versioned_sink", out_table_path, batch_id,
            lambda extra: V.create_table(
                enriched, out_table_path, extra=extra
            ),
            lambda extra: V.append_table(
                enriched, out_table_path, extra=extra
            ),
            lambda: _quarantine(enriched, qdir, batch_id),
        )

    return _drain(df, _enrich, checkpoint, query_name)
