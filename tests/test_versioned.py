"""Versioned parquet tables (io/versioned.py): manifest snapshots,
file-level copy-on-write UPDATE, time travel, rollback, vacuum.

The claims under test are the ones that distinguish this from the K6
swap (io/update.py):

- an UPDATE rewrites ONLY the files containing matched rows — the new
  manifest re-references the untouched files by path (no copy);
- every historical version stays readable and BIT-STABLE across later
  commits (snapshot isolation / time travel);
- a commit is pointer-atomic: a half-written batch that never commits
  leaves the current version untouched;
- vacuum reclaims exactly the batches unreferenced by the kept
  manifests and never breaks the current version.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V


@pytest.fixture()
def table(spark, tmp_path):
    """A 3-file versioned table range-partitioned on g (g=0,1,2 each
    isolated to its own file — the locality a date/z-order layout has)."""
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 2.0).alias("v"),
    )
    path = str(tmp_path / "tbl")
    assert V.create_table(df.repartitionByRange(3, "g"), path) == 1
    return path


def test_create_read_roundtrip(spark, table):
    got = V.read_table(spark, table)
    assert got.count() == 300
    assert V.current_version(table) == 1


def test_create_refuses_existing(spark, table):
    with pytest.raises(FileExistsError):
        V.create_table(spark.range(1), table)


def test_update_is_file_level_copy_on_write(spark, table):
    before = set(V._paths(V._read_manifest(table, 1)["files"]))
    res = V.update_table(
        spark, table, {"v": F.col("v") + 1000}, F.col("g") == 2
    )
    assert res["version"] == 2 and res["n_matched"] == 100
    after = set(V._paths(V._read_manifest(table, 2)["files"]))
    # untouched files are REFERENCED (same paths), not copied
    reused = before & after
    assert len(reused) == res["files_reused"] >= 1
    assert res["files_touched"] >= 1
    # values: g==2 rows updated, others untouched
    got = V.read_table(spark, table)
    assert got.filter((F.col("g") == 2) & (F.col("v") != F.col("id") * 2.0 + 1000)).count() == 0
    assert got.filter((F.col("g") != 2) & (F.col("v") != F.col("id") * 2.0)).count() == 0


def test_time_travel_old_version_bit_stable(spark, table):
    v1_before = sorted(
        tuple(r) for r in V.read_table(spark, table, version=1).collect()
    )
    V.update_table(spark, table, {"v": F.lit(0.0)}, F.col("g") == 0)
    V.update_table(spark, table, {"v": F.lit(-1.0)}, F.col("g") == 1)
    v1_after = sorted(
        tuple(r) for r in V.read_table(spark, table, version=1).collect()
    )
    assert v1_before == v1_after
    assert V.current_version(table) == 3


def test_no_match_update_is_a_noop_commit(spark, table):
    res = V.update_table(spark, table, {"v": F.lit(0.0)}, F.col("g") == 99)
    assert res["n_matched"] == 0 and res["version"] == 1
    assert V.current_version(table) == 1


def test_append_references_all_previous_files(spark, table):
    extra = spark.range(300, 330).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    assert V.append_table(extra, table) == 2
    assert V.read_table(spark, table).count() == 330
    assert set(V._paths(V._read_manifest(table, 1)["files"])) <= set(
        V._paths(V._read_manifest(table, 2)["files"])
    )


def test_rollback_recommits_old_file_list(spark, table):
    V.update_table(spark, table, {"v": F.lit(-5.0)}, F.col("g") == 2)
    assert V.read_table(spark, table).filter(F.col("v") == -5.0).count() == 100
    v = V.rollback(table, 1)
    assert v == 3 and V.current_version(table) == 3
    assert V.read_table(spark, table).filter(F.col("v") == -5.0).count() == 0


def test_uncommitted_batch_leaves_current_intact(spark, table):
    # simulate a writer crash: batch written, no manifest/pointer
    df = spark.range(5).select(
        F.col("id"), F.lit(9).alias("g"), F.lit(0.0).alias("v")
    )
    V._write_batch(df, table)
    assert V.current_version(table) == 1
    assert V.read_table(spark, table).count() == 300


def test_vacuum_reclaims_unreferenced_batches_only(spark, table):
    V.update_table(spark, table, {"v": F.lit(0.0)}, F.col("g") == 0)
    V.update_table(spark, table, {"v": F.lit(1.0)}, F.col("g") == 1)
    assert V.current_version(table) == 3
    removed = V.vacuum(table, keep_last=2)
    # current + previous still readable
    assert V.read_table(spark, table).count() == 300
    assert V.read_table(spark, table, version=2).count() == 300
    # v1's manifest is gone
    with pytest.raises(FileNotFoundError):
        V._read_manifest(table, 1)
    # nothing the kept manifests reference was removed
    kept = {
        os.path.dirname(f)
        for v in (2, 3)
        for f in V._paths(V._read_manifest(table, v)["files"])
    }
    assert not (set(removed) & kept)


def test_manifest_stats_data_skipping(spark, table):
    """between=(col, lo, hi) must skip non-overlapping files BEFORE
    Spark plans the scan, and return exactly the filtered result."""
    files = V._read_manifest(table, 1)["files"]
    kept, skipped = V.prunable(files, "g", 2, 2)
    assert len(kept) == 1 and len(skipped) == 2  # range layout isolates g
    pruned = V.read_table(spark, table, between=("g", 2, 2))
    # the pruned plan reads ONE file
    assert len(pruned.inputFiles()) == 1
    full = V.read_table(spark, table).filter(F.col("g").between(2, 2))
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_data_skipping_conservative_without_stats(spark, table):
    """Entries lacking stats for the predicate column are kept."""
    files = [{"path": "x.parquet", "stats": {}}]
    kept, skipped = V.prunable(files, "g", 0, 0)
    assert kept == files and not skipped


def test_data_skipping_all_pruned_reads_empty(spark, table):
    """A predicate whose stats prune every file reads 0 rows with the
    table's columns (the manifest schema builds the empty frame)."""
    got = V.read_table(spark, table, between=("g", 99, 100))
    assert got.columns == ["id", "g", "v"]
    assert got.count() == 0


def test_merge_file_level_copy_on_write(spark, table):
    """MERGE: matched rows replaced, new keys inserted, only files
    containing matched keys rewritten; history intact."""
    src = spark.createDataFrame(
        [(2, 77, -1.0), (5, 77, -2.0), (1000, 77, -3.0)], "id long, g long, v double"
    )
    res = V.merge_table(spark, table, src, keys=["id"])
    # ids 2 and 5 live in g∈{2,2}: id%3 → 2→g2, 5→g2 — one touched file
    assert res["version"] == 2
    assert res["files_touched"] == 1 and res["files_reused"] == 2
    assert res["updated"] == 2 and res["inserted"] == 1
    got = V.read_table(spark, table)
    assert got.count() == 301
    assert got.filter(F.col("id") == 2).collect()[0]["v"] == -1.0
    assert got.filter(F.col("id") == 1000).collect()[0]["g"] == 77
    # untouched row unchanged; v1 time travel intact
    assert got.filter(F.col("id") == 3).collect()[0]["v"] == 6.0
    assert V.read_table(spark, table, version=1).count() == 300


def test_merge_insert_only_touches_zero_files(spark, table):
    src = spark.createDataFrame([(900, 9, 1.0)], "id long, g long, v double")
    res = V.merge_table(spark, table, src, keys=["id"])
    assert res["files_touched"] == 0 and res["files_reused"] == 3
    assert res["inserted"] == 1 and res["updated"] == 0
    assert V.read_table(spark, table).count() == 301


def test_merge_rejects_duplicate_source_keys(spark, table):
    src = spark.createDataFrame(
        [(1, 0, 0.0), (1, 0, 1.0)], "id long, g long, v double"
    )
    with pytest.raises(ValueError):
        V.merge_table(spark, table, src, keys=["id"])


def test_schema_evolution_on_append(spark, table):
    """An appended batch with a NEW column must surface it (null for
    old files) — the §1.4 drift contract on versioned reads."""
    evolved = spark.range(500, 505).select(
        F.col("id"),
        F.lit(7).cast("long").alias("g"),
        F.lit(1.0).alias("v"),
        F.lit("new").alias("tag"),
    )
    V.append_table(evolved, table)
    got = V.read_table(spark, table)
    assert "tag" in got.columns
    assert got.filter(F.col("tag") == "new").count() == 5
    assert got.filter(F.col("tag").isNull()).count() == 300
    # time travel to v1 shows the pre-evolution schema
    assert "tag" not in V.read_table(spark, table, version=1).columns


def test_compact_with_zorder_tightens_manifest_stats(spark, tmp_path):
    """OPTIMIZE path: a fragmented table compacted with z-order
    clustering must (a) shrink the file count, (b) keep the data
    identical, (c) yield manifest stats tight enough that a selective
    2-D predicate prunes most files — connecting write_zordered's
    layout to the manifest-level skipping tier."""
    from aws_etl_project2_fiap_spark.io import versioned as V2

    path = str(tmp_path / "frag")
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 7) % 64).alias("y"),
        (F.col("id") * 1.0).alias("v"),
    )
    # fragmented ingest: 8 hash-scattered files, stats span everything
    V2.create_table(df.repartition(8), path)
    before = V2._read_manifest(path, 1)["files"]
    kept_before, _ = V2.prunable(
        [f for f in before], "x", 0, 7
    )
    assert len(kept_before) == len(before)  # nothing prunable pre-compact

    res = V2.compact_table(spark, path, target_files=8, zorder_by=["x", "y"])
    assert res["version"] == 2 and res["files"] <= 8
    after = V2._read_manifest(path, 2)["files"]
    # data identical
    a = sorted(map(tuple, V2.read_table(spark, path).collect()))
    b = sorted(map(tuple, V2.read_table(spark, path, version=1).collect()))
    assert a == b
    # 2-D selectivity: a narrow x-range now skips most files
    kept_x, skipped_x = V2.prunable(after, "x", 0, 7)
    assert len(skipped_x) >= len(after) // 2, (
        f"x-range pruned only {len(skipped_x)}/{len(after)}"
    )
    kept_y, skipped_y = V2.prunable(after, "y", 0, 7)
    assert len(skipped_y) >= 1  # the interleaved key prunes y too
    # and the pruned read returns exactly the filtered rows
    got = sorted(
        r["id"] for r in V2.read_table(spark, path, between=("x", 0, 7)).collect()
    )
    want = sorted(r["id"] for r in df.filter(F.col("x") <= 7).collect())
    assert got == want


def test_concurrent_update_raises_commit_conflict(spark, table):
    """Optimistic concurrency: a writer whose snapshot went stale (an
    append landed mid-flight) must get CommitConflict, not silently
    drop the concurrent commit's files from the new manifest."""
    import aws_etl_project2_fiap_spark.io.versioned as V2

    orig_write_batch = V2._write_batch
    interleaved = {"done": False}

    def racing_write_batch(df, path, *args, **kw):
        out = orig_write_batch(df, path, *args, **kw)
        if not interleaved["done"]:
            # another writer commits between our snapshot read and commit
            interleaved["done"] = True
            extra = (
                V2.read_table(spark, table, version=1)
                .limit(5)
                .withColumn("id", F.col("id") + 10_000)
            )
            V2.append_table(extra, table)
        return out

    V2._write_batch = racing_write_batch
    try:
        with pytest.raises(V2.CommitConflict):
            V2.update_table(
                spark, table, {"v": F.lit(0.0)}, F.col("g") == 1
            )
    finally:
        V2._write_batch = orig_write_batch
    # the interleaved append's commit survived intact
    assert V.current_version(table) == 2
    assert V.read_table(spark, table).count() == 305
    # and a clean retry from the fresh snapshot succeeds
    res = V.update_table(spark, table, {"v": F.lit(0.0)}, F.col("g") == 1)
    assert res["version"] == 3 and res["n_matched"] == 100


def test_delete_from_file_level(spark, table):
    """DELETE rewrites only files containing matches, without them."""
    res = V.delete_from(spark, table, F.col("g") == 2)
    assert res["n_deleted"] == 100
    assert res["files_touched"] == 1 and res["files_reused"] == 2
    got = V.read_table(spark, table)
    assert got.count() == 200 and got.filter(F.col("g") == 2).count() == 0
    # time travel still sees the deleted rows
    assert V.read_table(spark, table, version=1).count() == 300
    # deleting everything leaves an empty-but-valid readable table? No —
    # at least the no-match path is a no-op commit
    res2 = V.delete_from(spark, table, F.col("g") == 99)
    assert res2["n_deleted"] == 0 and V.current_version(table) == 2


def test_table_changes_insert_and_delete(spark, table):
    """CDF: an append shows as inserts; a delete as deletes; an update
    as delete+insert of the touched file's rows."""
    extra = spark.range(300, 310).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    V.append_table(extra, table)  # v2
    ch = V.table_changes(spark, table, 1, 2)
    assert ch.filter(F.col("_change_type") == "insert").count() == 10
    assert ch.filter(F.col("_change_type") == "delete").count() == 0

    V.delete_from(spark, table, F.col("id") >= 300)  # v3: drops the batch
    ch2 = V.table_changes(spark, table, 2, 3)
    dels = ch2.filter(F.col("_change_type") == "delete")
    assert dels.filter(F.col("id") >= 300).count() == 10

    V.update_table(spark, table, {"v": F.lit(-9.0)}, F.col("g") == 1)  # v4
    ch3 = V.table_changes(spark, table, 3, 4)
    ins = ch3.filter(F.col("_change_type") == "insert")
    # the rewritten file re-inserts all its rows, with g==1 modified
    assert ins.filter((F.col("g") == 1) & (F.col("v") == -9.0)).count() == 100
    # net reconciliation on the key equals the v4 snapshot
    v3 = {r["id"]: (r["g"], r["v"]) for r in V.read_table(spark, table, version=3).collect()}
    for r in ch3.collect():
        if r["_change_type"] == "delete":
            v3.pop(r["id"], None)
    for r in ins.collect():
        v3[r["id"]] = (r["g"], r["v"])
    v4 = {r["id"]: (r["g"], r["v"]) for r in V.read_table(spark, table, version=4).collect()}
    assert v3 == v4


def test_table_changes_identical_versions_empty(spark, table):
    V.rollback(table, 1)  # v2 references the same files
    ch = V.table_changes(spark, table, 1, 2)
    assert ch.count() == 0


def test_multi_predicate_pruning_compounds(spark, tmp_path):
    """A list of between-predicates prunes conjunctively: the z-order
    layout lets BOTH dimensions drop files, and the survivor set is the
    intersection."""
    path = str(tmp_path / "zz")
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 7) % 64).alias("y"),
    )
    V.create_table(df.repartition(8), path)
    V.compact_table(spark, path, target_files=8, zorder_by=["x", "y"])
    files = V._read_manifest(path, 2)["files"]
    kx, _ = V.prunable(files, "x", 0, 7)
    both = V.read_table(
        spark, path, between=[("x", 0, 7), ("y", 0, 7)]
    )
    assert len(both.inputFiles()) <= len(kx)
    want = sorted(
        r["id"] for r in df.filter((F.col("x") <= 7) & (F.col("y") <= 7)).collect()
    )
    assert sorted(r["id"] for r in both.collect()) == want


def test_read_as_of_timestamp(spark, table):
    import time as _time

    t_before = _time.time()
    _time.sleep(0.05)
    V.update_table(spark, table, {"v": F.lit(-1.0)}, F.col("g") == 0)
    assert V.version_at(table, t_before) == 1
    assert V.read_table_as_of(spark, table, t_before).filter(
        F.col("v") == -1.0
    ).count() == 0
    assert V.read_table_as_of(spark, table, _time.time()).filter(
        F.col("v") == -1.0
    ).count() == 100
    with pytest.raises(ValueError):
        V.version_at(table, 0.0)  # before the table existed


def test_shallow_and_deep_clone(spark, table, tmp_path):
    shallow = str(tmp_path / "shallow")
    deep = str(tmp_path / "deep")
    V.clone_table(spark, table, shallow)
    V.clone_table(spark, table, deep, deep=True)
    # both read identically to the source
    src_rows = sorted(map(tuple, V.read_table(spark, table).collect()))
    assert sorted(map(tuple, V.read_table(spark, shallow).collect())) == src_rows
    assert sorted(map(tuple, V.read_table(spark, deep).collect())) == src_rows
    # shallow shares files; deep owns its own
    src_files = set(V._paths(V._read_manifest(table, 1)["files"]))
    assert set(V._paths(V._read_manifest(shallow, 1)["files"])) == src_files
    assert not (set(V._paths(V._read_manifest(deep, 1)["files"])) & src_files)
    # diverging the clone doesn't touch the source
    V.update_table(spark, shallow, {"v": F.lit(0.5)}, F.col("g") == 1)
    assert V.read_table(spark, table).filter(F.col("v") == 0.5).count() == 0


# ---------------------------------------------------------------------------
# Round-4 advisory fixes: NULL-predicate DELETE, partial-stats poisoning,
# append/compact/rollback concurrency tokens, percent-encoded roots,
# NULL merge keys.
# ---------------------------------------------------------------------------


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE removes rows where the predicate is TRUE; rows where it
    evaluates NULL must SURVIVE. Under three-valued logic filter(~where)
    drops them too — the fix coalesces the kept-side predicate to FALSE."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 3.0)], "id long, v double"
    )
    path = str(tmp_path / "t")
    V.create_table(df, path)
    res = V.delete_from(spark, path, F.col("v") > 5)
    assert res["n_deleted"] == 1
    out = V.read_table(spark, path)
    assert sorted(r["id"] for r in out.collect()) == [2, 3]


def test_file_stats_statless_rowgroup_poisons_column(tmp_path):
    """A row group with no (or non-finite) min/max for a column makes the
    whole file unprunable on that column: merging only the stats-bearing
    groups' ranges would understate the file's true range and data
    skipping would silently drop in-range rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fp = str(tmp_path / "f.parquet")
    t1 = pa.table({"x": [1.0, 2.0], "k": [1, 2]})
    t2 = pa.table({"x": [float("nan"), float("nan")], "k": [3, 4]})
    w = pq.ParquetWriter(fp, t1.schema)
    w.write_table(t1)  # row group 0: clean stats
    w.write_table(t2)  # row group 1: all-NaN x -> no usable min/max
    w.close()
    stats = V._file_stats(fp)
    assert "x" not in stats  # conservative: never pruned on x
    assert stats["k"] == [1, 4]  # other columns still prunable


def test_append_stale_snapshot_raises_commit_conflict(spark, table, monkeypatch):
    """An append planned against v(N) while another writer commits v(N+1)
    must conflict, not resurrect the files that commit removed."""
    df2 = spark.range(5).select(
        F.col("id"), F.lit(0).cast("long").alias("g"), F.lit(0.0).alias("v")
    )
    orig = V._write_batch
    fired = {}

    def interleave(df, path, *args, **kw):
        out = orig(df, path, *args, **kw)
        if not fired.get("done"):
            fired["done"] = True
            # concurrent writer flips the pointer between our snapshot
            # read and our commit
            V._commit(path, [])
        return out

    monkeypatch.setattr(V, "_write_batch", interleave)
    with pytest.raises(V.CommitConflict):
        V.append_table(df2, table)


def test_rollback_stale_snapshot_raises_commit_conflict(spark, table):
    """Rollback carries the token too: re-committing an old file list over
    an unseen concurrent commit would silently drop it."""
    df2 = spark.range(3).select(
        F.col("id"), F.lit(0).cast("long").alias("g"), F.lit(0.0).alias("v")
    )
    V.append_table(df2, table)  # v2
    real_commit = V._commit
    calls = {}

    def racing_commit(path, files, extra=None, expect_version=None, **kw):
        if not calls.get("done"):
            calls["done"] = True
            real_commit(path, files)  # interloper wins first
        return real_commit(path, files, extra, expect_version, **kw)

    import unittest.mock as mock

    with mock.patch.object(V, "_commit", racing_commit):
        with pytest.raises(V.CommitConflict):
            V.rollback(table, 1)


def test_update_under_percent_encoded_root(spark, tmp_path):
    """Spark's _metadata.file_path is a percent-encoded URI; a table root
    containing a space must still match manifest paths, or every file is
    'untouched' AND rewritten -> duplicated rows after UPDATE."""
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    path = str(tmp_path / "my tbl")
    V.create_table(df.repartitionByRange(3, "g"), path)
    res = V.update_table(spark, path, {"v": F.lit(-1.0)}, F.col("g") == 1)
    assert res["files_touched"] == 1
    assert res["files_reused"] == 2
    out = V.read_table(spark, path)
    assert out.count() == 300  # no duplication
    assert out.filter("v = -1.0").count() == 100


def test_delete_under_percent_encoded_root(spark, tmp_path):
    df = spark.range(0, 90).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    path = str(tmp_path / "sp ace")
    V.create_table(df.repartitionByRange(3, "g"), path)
    res = V.delete_from(spark, path, F.col("g") == 2)
    assert res["n_deleted"] == 30
    assert V.read_table(spark, path).count() == 60


def test_merge_rejects_null_source_keys(spark, table):
    """A NULL merge key never equi-joins: the row would 'insert' as
    all-NULL target-side values. Rejected up front like dup keys."""
    src = spark.createDataFrame([(None, 0, 1.0)], "id long, g long, v double")
    with pytest.raises(ValueError, match="NULL"):
        V.merge_table(spark, table, src, ["id"])


# ---------------------------------------------------------------------------
# Change-feed consumer (the consumer half of the lakehouse loop)
# ---------------------------------------------------------------------------


def test_consume_changes_snapshot_then_deltas(spark, tmp_path):
    from pyspark.sql import functions as _F

    path = str(tmp_path / "t")
    cursor = str(tmp_path / "cursor.json")
    got: list[list] = []

    def sink(df):
        got.append(sorted(r["id"] for r in df.collect()))

    V.create_table(
        spark.range(3).select(_F.col("id"), _F.lit(1.0).alias("v")), path
    )
    r1 = V.consume_changes(spark, path, cursor, sink)
    assert r1 == {"from": 0, "to": 1, "delivered": True, "committed": True}
    assert got[-1] == [0, 1, 2]  # first run = full snapshot

    # no new commit: nothing delivered, cursor untouched
    r2 = V.consume_changes(spark, path, cursor, sink)
    assert r2["delivered"] is False and len(got) == 1

    # append delivers ONLY the new rows
    V.append_table(
        spark.range(10, 12).select(_F.col("id"), _F.lit(2.0).alias("v")), path
    )
    r3 = V.consume_changes(spark, path, cursor, sink)
    assert r3 == {"from": 1, "to": 2, "delivered": True, "committed": True}
    assert got[-1] == [10, 11]


def test_consume_changes_redelivers_on_sink_crash(spark, tmp_path):
    from pyspark.sql import functions as _F

    path = str(tmp_path / "t")
    cursor = str(tmp_path / "cursor.json")
    V.create_table(
        spark.range(2).select(_F.col("id"), _F.lit(1.0).alias("v")), path
    )

    def bad_sink(df):
        raise RuntimeError("downstream outage")

    with pytest.raises(RuntimeError):
        V.consume_changes(spark, path, cursor, bad_sink)
    # cursor NOT committed -> the batch re-delivers (at-least-once)
    got = []
    V.consume_changes(spark, path, cursor, lambda df: got.append(df.count()))
    assert got == [2]


def test_consume_changes_behind_retention_raises(spark, tmp_path):
    from pyspark.sql import functions as _F

    path = str(tmp_path / "t")
    cursor = str(tmp_path / "cursor.json")
    V.create_table(
        spark.range(2).select(_F.col("id"), _F.lit(1.0).alias("v")), path
    )
    V.consume_changes(spark, path, cursor, lambda df: df.count())  # at v1
    for i in range(3):
        V.append_table(
            spark.range(2).select(_F.col("id"), _F.lit(float(i)).alias("v")),
            path,
        )
    V.vacuum(path, keep_last=2)  # prunes v1's manifest
    with pytest.raises(ValueError, match="retention"):
        V.consume_changes(spark, path, cursor, lambda df: df.count())


# ---------------------------------------------------------------------------
# Per-file Bloom indexes: equality-predicate file skipping
# ---------------------------------------------------------------------------


def test_bloom_point_read_prunes_files(spark, tmp_path):
    """3 files partitioned on disjoint id ranges, bloom-indexed on id:
    a point read must scan exactly the one file holding the key and
    return exactly the matching row."""
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    path = str(tmp_path / "t")
    V.create_table(
        df.repartitionByRange(3, "id"), path, bloom_cols=["id"]
    )
    out = V.read_table(spark, path, eq=("id", 142))
    assert len(out.inputFiles()) == 1  # two files bloom-skipped
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["id"] == 142

    # a value no file contains: every bloom rules it out -> the SQL
    # answer is an EMPTY result with the table schema, not an error
    # (existence probes on absent keys are the ordinary case)
    missing = V.read_table(spark, path, eq=("id", 10_000))
    assert missing.count() == 0
    assert set(missing.columns) == {"id", "g", "v"}


def test_all_pruned_point_read_builds_without_a_job(
    spark, tmp_path, count_jobs
):
    """Every file's bloom rules the key out: the empty result is built
    from the manifest schema, with no Spark job."""
    path = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 30).select(F.col("id"), F.lit("x").alias("s")),
        path, bloom_cols=["id"],
    )
    missing, jobs = count_jobs(
        lambda: V.read_table(spark, path, eq=("id", 10_000))
    )
    assert jobs == 0
    assert missing.columns == ["id", "s"] and missing.count() == 0


def test_bloom_exactness_against_full_scan(spark, tmp_path):
    """Pruned point-reads must equal the unpruned filter for every key
    (no false negatives; false positives removed by the exact filter)."""
    df = spark.range(0, 90).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") + 0.5).alias("v")
    )
    path = str(tmp_path / "t")
    V.create_table(df.repartitionByRange(3, "id"), path, bloom_cols=["k"])
    full = V.read_table(spark, path)
    for key in range(7):
        a = sorted(r["id"] for r in V.read_table(spark, path, eq=("k", key)).collect())
        b = sorted(r["id"] for r in full.filter(F.col("k") == key).collect())
        assert a == b, key


def test_bloom_unindexed_commits_conservative(spark, tmp_path):
    """Appends WITHOUT bloom_cols stay readable: their files carry no
    bloom and are conservatively kept by point reads."""
    path = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(F.col("id")), path, bloom_cols=["id"]
    )
    V.append_table(spark.range(10, 20).select(F.col("id")), path)  # no bloom
    out = V.read_table(spark, path, eq=("id", 15))
    assert [r["id"] for r in out.collect()] == [15]


def test_bloom_string_keys_and_vacuum(spark, tmp_path):
    """String keys index fine; vacuum reclaims blooms with their batch
    dirs (they live inside)."""
    import os as _os

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"user_{i % 5}") for i in range(50)], "id long, name string"
    )
    V.create_table(df.repartition(2), path, bloom_cols=["name"])
    out = V.read_table(spark, path, eq=("name", "user_3"))
    assert out.count() == 10
    # overwrite then vacuum: v1's batch dir (and its .bloom files) go
    V.overwrite_table(spark.range(1).select(F.col("id")), path)
    V.overwrite_table(spark.range(1).select(F.col("id")), path)
    removed = V.vacuum(path, keep_last=2)
    assert removed
    leftover_blooms = [
        p for d, _, fs in _os.walk(path) for p in fs if ".bloom." in p
    ]
    assert leftover_blooms == []


def test_incremental_compaction_merges_only_small_files(spark, tmp_path):
    """small_only OPTIMIZE: the per-commit dribble merges; files already
    at size are referenced untouched (incremental cost ∝ small bytes)."""
    import os as _os

    path = str(tmp_path / "t")
    # one big commit (1 file) + 4 dribble commits (1 small file each)
    V.create_table(
        spark.range(0, 50_000).select(F.col("id")).coalesce(1), path
    )
    for i in range(4):
        V.append_table(
            spark.range(100_000 + i, 100_001 + i).select(F.col("id"))
            .coalesce(1),
            path,
        )
    before = V._read_manifest(path, V.current_version(path))["files"]
    assert len(before) == 5
    big_path = max(before, key=lambda f: _os.path.getsize(f["path"]))["path"]

    res = V.compact_table(spark, path, small_only_bytes=64 * 1024)
    assert res["compacted"] == 4
    after = V._read_manifest(path, res["version"])["files"]
    assert len(after) == 2  # big file + one merged small file
    assert big_path in {f["path"] for f in after}  # untouched reference
    out = V.read_table(spark, path)
    assert out.count() == 50_004  # nothing lost or duplicated
    assert out.filter(F.col("id") >= 100_000).count() == 4
    # running it again is a no-op (one small file left, nothing to merge)
    res2 = V.compact_table(spark, path, small_only_bytes=64 * 1024)
    assert res2.get("compacted") == 0


def test_concurrent_appends_all_land_exactly_once(spark, tmp_path):
    """8 threads race appends with retry-on-CommitConflict: every batch
    lands exactly once and the version count equals the commit count —
    the optimistic-concurrency token under real contention."""
    import threading

    path = str(tmp_path / "t")
    V.create_table(spark.range(0, 1).select(F.col("id")), path)
    errors = []

    def worker(k: int) -> None:
        df = spark.range(1000 * k, 1000 * k + 10).select(F.col("id"))
        for _ in range(40):
            try:
                V.append_table(df, path)
                return
            except V.CommitConflict:
                continue
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)
                return
        errors.append(RuntimeError(f"writer {k} starved"))

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(1, 9)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert V.current_version(path) == 9  # 1 create + 8 appends
    rows = sorted(r["id"] for r in V.read_table(spark, path).collect())
    expected = [0] + [1000 * k + i for k in range(1, 9) for i in range(10)]
    assert rows == sorted(expected)  # exactly once each


def test_rewrites_preserve_bloom_indexes(spark, tmp_path):
    """UPDATE/DELETE rewrite touched files WITH fresh blooms for the
    columns those files had indexed — point-read pruning survives
    copy-on-write mutations."""
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    path = str(tmp_path / "t")
    V.create_table(df.repartitionByRange(3, "id"), path, bloom_cols=["id"])
    V.update_table(spark, path, {"v": F.lit(-1.0)}, F.col("id") == 142)
    files = V._read_manifest(path, V.current_version(path))["files"]
    assert all("id" in f.get("blooms", {}) for f in files)  # incl. rewritten
    out = V.read_table(spark, path, eq=("id", 142))
    assert len(out.inputFiles()) == 1
    assert [r["v"] for r in out.collect()] == [-1.0]

    V.delete_from(spark, path, F.col("id") == 142)
    files = V._read_manifest(path, V.current_version(path))["files"]
    assert all("id" in f.get("blooms", {}) for f in files)
    assert V.read_table(spark, path, eq=("id", 141)).count() == 1


def test_time_based_vacuum_retains_recent_versions(spark, table):
    # five quick commits: count-based keep_last=1 alone would reclaim
    # v1-v4, but every manifest is seconds old — the wall-clock window
    # must retain them all
    for i in range(4):
        V.append_table(
            spark.range(1000 + i, 1001 + i).select(
                F.col("id"), (F.col("id") % 3).alias("g"),
                (F.col("id") * 2.0).alias("v"),
            ),
            table,
        )
    removed = V.vacuum(table, keep_last=1, keep_seconds=3600)
    assert removed == []
    for v in range(1, 6):
        assert V.read_table(spark, table, version=v).count() == 300 + (v - 1)
    # appends REFERENCE old batches, so nothing is reclaimable until a
    # rewrite supersedes them; compact then count-based vacuum reclaims
    V.compact_table(spark, table, target_files=1)
    removed = V.vacuum(table, keep_last=1)
    assert removed  # superseded batches reclaimed
    assert V.read_table(spark, table).count() == 304


def test_describe_table_metadata_only(spark, table):
    V.delete_from(spark, table, F.col("id") < 10, mode="dv")
    V.add_constraint(spark, table, "v_nonneg", "v >= 0")
    d = V.describe_table(table)
    assert d["version"] == 2
    assert d["num_rows"] == 290
    assert d["files_with_dv"] >= 1 and d["dv_deleted_rows"] == 10
    assert d["constraints"] == {"v_nonneg": "v >= 0"}
    assert d["num_files"] == 3 and d["total_bytes"] > 0
    assert d["retained_versions"] == [1, 2]


def test_table_history_records_operations(spark, tmp_path):
    """DESCRIBE HISTORY: every mutation tags its commit; records are
    newest-first, metadata-only, and carry commit extras."""
    path = str(tmp_path / "hist")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    V.create_table(df.repartitionByRange(2, "id"), path)
    V.append_table(
        spark.createDataFrame([(500, 1.0)], "id long, v double"),
        path, extra={"batch_id": 7},
    )
    V.update_table(spark, path, {"v": F.lit(0.0)}, F.col("id") == 1)
    V.delete_from(spark, path, F.col("id") == 2, mode="dv")
    V.merge_table(
        spark, path,
        spark.createDataFrame([(3, 9.0)], "id long, v double"),
        keys=["id"],
    )
    V.rollback(path, 2)
    hist = V.table_history(path)
    assert [h["version"] for h in hist] == [6, 5, 4, 3, 2, 1]
    ops = {h["version"]: h["operation"] for h in hist}
    assert ops[1] == "CREATE" and ops[2] == "APPEND"
    assert ops[3] == "UPDATE" and ops[4] == "DELETE"
    assert ops[5] == "MERGE" and ops[6] == "ROLLBACK(v2)"
    assert hist[4]["batch_id"] == 7  # commit extras surface
    assert all(h["timestamp"] > 0 and h["n_files"] >= 1 for h in hist)


def test_type_conflicting_append_rejected_before_write(spark, tmp_path):
    """A type-flipped column must be rejected at APPEND time — accepted,
    it poisons every later read with CANNOT_MERGE_SCHEMAS."""
    path = str(tmp_path / "schema_guard")
    V.create_table(
        spark.range(5).select(F.col("id"), F.lit("x").alias("s")), path
    )
    bad = spark.range(5, 8).select(
        F.col("id").cast("string").alias("id"), F.lit("y").alias("s")
    )
    with pytest.raises(V.SchemaConflict, match="id"):
        V.append_table(bad, path)
    assert V.current_version(path) == 1  # nothing committed
    assert V.read_table(spark, path).count() == 5  # reads still work
    # additive drift stays allowed: new column + omitted column
    V.append_table(
        spark.range(8, 10).select(
            F.col("id"), F.lit(1.0).alias("extra_col")
        ),
        path,
    )
    got = V.read_table(spark, path)
    assert got.count() == 7
    assert set(got.columns) == {"id", "s", "extra_col"}


def test_reads_build_without_a_job(spark, table, count_jobs):
    """The manifest records each version's schema, so building a read
    — current, time travel, an all-pruned predicate, a change feed with
    file and deletion-vector legs — runs no Spark job, and neither does
    the append schema check. An inferring parquet read is the control:
    it runs one."""
    V.append_table(
        spark.range(300, 303).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2.0).alias("v"),
        ),
        table,
    )
    V.delete_from(spark, table, F.col("id") == 4, mode="dv")
    builds = {
        "current": lambda: V.read_table(spark, table),
        "version": lambda: V.read_table(spark, table, version=1),
        "all-pruned between": lambda: V.read_table(
            spark, table, between=("g", 99, 100)
        ),
        "table_changes": lambda: V.table_changes(spark, table, 1, 3),
    }
    for what, build in builds.items():
        df, jobs = count_jobs(build)
        assert jobs == 0, what
    assert df.filter(F.col("_change_type") == "delete").count() == 1
    bad = spark.range(1).select(F.col("id").cast("string").alias("id"))

    def rejected():
        with pytest.raises(V.SchemaConflict):
            V.append_table(bad, table)

    assert count_jobs(rejected)[1] == 0
    first = V._read_manifest(table, 1)["files"][0]["path"]
    assert count_jobs(lambda: spark.read.parquet(first))[1] >= 1


def test_manifest_without_schema_fails_loud(spark, table):
    """A manifest that records no schema (written before manifests
    carried one) is a loud error naming the table and version — no
    inference fallback."""
    import json

    mpath = os.path.join(V._manifest_dir(table), "v1.json")
    with open(mpath) as fh:
        m = json.load(fh)
    del m["schema"]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="v1 of .* records no schema"):
        V.read_table(spark, table)


def test_type_changing_update_and_merge_rejected_before_write(spark, table):
    """An UPDATE or MERGE whose new values change a column's type (g is
    bigint; g / 2 is double) raises SchemaConflict before any file
    lands: the version is unchanged and the table still reads."""
    src = spark.createDataFrame([(2, 7, -1.0)], "id long, g long, v double")
    with pytest.raises(V.SchemaConflict, match="g: table=bigint"):
        V.update_table(spark, table, {"g": F.col("g") / 2}, F.col("id") < 5)
    with pytest.raises(V.SchemaConflict, match="g: table=bigint"):
        V.merge_table(
            spark, table, src, ["id"],
            when_matched={"g": F.col("s.g") + F.lit(0.5)},
        )
    assert V.current_version(table) == 1
    assert V.read_table(spark, table).count() == 300
