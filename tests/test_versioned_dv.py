"""Deletion vectors (io/versioned.py merge-on-read deletes).

The claims under test:

- a ``mode="dv"`` DELETE commits only position sidecars — the manifest
  references the SAME data files, and reads apply the DV exactly
  (equality vs the copy-on-write result and vs a plain filter);
- SQL NULL semantics hold (predicate-NULL rows survive);
- deletes COMPOSE: a second DV delete unions positions, counts only
  newly-matched rows, and never resurrects anything;
- every other path is DV-aware: UPDATE/MERGE discovery can't match
  deleted rows, compaction physically purges DVs, the bloom ``eq=``
  point-read path applies them, time travel shows pre-delete rows;
- ``mode="auto"`` rewrites heavily-deleted files and DVs the rest;
- the change feed emits `delete` rows for a DV-only commit;
- vacuum keeps referenced DV sidecars and reclaims superseded ones.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V


@pytest.fixture()
def table(spark, tmp_path):
    """3-file table, g=0,1,2 one file each (range layout)."""
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 2.0).alias("v"),
    )
    path = str(tmp_path / "tbl")
    assert V.create_table(df.repartitionByRange(3, "g"), path) == 1
    return path


def _ids(spark, path, **kw):
    return sorted(
        r["id"] for r in V.read_table(spark, path, **kw).select("id").collect()
    )


def test_dv_delete_matches_cow_delete(spark, table, tmp_path):
    # same table, same predicate, both modes → identical visible rows
    df = V.read_table(spark, table)
    cow_path = str(tmp_path / "cow")
    V.create_table(df, cow_path)
    pred = (F.col("id") % 7 == 0) & (F.col("g") == 1)
    r_dv = V.delete_from(spark, table, pred, mode="dv")
    r_cow = V.delete_from(spark, cow_path, pred, mode="cow")
    assert r_dv["n_deleted"] == r_cow["n_deleted"] > 0
    assert r_dv["files_rewritten"] == 0 and r_dv["files_dv"] == 1
    assert _ids(spark, table) == _ids(spark, cow_path)
    # the DV commit references the SAME data files
    v1 = set(V._paths(V._read_manifest(table, 1)["files"]))
    v2 = set(V._paths(V._read_manifest(table, 2)["files"]))
    assert v1 == v2


def test_dv_null_predicate_rows_survive(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, v double"
    )
    path = str(tmp_path / "nulls")
    V.create_table(df, path)
    res = V.delete_from(spark, path, F.col("v") > 15.0, mode="dv")
    assert res["n_deleted"] == 1
    assert _ids(spark, path) == [1, 2]  # NULL row kept, like SQL DELETE


def test_dv_deletes_compose_and_count_fresh_only(spark, table):
    r1 = V.delete_from(spark, table, F.col("id") < 30, mode="dv")
    assert r1["n_deleted"] == 30
    # overlapping predicate: only the NEW rows count, union persists
    r2 = V.delete_from(spark, table, F.col("id") < 60, mode="dv")
    assert r2["n_deleted"] == 30
    assert _ids(spark, table) == list(range(60, 300))
    files = V._read_manifest(table, V.current_version(table))["files"]
    assert sum(f.get("dv", {}).get("n", 0) for f in files) == 60


def test_time_travel_sees_pre_delete_rows(spark, table):
    V.delete_from(spark, table, F.col("id") < 100, mode="dv")
    assert len(_ids(spark, table)) == 200
    assert len(_ids(spark, table, version=1)) == 300


def test_update_after_dv_delete_cannot_resurrect(spark, table):
    V.delete_from(spark, table, F.col("id") < 10, mode="dv")
    # predicate overlaps the deleted rows; matches only live ones
    res = V.update_table(
        spark, table, {"v": F.lit(-1.0)}, F.col("id") < 20
    )
    assert res["n_matched"] == 10
    got = V.read_table(spark, table)
    assert got.count() == 290  # deleted rows stayed deleted
    assert got.filter(F.col("v") == -1.0).count() == 10


def test_merge_after_dv_delete_treats_deleted_as_absent(spark, table):
    V.delete_from(spark, table, F.col("id") == 5, mode="dv")
    src = spark.createDataFrame(
        [(5, 2, 555.0)], "id long, g long, v double"
    )
    res = V.merge_table(spark, table, src, keys=["id"])
    assert res["updated"] == 0 and res["inserted"] == 1
    got = V.read_table(spark, table).filter(F.col("id") == 5).collect()
    assert len(got) == 1 and got[0]["v"] == 555.0


def test_compact_purges_dvs(spark, table):
    V.delete_from(spark, table, F.col("id") % 10 == 0, mode="dv")
    n_before = V.read_table(spark, table).count()
    res = V.compact_table(spark, table, target_files=1)
    files = V._read_manifest(table, res["version"])["files"]
    assert all("dv" not in f for f in files)
    assert V.read_table(spark, table).count() == n_before


def test_auto_mode_rewrites_hot_files_dvs_cold(spark, table):
    # g=0 file: delete ~all of it (100/100); g=1 file: delete 1 row
    pred = (F.col("g") == 0) | (F.col("id") == 1)
    res = V.delete_from(
        spark, table, pred, mode="auto", rewrite_threshold=0.5
    )
    assert res["files_rewritten"] == 1  # the g=0 file (100% matched)
    assert res["files_dv"] == 1  # the g=1 file (1% matched)
    assert res["n_deleted"] == 101
    assert len(_ids(spark, table)) == 199


def test_bloom_eq_path_applies_dv(spark, tmp_path):
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    )
    path = str(tmp_path / "bl")
    V.create_table(df.repartitionByRange(2, "id"), path, bloom_cols=["id"])
    V.delete_from(spark, path, F.col("id") == 42, mode="dv")
    assert V.read_table(spark, path, eq=("id", 42)).count() == 0
    assert V.read_table(spark, path, eq=("id", 41)).count() == 1


def test_between_pruned_read_applies_dv(spark, table):
    V.delete_from(spark, table, F.col("id") == 150, mode="dv")
    got = V.read_table(spark, table, between=("id", 100, 199))
    assert sorted(r["id"] for r in got.select("id").collect()) == [
        i for i in range(100, 200) if i != 150
    ]


def test_change_feed_emits_dv_only_deletes(spark, table):
    V.delete_from(spark, table, F.col("id").isin(3, 7), mode="dv")
    ch = V.table_changes(spark, table, 1, 2)
    rows = ch.select("id", "_change_type").collect()
    assert sorted((r["id"], r["_change_type"]) for r in rows) == [
        (3, "delete"),
        (7, "delete"),
    ]
    # second overlapping delete: feed 2→3 emits only the fresh position
    V.delete_from(spark, table, F.col("id").isin(7, 11), mode="dv")
    rows = V.table_changes(spark, table, 2, 3).select(
        "id", "_change_type"
    ).collect()
    assert sorted((r["id"], r["_change_type"]) for r in rows) == [
        (11, "delete")
    ]


def test_vacuum_keeps_live_dvs_reclaims_superseded(spark, table):
    V.delete_from(spark, table, F.col("id") == 1, mode="dv")  # v2
    v2_dv = next(
        f["dv"]["path"]
        for f in V._read_manifest(table, 2)["files"]
        if f.get("dv")
    )
    # same file as id==1 (both g=1) → the union supersedes v2's sidecar
    V.delete_from(spark, table, F.col("id") == 4, mode="dv")  # v3 (union DV)
    v3_dv = next(
        f["dv"]["path"]
        for f in V._read_manifest(table, 3)["files"]
        if f.get("dv")
    )
    assert v2_dv != v3_dv
    V.append_table(spark.range(300, 310).select(
        F.col("id"), F.lit(0).cast("long").alias("g"), F.lit(0.0).alias("v")
    ), table)  # v4
    removed = V.vacuum(table, keep_last=2)  # keeps v3, v4
    assert os.path.exists(v3_dv)
    assert not os.path.exists(v2_dv)
    assert any("dv_" in d for d in removed)
    assert len(_ids(spark, table)) == 308


def test_dv_commit_carries_concurrency_token(spark, table):
    # a DV delete planned against v1 must fail if v2 landed meanwhile
    base = V.current_version(table)
    V.append_table(
        spark.range(300, 301).select(
            F.col("id"), F.lit(0).cast("long").alias("g"), F.lit(0.0).alias("v")
        ),
        table,
    )
    with pytest.raises(V.CommitConflict):
        V._commit(table, V._read_manifest(table, base)["files"],
                  expect_version=base)


def test_reorg_purges_only_dv_files(spark, table):
    # DV one file's rows (g=1), leave the others clean
    V.delete_from(spark, table, (F.col("g") == 1) & (F.col("id") < 20),
                  mode="dv")
    before = {f["path"] for f in V._read_manifest(table, 2)["files"]}
    res = V.reorg_table(spark, table)
    assert res["files_purged"] == 1 and res["files_reused"] == 2
    files = V._read_manifest(table, res["version"])["files"]
    assert all("dv" not in f for f in files)
    # the two clean files are REFERENCED (same paths), one is new
    kept = {f["path"] for f in files} & before
    assert len(kept) == 2
    assert V.read_table(spark, table).count() == 293


def test_reorg_threshold_skips_lightly_deleted_files(spark, table):
    V.delete_from(spark, table, F.col("id") == 1, mode="dv")  # 1% of g=1
    res = V.reorg_table(spark, table, min_dv_fraction=0.5)
    assert res["files_purged"] == 0
    # still readable, DV still applied
    assert V.read_table(spark, table).count() == 299


def test_dv_sidecars_written_executor_side_driver_gets_o_files(
    spark, table, monkeypatch
):
    """The dv/auto DELETE path must never materialize matched row
    positions on the driver: sidecars are written by applyInPandas
    tasks and the driver collects only {file, dv_path, n} records.
    Guard: any toPandas() during delete_from fails the test."""
    # the classic concrete class — patching the abstract base
    # (pyspark.sql.DataFrame) would be inert in Spark 4
    from pyspark.sql.classic.dataframe import DataFrame

    assert DataFrame.toPandas is not None

    def _boom(self, *a, **kw):
        raise AssertionError(
            "delete_from materialized a DataFrame on the driver via "
            "toPandas() — DV sidecar writes must stay executor-side"
        )

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    res = V.delete_from(spark, table, F.col("id") < 150, mode="dv")
    assert res["n_deleted"] == 150 and res["files_rewritten"] == 0
    monkeypatch.undo()
    assert V.read_table(spark, table).count() == 150
    # auto mode's DV leg is executor-side too
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    res2 = V.delete_from(
        spark, table, (F.col("id") >= 150) & (F.col("id") < 160),
        mode="auto", rewrite_threshold=0.9,  # above the 50% existing debt
    )
    assert res2["files_dv"] >= 1 and res2["n_deleted"] == 10
    monkeypatch.undo()
    assert V.read_table(spark, table).count() == 140


def test_dv_sidecar_format_byte_identical_to_driver_writer(
    spark, tmp_path
):
    """Executor-written sidecars use the exact _write_dv byte format
    (sorted distinct little-endian int64) — a reader cannot tell which
    path produced a DV, and existing-DV union composes."""
    import numpy as np

    table = str(tmp_path / "one_file_tbl")
    V.create_table(spark.range(0, 100).select("id").coalesce(1), table)
    V.delete_from(spark, table, F.col("id").isin([5, 3, 1]), mode="dv")
    V.delete_from(spark, table, F.col("id").isin([2, 3, 4]), mode="dv")
    files = V._read_manifest(table, V.current_version(table))["files"]
    dvs = [f["dv"] for f in files if f.get("dv")]
    assert len(dvs) == 1
    arr = V._read_dv(dvs[0]["path"])
    assert arr.dtype == np.dtype("<i8")
    assert arr.tolist() == [1, 2, 3, 4, 5]  # sorted, distinct, unioned
    assert dvs[0]["n"] == 5
    ref = V._write_dv(table, [4, 2, 5, 1, 3, 3])
    assert V._read_dv(ref["path"]).tobytes() == arr.tobytes()


def test_change_feed_emits_rollback_resurrections_as_inserts(
    spark, table
):
    """rollback() past a DV delete makes those rows visible again —
    the change feed must emit them as `insert`, or a consumer's view
    diverges from table state forever (the un-delete bug)."""
    V.delete_from(spark, table, F.col("id").isin(3, 7), mode="dv")  # v2
    V.rollback(table, 1)  # v3: DV gone, rows 3 and 7 live again
    rows = V.table_changes(spark, table, 2, 3).select(
        "id", "_change_type"
    ).collect()
    assert sorted((r["id"], r["_change_type"]) for r in rows) == [
        (3, "insert"),
        (7, "insert"),
    ]
    # partial shrink: delete {3,7,11} then roll back to the {3,7} DV
    V.delete_from(spark, table, F.col("id").isin(3, 7), mode="dv")  # v4
    V.delete_from(spark, table, F.col("id") == 11, mode="dv")  # v5
    V.rollback(table, 4)  # v6: 11 resurrected, 3 and 7 still deleted
    rows = V.table_changes(spark, table, 5, 6).select(
        "id", "_change_type"
    ).collect()
    assert sorted((r["id"], r["_change_type"]) for r in rows) == [
        (11, "insert")
    ]
    # and the consumer loop delivers the resurrected row
    assert sorted(_ids(spark, table)) == [
        i for i in range(300) if i not in (3, 7)
    ]


def test_dv_read_driver_load_is_bounded(spark, table, monkeypatch):
    """DV application picks its strategy by total deleted-position
    count. UNDER the cap the driver loads the positions ONCE (bounded
    at cap×8 bytes) to build the broadcast anti-join — a deliberate,
    bounded read. PAST the cap the driver must never touch a sidecar:
    each scan task loads its own file's DV (mirror of the distributed
    DV writer), the driver handling only the {file → dv_path} map —
    O(DV files), never O(deleted rows). Poisoning the driver-side
    sidecar reader with the cap at 0 proves no big-DV read path goes
    through it (Python workers are separate processes and the
    _dv_filter closure reads sidecars inline, so a driver call would
    be the only hit)."""
    V.delete_from(spark, table, F.col("id") % 7 == 0, mode="dv")
    expect = [i for i in range(300) if i % 7 != 0]
    # small-DV path: anti-join strategy, same rows
    assert _ids(spark, table) == expect

    monkeypatch.setattr(V, "_DV_ANTI_JOIN_CAP", 0)

    def _boom(dvpath):
        raise AssertionError(
            f"driver-side DV sidecar read on the big-DV read path: "
            f"{dvpath}"
        )

    monkeypatch.setattr(V, "_read_dv", _boom)
    assert _ids(spark, table) == expect
    # the keep_meta (mutation-discovery) scan path too
    assert sorted(
        r["id"]
        for r in V._scan(
            spark,
            V._read_manifest(table, V.current_version(table))["files"],
            V.table_schema(table),
            keep_meta=True,
        ).select("id").collect()
    ) == expect


def test_dv_read_mixed_clean_and_dv_files(spark, table):
    """Only the DV-carrying leg takes the per-file filter; clean files
    union back losslessly (both read legs, keep_meta and plain)."""
    # delete only from the g=1 file → 1 DV file + 2 clean files
    r = V.delete_from(
        spark, table, (F.col("g") == 1) & (F.col("id") < 50), mode="dv"
    )
    assert r["files_dv"] == 1
    expect = [
        i for i in range(300) if not (i % 3 == 1 and i < 50)
    ]
    assert _ids(spark, table) == expect
    meta = V._scan(
        spark,
        V._read_manifest(table, V.current_version(table))["files"],
        V.table_schema(table),
        keep_meta=True,
    )
    assert sorted(r["id"] for r in meta.select("id").collect()) == expect
    assert {"__file", "__pos"} <= set(meta.columns)
