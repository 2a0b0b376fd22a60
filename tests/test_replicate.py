"""Incremental CDF replication (io/versioned.replicate_table).

Claims: after every replicate() call the replica's visible rows equal
the source's, across append / CoW update / DV delete / MERGE /
rollback commits; replay after a simulated crash (cursor rewound) is
idempotent; a cursor behind vacuum retention fails loudly.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V


@pytest.fixture()
def rig(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cur = str(tmp_path / "cursor.json")
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 5).alias("g"),
        (F.col("id") * 1.0).alias("v"),
    )
    V.create_table(df.repartitionByRange(4, "id"), src)
    return src, dst, cur


def _same(spark, src, dst):
    a = {tuple(r) for r in V.read_table(spark, src).collect()}
    b = {tuple(r) for r in V.read_table(spark, dst).collect()}
    return a == b


def test_seed_then_incremental_append(spark, rig):
    src, dst, cur = rig
    res = V.replicate_table(spark, src, dst, ["id"], cur)
    assert res["upserted"] == 200 and res["deleted"] == 0
    assert _same(spark, src, dst)
    # incremental: append lands as pure upserts
    extra = spark.createDataFrame(
        [(500, 0, 1.0), (501, 1, 2.0)], "id long, g long, v double"
    )
    V.append_table(extra, src)
    res = V.replicate_table(spark, src, dst, ["id"], cur)
    assert res["upserted"] == 2 and res["deleted"] == 0
    assert _same(spark, src, dst)
    # no-op when nothing changed
    res = V.replicate_table(spark, src, dst, ["id"], cur)
    assert res["upserted"] == 0 and res["deleted"] == 0


def test_update_dv_delete_merge_and_rollback_flow(spark, rig):
    src, dst, cur = rig
    V.replicate_table(spark, src, dst, ["id"], cur)
    # CoW update: rewritten file re-emits as delete+insert → reconciles
    V.update_table(
        spark, src, {"v": F.col("v") + 100.0}, F.col("id") < 10
    )
    res = V.replicate_table(spark, src, dst, ["id"], cur)
    assert res["deleted"] == 0  # every delete-side key reappears
    assert _same(spark, src, dst)
    # merge-on-read DELETE: DV delta must arrive as true deletes
    V.delete_from(spark, src, F.col("id").between(50, 59), mode="dv")
    res = V.replicate_table(spark, src, dst, ["id"], cur)
    assert res["deleted"] == 10
    assert _same(spark, src, dst)
    # MERGE on the source
    delta = spark.createDataFrame(
        [(0, 9, -1.0), (900, 9, 9.0)], "id long, g long, v double"
    )
    V.merge_table(spark, src, delta, keys=["id"])
    assert V.replicate_table(spark, src, dst, ["id"], cur)["deleted"] == 0
    assert _same(spark, src, dst)
    # rollback: resurrected rows arrive as inserts (un-deletes)
    V.rollback(src, 2)  # version with the CoW update, before the DV
    before = V.current_version(dst)
    res = V.replicate_table(spark, src, dst, ["id"], cur)
    assert _same(spark, src, dst)
    # upserts and the delete of 900 land as ONE replica commit
    assert res["deleted"] == 1 and res["upserted"] > 0
    assert V.current_version(dst) == before + 1
    got = {r["id"]: r["v"] for r in V.read_table(spark, dst).collect()}
    assert got[55] == 55.0 and got[0] == 100.0 and 900 not in got


def test_replay_after_cursor_rewind_is_idempotent(spark, rig):
    src, dst, cur = rig
    V.replicate_table(spark, src, dst, ["id"], cur)
    V.delete_from(spark, src, F.col("id") >= 150, mode="auto")
    V.append_table(
        spark.createDataFrame([(700, 0, 7.0)], "id long, g long, v double"),
        src,
    )
    V.replicate_table(spark, src, dst, ["id"], cur)
    assert _same(spark, src, dst)
    # crash-before-cursor-commit: rewind and re-apply the same range
    with open(cur) as fh:
        state = json.load(fh)
    with open(cur, "w") as fh:
        json.dump({"version": 1}, fh)
    V.replicate_table(spark, src, dst, ["id"], cur)
    assert _same(spark, src, dst)
    with open(cur) as fh:
        assert json.load(fh)["version"] == state["version"]


def test_cursor_behind_retention_raises(spark, rig):
    src, dst, cur = rig
    V.replicate_table(spark, src, dst, ["id"], cur)
    for i in range(3):
        V.append_table(
            spark.createDataFrame(
                [(1000 + i, 0, 0.0)], "id long, g long, v double"
            ),
            src,
        )
    V.vacuum(src, keep_last=1)
    with pytest.raises(ValueError, match="retention"):
        V.replicate_table(spark, src, dst, ["id"], cur)
    # operator resync: drop the cursor → full-sync reseed, replica OK
    os.remove(cur)
    V.replicate_table(spark, src, dst, ["id"], cur)
    assert _same(spark, src, dst)
