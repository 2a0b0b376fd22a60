"""Delta-style MERGE clauses on versioned tables
(io/versioned.merge_table when_matched / insert_unmatched /
when_not_matched_by_source, each a bare action or an ordered
(condition, action) list).

Claims: each clause shape produces exactly the SQL MERGE result on the
visible rows, file-level CoW scoping still holds (untouched files are
referenced), counts report the rows the clause actually acted on, and
a NULL clause condition does not fire the clause (SQL three-valued
semantics).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 1.0).alias("v"),
    )
    path = str(tmp_path / "tbl")
    V.create_table(df.repartitionByRange(3, "id"), path)
    return path


def _rows(spark, path):
    return {
        r["id"]: (r["g"], r["v"])
        for r in V.read_table(spark, path).collect()
    }


def test_when_matched_delete_with_insert(spark, table):
    src = spark.createDataFrame(
        [(5, 0, 0.0), (7, 0, 0.0), (9000, 1, 42.0)],
        "id long, g long, v double",
    )
    res = V.merge_table(spark, table, src, keys=["id"], when_matched="delete")
    assert res["deleted"] == 2 and res["inserted"] == 1
    assert res["updated"] == 0
    got = _rows(spark, table)
    assert 5 not in got and 7 not in got
    assert got[9000] == (1, 42.0)
    assert len(got) == 299  # 300 - 2 + 1


def test_when_matched_delete_keys_only_source(spark, table):
    """WHEN MATCHED THEN DELETE with no insert clause accepts a
    keys-only source — the GDPR delete-list shape."""
    src = spark.createDataFrame([(1,), (2,), (9999,)], "id long")
    res = V.merge_table(
        spark, table, src, keys=["id"],
        when_matched="delete", insert_unmatched=False,
    )
    assert res["deleted"] == 2 and res["inserted"] == 0
    got = _rows(spark, table)
    assert 1 not in got and 2 not in got and len(got) == 298
    # file scoping: only the file(s) holding ids 1,2 were rewritten
    assert res["files_reused"] >= 2


def test_conditional_update_dict(spark, table):
    """WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v + t.v:
    expressions see both sides; non-firing matched rows keep target
    values; unmatched source rows insert."""
    src = spark.createDataFrame(
        [(10, 1, 100.0), (11, 2, 0.5), (8000, 0, 7.0)],
        "id long, g long, v double",
    )
    res = V.merge_table(
        spark, table, src, keys=["id"],
        when_matched=[
            (F.col("s.v") > F.col("t.v"), {"v": F.col("s.v") + F.col("t.v")})
        ],
    )
    assert res["updated"] == 1 and res["inserted"] == 1
    got = _rows(spark, table)
    assert got[10] == (1, 110.0)  # fired: 100 + 10, g kept from target
    assert got[11] == (2, 11.0)  # condition false: target row intact
    assert got[8000] == (0, 7.0)


def test_null_condition_does_not_fire(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None)], "id long, v double"
    )
    path = str(tmp_path / "t")
    V.create_table(df, path)
    src = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "id long, v double"
    )
    # t.v IS NULL for id=2 -> condition NULL -> clause must not fire
    res = V.merge_table(
        spark, path, src, keys=["id"],
        when_matched=[(F.col("t.v") > 5.0, "delete")],
        insert_unmatched=False,
    )
    assert res["deleted"] == 1
    got = {r["id"] for r in V.read_table(spark, path).collect()}
    assert got == {2}


def test_null_key_target_row_survives_a_rewrite(spark, tmp_path):
    """A target row whose merge key is NULL shares a file with a
    matched key: the rewrite keeps it as it is (no clause fires on
    it), and only a BY SOURCE clause acts on it, as Delta does — a
    NULL key matches no source row."""
    path = str(tmp_path / "nk")
    V.create_table(
        spark.createDataFrame(
            [(None, 0.0), (1, 1.0), (2, 2.0)], "id long, v double"
        ).coalesce(1),
        path,
    )
    src = spark.createDataFrame([(1, 10.0), (3, 30.0)], "id long, v double")
    res = V.merge_table(spark, path, src, keys=["id"], when_matched="replace")
    assert res["files_touched"] == 1
    assert (res["updated"], res["inserted"], res["deleted"]) == (1, 1, 0)
    got = {r["id"]: r["v"] for r in V.read_table(spark, path).collect()}
    assert got == {None: 0.0, 1: 10.0, 2: 2.0, 3: 30.0}
    res = V.merge_table(
        spark, path, src, keys=["id"], when_matched="replace",
        when_not_matched_by_source="delete",
    )
    assert res["deleted"] == 2
    got = {r["id"]: r["v"] for r in V.read_table(spark, path).collect()}
    assert got == {1: 10.0, 3: 30.0}


def test_replace_with_condition_and_no_insert(spark, table):
    src = spark.createDataFrame(
        [(20, 9, -1.0), (21, 9, -1.0), (7777, 9, -1.0)],
        "id long, g long, v double",
    )
    res = V.merge_table(
        spark, table, src, keys=["id"],
        when_matched=[(F.col("t.id") == 20, "replace")],
        insert_unmatched=False,
    )
    assert res["updated"] == 1 and res["inserted"] == 0
    got = _rows(spark, table)
    assert got[20] == (9, -1.0)  # replaced
    assert got[21] == (0, 21.0)  # matched, condition false: intact
    assert 7777 not in got
    assert len(got) == 300


def test_clauses_compose_with_column_mapping(spark, table):
    V.rename_column(table, "v", "price")
    src = spark.createDataFrame(
        [(30, 0, 0.0)], "id long, g long, price double"
    )
    res = V.merge_table(
        spark, table, src, keys=["id"], when_matched="delete",
        insert_unmatched=False,
    )
    assert res["deleted"] == 1
    got = V.read_table(spark, table)
    assert got.columns == ["id", "g", "price"]
    assert got.filter(F.col("id") == 30).count() == 0


def test_bad_clause_args_rejected(spark, table):
    src = spark.createDataFrame([(1, 0, 0.0)], "id long, g long, v double")
    with pytest.raises(ValueError, match="when_matched"):
        V.merge_table(spark, table, src, keys=["id"], when_matched="upsert")
    with pytest.raises(ValueError, match="unknown/key"):
        V.merge_table(
            spark, table, src, keys=["id"], when_matched={"id": F.lit(0)}
        )
    # keys-only source only allowed for delete-without-insert
    keys_only = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="source columns"):
        V.merge_table(spark, table, keys_only, keys=["id"])


def test_not_matched_by_source_delete_full_sync(spark, table):
    """Full-snapshot sync: replace matched, insert new, delete target
    rows absent from the source — one merge."""
    src = spark.createDataFrame(
        [(i, 9, float(i)) for i in range(0, 100)] + [(5000, 9, 1.0)],
        "id long, g long, v double",
    )
    res = V.merge_table(
        spark, table, src, keys=["id"],
        when_matched="replace",
        when_not_matched_by_source="delete",
    )
    assert res["updated"] == 100
    assert res["deleted"] == 200  # ids 100..299 vanish
    assert res["inserted"] == 1
    got = _rows(spark, table)
    assert len(got) == 101
    assert got[50] == (9, 50.0) and got[5000] == (9, 1.0)
    assert 150 not in got


def test_retain_list_keys_only_sweep(spark, table):
    """Keys-only retain list: when_matched=None keeps listed rows
    untouched, by-source delete sweeps the rest."""
    src = spark.createDataFrame([(i,) for i in range(10)], "id long")
    res = V.merge_table(
        spark, table, src, keys=["id"],
        when_matched=None, insert_unmatched=False,
        when_not_matched_by_source="delete",
    )
    assert res["deleted"] == 290 and res["updated"] == 0
    assert res["inserted"] == 0
    got = _rows(spark, table)
    assert set(got) == set(range(10))
    assert got[3] == (0, 3.0)  # retained rows byte-for-byte intact


def test_not_matched_by_source_update_with_condition(spark, table):
    """WHEN NOT MATCHED BY SOURCE AND t.g = 1 THEN SET v = -t.v:
    expressions see the target alias; condition confines both the
    action and the file rewrite."""
    src = spark.createDataFrame(
        [(0, 0, 99.0)], "id long, g long, v double"
    )
    res = V.merge_table(
        spark, table, src, keys=["id"],
        when_matched="replace",
        when_not_matched_by_source=[
            (F.col("t.g") == 1, {"v": -F.col("t.v")})
        ],
    )
    # 300 rows, id 0 matched-replaced; g==1 is ids 1,4,7,... (100 rows,
    # minus id 0 which matched — id 0 has g 0, so none excluded)
    assert res["deleted"] == 0 and res["inserted"] == 0
    assert res["updated"] == 1 + 100
    got = _rows(spark, table)
    assert got[0] == (0, 99.0)
    assert got[1] == (1, -1.0) and got[4] == (1, -4.0)
    assert got[2] == (2, 2.0)  # condition false: intact
    assert len(got) == 300


def test_by_source_counts_fold_and_args_validated(spark, table):
    src = spark.createDataFrame([(1, 0, 0.0)], "id long, g long, v double")
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        V.merge_table(
            spark, table, src, keys=["id"],
            when_not_matched_by_source="replace",
        )
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        V.merge_table(
            spark, table, src, keys=["id"],
            when_not_matched_by_source=[(F.lit(True), "replace")],
        )
    with pytest.raises(ValueError, match="only the last"):
        V.merge_table(
            spark, table, src, keys=["id"],
            when_not_matched_by_source=[
                (None, "delete"), (F.lit(True), {"v": F.lit(0.0)})
            ],
        )
    with pytest.raises(ValueError, match="no-op"):
        V.merge_table(
            spark, table, src, keys=["id"],
            when_matched=None, insert_unmatched=False,
        )
    with pytest.raises(ValueError, match="unknown/key"):
        V.merge_table(
            spark, table, src, keys=["id"],
            when_not_matched_by_source={"id": F.lit(0)},
        )


def test_by_source_file_scoping_with_selective_condition(spark, tmp_path):
    """A stats-selective by-source condition leaves files it cannot
    touch referenced, not rewritten."""
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    path = str(tmp_path / "scoped")
    V.create_table(df.repartitionByRange(4, "id"), path)
    src = spark.createDataFrame([(398,), (399,)], "id long")
    res = V.merge_table(
        spark, path, src, keys=["id"],
        when_matched=None, insert_unmatched=False,
        when_not_matched_by_source=[(F.col("t.id") >= 390, "delete")],
    )
    assert res["deleted"] == 8  # 390..397
    # only the last range file is touched; the other 3 are referenced
    assert res["files_reused"] == 3 and res["files_touched"] == 1
    assert V.read_table(spark, path).count() == 392


def test_merge_probe_prunes_by_key_stats(spark, tmp_path):
    """A range-clustered table + narrow-keyed delivery: the probe must
    skip files whose key stats cannot intersect the source envelope —
    files_probed < total files, result identical to SQL MERGE."""
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    path = str(tmp_path / "pruned")
    V.create_table(df.repartitionByRange(10, "id"), path)
    src = spark.createDataFrame(
        [(5, -5.0), (17, -17.0)], "id long, v double"
    )
    res = V.merge_table(spark, path, src, keys=["id"])
    # envelope [5, 17] intersects only the first range file
    assert res["files_probed"] == 1
    assert res["files_touched"] == 1
    assert res["updated"] == 2 and res["inserted"] == 0
    got = {r["id"]: r["v"] for r in V.read_table(spark, path).collect()}
    assert got[5] == -5.0 and got[17] == -17.0
    assert len(got) == 1000
    # append-shaped delivery (all keys above the table max): every
    # file prunes, the probe runs on nothing, pure insert commit
    src2 = spark.createDataFrame(
        [(2000, 1.0), (2001, 2.0)], "id long, v double"
    )
    res2 = V.merge_table(spark, path, src2, keys=["id"])
    assert res2["files_probed"] == 0 and res2["files_touched"] == 0
    assert res2["inserted"] == 2 and res2["updated"] == 0
    assert V.read_table(spark, path).count() == 1002


def test_merge_probe_pruning_multi_key_and_no_stats_fallback(
    spark, tmp_path
):
    """Multi-key merges prune on every key's envelope; entries without
    stats are conservatively probed (never skipped)."""
    df = spark.range(0, 400).select(
        (F.col("id") % 4).alias("a"), F.col("id").alias("b"),
        (F.col("id") * 1.0).alias("v"),
    )
    path = str(tmp_path / "mk")
    V.create_table(df.repartitionByRange(4, "b"), path)
    src = spark.createDataFrame(
        [(1, 101, -1.0), (2, 102, -2.0)], "a long, b long, v double"
    )
    res = V.merge_table(spark, path, src, keys=["a", "b"])
    assert res["files_probed"] < 4  # b-envelope [101,102] prunes
    assert res["updated"] == 2 and res["inserted"] == 0
    # strip stats from the manifest: pruning must degrade to full probe
    ver = V.current_version(path)
    m = V._read_manifest(path, ver)
    for f in m["files"]:
        f.pop("stats", None)
    import json as _json
    import os as _os
    mp = _os.path.join(V._manifest_dir(path), f"v{ver}.json")
    with open(mp, "w") as fh:
        _json.dump(m, fh)
    res2 = V.merge_table(spark, path, src, keys=["a", "b"])
    assert res2["files_probed"] == res2["files_touched"] + res2["files_reused"]
    assert res2["updated"] == 2


def test_schema_evolution_new_and_missing_columns(spark, table):
    """schema_evolution=True: a NEW source column lands (NULL for
    untouched rows), an OMITTED target column survives updates and is
    NULL on inserts."""
    src = spark.createDataFrame(
        [(5, 50.0, "x"), (9000, 90.0, "y")],
        "id long, v double, tag string",  # no g, new tag
    )
    res = V.merge_table(
        spark, table, src, keys=["id"], schema_evolution=True
    )
    assert res["updated"] == 1 and res["inserted"] == 1
    got = V.read_table(spark, table)
    assert set(got.columns) == {"id", "g", "v", "tag"}
    rows = {r["id"]: r for r in got.collect()}
    assert rows[5]["v"] == 50.0 and rows[5]["tag"] == "x"
    assert rows[5]["g"] == 2  # omitted column kept on update
    assert rows[9000]["tag"] == "y" and rows[9000]["g"] is None
    assert rows[17]["tag"] is None  # untouched file: NULL-filled
    assert len(rows) == 301


def test_schema_evolution_composes_with_column_mapping(spark, table):
    """Evolution under a rename: the new logical column must not leak
    the retired physical column's bytes."""
    V.rename_column(table, "v", "price")
    # new logical column named like the RETIRED physical name "v"
    src = spark.createDataFrame(
        [(7, 7.5, 77.0)], "id long, price double, v double"
    )
    V.merge_table(spark, table, src, keys=["id"], schema_evolution=True)
    got = V.read_table(spark, table)
    assert set(got.columns) == {"id", "g", "price", "v"}
    rows = {r["id"]: r for r in got.collect()}
    assert rows[7]["price"] == 7.5 and rows[7]["v"] == 77.0
    # old rows: the NEW "v" is NULL — not the retired physical bytes
    assert rows[8]["v"] is None and rows[8]["price"] == 8.0


def test_schema_evolution_requires_keys(spark, table):
    src = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="merge key"):
        V.merge_table(
            spark, table, src, keys=["id"], schema_evolution=True
        )


def test_merge_probe_bloom_prunes_scattered_keys(spark, tmp_path):
    """Scattered merge keys defeat the min/max envelope; per-file bloom
    indexes must still prune the files that cannot hold any key."""
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    path = str(tmp_path / "bloomed")
    V.create_table(
        df.repartitionByRange(10, "id"), path, bloom_cols=["id"]
    )
    # keys 3 and 997: envelope [3, 997] spans every file, blooms don't
    src = spark.createDataFrame(
        [(3, -3.0), (997, -997.0)], "id long, v double"
    )
    res = V.merge_table(spark, path, src, keys=["id"])
    assert res["files_probed"] == 2  # first + last file only
    assert res["files_touched"] == 2 and res["updated"] == 2
    got = {r["id"]: r["v"] for r in V.read_table(spark, path).collect()}
    assert got[3] == -3.0 and got[997] == -997.0 and got[500] == 500.0
    assert len(got) == 1000


def test_merge_bloom_pruning_caps_at_delivery_size(
    spark, tmp_path, monkeypatch
):
    """Past the distinct-key cap the driver collect must be skipped
    (conservative full probe), never attempted."""
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    path = str(tmp_path / "capped")
    V.create_table(df.coalesce(2), path, bloom_cols=["id"])
    monkeypatch.setattr(V, "_MERGE_BLOOM_PROBE_CAP", 1)
    src = spark.createDataFrame(
        [(1, -1.0), (50, -50.0)], "id long, v double"
    )
    res = V.merge_table(spark, path, src, keys=["id"])
    assert res["files_probed"] == 2  # cap hit: no bloom pruning
    assert res["updated"] == 2
    got = {r["id"]: r["v"] for r in V.read_table(spark, path).collect()}
    assert got[1] == -1.0 and got[50] == -50.0


def test_prunable_eq_any_agrees_with_single_probe(spark, tmp_path):
    """The vectorized any-of bloom check must equal the OR of
    per-value prunable_eq decisions on every file."""
    df = spark.range(0, 600).select(
        F.col("id"), F.concat(F.lit("k"), F.col("id")).alias("s")
    )
    path = str(tmp_path / "agree")
    V.create_table(
        df.repartitionByRange(6, "id"), path, bloom_cols=["id", "s"]
    )
    files = V._read_manifest(path, 1)["files"]
    for col, probes in [("id", [5, 300, 9999]), ("s", ["k5", "nope"])]:
        kept_any = {
            f["path"]
            for f in V.prunable_eq_any(files, col, probes)[0]
        }
        kept_or = set()
        for p in probes:
            kept_or |= {
                f["path"] for f in V.prunable_eq(files, col, p)[0]
            }
        assert kept_any == kept_or


def test_probe_keys_hints_broadcast_only_under_cap(spark, monkeypatch):
    """merge's semi/anti probe build side carries F.broadcast only
    while the source profile's row count proves it delivery-sized;
    past _MERGE_BROADCAST_CAP the hint is dropped and AQE sizes the
    join — a table-sized merge source can never force a table-sized
    broadcast."""
    src = spark.range(0, 50).select(F.col("id"))
    rows = V._source_profile(src, ["id"])["rows"]
    assert rows == 50
    probe, hinted = V._probe_keys(src, ["id"], rows)
    plan = probe._jdf.queryExecution().analyzed().toString()
    assert hinted and "broadcast" in plan.lower(), plan
    monkeypatch.setattr(V, "_MERGE_BROADCAST_CAP", 10)
    probe_capped, hinted_capped = V._probe_keys(src, ["id"], rows)
    plan_capped = probe_capped._jdf.queryExecution().analyzed().toString()
    assert not hinted_capped
    assert "broadcast" not in plan_capped.lower(), plan_capped


def test_merge_past_broadcast_cap_same_result(spark, table, monkeypatch):
    """A merge whose source exceeds the broadcast cap produces the
    identical result (hash parity with the hinted plan's semantics) —
    the cap changes the physical join only."""
    src = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") + 0.5).alias("v"),
    ).filter(F.col("id") % 2 == 0)
    monkeypatch.setattr(V, "_MERGE_BROADCAST_CAP", 10)
    res = V.merge_table(
        spark, table, src, keys=["id"], when_matched="replace",
        when_not_matched_by_source="delete",
    )
    assert res["updated"] == 150 and res["deleted"] == 150
    got = _rows(spark, table)
    assert set(got) == {i for i in range(300) if i % 2 == 0}
    assert got[10] == (1, 10.5)


def test_duplicate_key_rejected_before_null_key(spark, table):
    """A source holding both a duplicated key and a NULL key raises
    the duplicate error: the one profile aggregate keeps the check
    order, and names the duplicated key."""
    src = spark.createDataFrame(
        [(5, 0, 1.0), (5, 0, 2.0), (None, 0, 3.0)],
        "id long, g long, v double",
    )
    with pytest.raises(
        ValueError, match=r"duplicate merge keys, e\.g\. \{'id': 5\}"
    ):
        V.merge_table(spark, table, src, keys=["id"])
    assert V.current_version(table) == 1


def test_two_null_key_rows_count_as_duplicate(spark, table):
    """Two NULL-key source rows group together, so they are a
    duplicate key (raised before the NULL-key check)."""
    src = spark.createDataFrame(
        [(None, 0, 1.0), (None, 1, 2.0)], "id long, g long, v double"
    )
    with pytest.raises(
        ValueError, match=r"duplicate merge keys, e\.g\. \{'id': None\}"
    ):
        V.merge_table(spark, table, src, keys=["id"])
    src1 = src.limit(1)
    with pytest.raises(ValueError, match="NULL in merge key"):
        V.merge_table(spark, table, src1, keys=["id"])
    assert V.current_version(table) == 1


def test_empty_source_merges_with_zero_counts(spark, table):
    src = spark.createDataFrame([], "id long, g long, v double")
    res = V.merge_table(spark, table, src, keys=["id"])
    assert (res["updated"], res["deleted"], res["inserted"]) == (0, 0, 0)
    assert res["files_touched"] == 0
    assert _rows(spark, table) == {i: (i % 3, float(i)) for i in range(300)}


def test_probe_plan_reports_null_keys_from_the_profile(
    spark, table, monkeypatch
):
    """EXPLAIN MERGE's ``source_null_keys`` comes from the same one
    source aggregate that finds the envelope and the row count."""
    calls = []
    profile = V._source_profile
    monkeypatch.setattr(
        V, "_source_profile",
        lambda *a: calls.append(a) or profile(*a),
    )
    for rows, has_null in (
        ([(None, 0, 1.0), (4, 0, 2.0)], True),
        ([(4, 0, 2.0)], False),
    ):
        src = spark.createDataFrame(rows, "id long, g long, v double")
        plan = V.merge_probe_plan(spark, table, src, ["id"])
        assert plan["source_null_keys"] is has_null
        assert plan["files_matched"] == 1
    assert len(calls) == 2


class _Probed(Exception):
    pass


def test_profile_is_the_only_source_action_before_the_probe(
    spark, table, monkeypatch, count_jobs
):
    """Up to the probe scan, a merge into an unindexed table runs
    exactly the jobs of its source profile and nothing else."""
    src = spark.createDataFrame(
        [(1, 1, -1.0), (4, 1, -4.0), (1000, 1, 5.0)],
        "id long, g long, v double",
    )
    _, profile_jobs = count_jobs(lambda: V._source_profile(src, ["id"]))

    def probe(*a, **k):
        raise _Probed

    monkeypatch.setattr(V, "_scan", probe)

    def merge():
        with pytest.raises(_Probed):
            V.merge_table(spark, table, src, keys=["id"])

    assert count_jobs(merge)[1] == profile_jobs


def test_merge_job_count_pinned(spark, table, count_jobs):
    """A small merge runs 9 Spark jobs (14 before the source profile
    replaced the separate duplicate, NULL-key, envelope and
    broadcast-size actions)."""
    src = spark.createDataFrame(
        [(1, 1, -1.0), (4, 1, -4.0), (1000, 1, 5.0)],
        "id long, g long, v double",
    )
    res, jobs = count_jobs(
        lambda: V.merge_table(spark, table, src, keys=["id"])
    )
    assert (res["updated"], res["inserted"]) == (2, 1)
    assert jobs == 9
