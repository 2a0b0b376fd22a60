"""Write-audit-publish (io/wap.py): staged mutations are invisible to
the production table until one atomic publish; a failed/abandoned/
conflicted publish leaves the table byte-identical.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V
from aws_etl_project2_fiap_spark.io import wap as W


def _table(spark, tmp_path, constraints=None):
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 100).select("id", (F.col("id") * 1.0).alias("x")),
        tbl,
        constraints=constraints,
    )
    return tbl


def test_stage_isolation_and_exact_publish(spark, tmp_path):
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 150).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    V.update_table(spark, stg, {"x": F.col("x") * 2}, F.col("id") < 10)
    V.delete_from(spark, stg, F.col("id") % 7 == 0, mode="dv")
    # audit window: production untouched, stage readable
    assert V.read_table(spark, tbl).count() == 100
    expected = {
        r["id"]: r["x"] for r in V.read_table(spark, stg).collect()
    }
    r = W.publish_stage(spark, tbl, stg)
    assert r["mode"] == "exact"
    got = {r["id"]: r["x"] for r in V.read_table(spark, tbl).collect()}
    assert got == expected
    assert got[1] == 2.0 and 7 not in got and 104 in got
    assert not os.path.exists(stg)  # stage consumed
    # the publish is one more commit: time travel to the pre-publish
    # version still reads the original 100 rows
    assert (
        V.read_table(spark, tbl, version=1).count() == 100
    )


def test_stage_inherits_table_constraints(spark, tmp_path):
    tbl = _table(spark, tmp_path, constraints={"x_nonneg": "x >= 0"})
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    with pytest.raises(V.ConstraintViolation):
        V.append_table(
            spark.createDataFrame([(999, -1.0)], "id long, x double"), stg
        )


def test_conflict_fail_and_append_mode(spark, tmp_path):
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(200, 210).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    # table advances underneath
    V.append_table(
        spark.range(300, 310).select("id", (F.col("id") * 1.0).alias("x")),
        tbl,
    )
    with pytest.raises(V.CommitConflict):
        W.publish_stage(spark, tbl, stg)
    # table untouched by the failed publish
    assert V.read_table(spark, tbl).count() == 110
    r = W.publish_stage(spark, tbl, stg, mode="append")
    assert r["mode"] == "append"
    ids = {r["id"] for r in V.read_table(spark, tbl).collect()}
    # both the concurrent append AND the staged one survive
    assert {205, 305} <= ids and len(ids) == 120


def test_append_mode_refuses_non_add_only_stage(spark, tmp_path):
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.delete_from(spark, stg, F.col("id") == 1, mode="dv")
    V.append_table(
        spark.range(500, 505).select("id", (F.col("id") * 1.0).alias("x")),
        tbl,
    )
    with pytest.raises(V.CommitConflict, match="not add-only"):
        W.publish_stage(spark, tbl, stg, mode="append")


def test_abandon_stage_leaves_no_trace(spark, tmp_path):
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(400, 410).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    W.abandon_stage(stg)
    assert not os.path.exists(stg)
    assert V.read_table(spark, tbl).count() == 100


def test_publish_rejects_foreign_stage(spark, tmp_path):
    tbl = _table(spark, tmp_path)
    other = str(tmp_path / "other")
    V.create_table(spark.range(5).select("id"), other)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, other, stg)
    with pytest.raises(ValueError, match="not a stage of"):
        W.publish_stage(spark, tbl, stg)


def test_lost_cas_moves_dirs_back(spark, tmp_path, monkeypatch):
    """If the publish commit loses (or crashes), every moved dir goes
    back and BOTH the table and the stage stay fully readable."""
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(600, 620).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    real_commit = V._commit

    def boom(*a, **kw):
        raise V.CommitConflict("simulated lost race")

    monkeypatch.setattr(W.V, "_commit", boom)
    with pytest.raises(V.CommitConflict):
        W.publish_stage(spark, tbl, stg)
    monkeypatch.setattr(W.V, "_commit", real_commit)
    assert V.read_table(spark, tbl).count() == 100
    assert V.read_table(spark, stg).count() == 120  # stage intact
    # and a retried publish succeeds
    r = W.publish_stage(spark, tbl, stg)
    assert r["mode"] == "exact"
    assert V.read_table(spark, tbl).count() == 120


def test_stage_optimize_then_publish(spark, tmp_path):
    """Compaction inside the stage publishes like any other staged
    mutation — the table adopts the compacted layout."""
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    for lo in (100, 110, 120):
        V.append_table(
            spark.range(lo, lo + 10).select(
                "id", (F.col("id") * 1.0).alias("x")
            ),
            stg,
        )
    V.compact_table(spark, stg, target_files=2)
    W.publish_stage(spark, tbl, stg)
    assert V.read_table(spark, tbl).count() == 130
    assert len(
        V._read_manifest(tbl, V.current_version(tbl))["files"]
    ) <= 2


def test_keep_stage_retains_manifest_history(spark, tmp_path):
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(700, 705).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    W.publish_stage(spark, tbl, stg, keep_stage=True)
    # the manifest log survives for audit (data dirs moved, so staged
    # entries are no longer readable through the stage)
    assert os.path.exists(stg)
    assert V.current_version(stg) >= 1


def test_publish_then_vacuum_keeps_published_dirs(spark, tmp_path):
    """Published dirs are referenced by the table's current manifest —
    vacuum must never touch them."""
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 130).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    W.publish_stage(spark, tbl, stg)
    V.vacuum(tbl, keep_last=1)
    assert V.read_table(spark, tbl).count() == 130


def test_vacuum_past_stage_base_invalidates_stage_loudly(spark, tmp_path):
    """A shallow stage references the TABLE's files and pins no
    retention (the Iceberg branch-ref hazard): overwriting the table
    and vacuuming past the stage's base makes the stage unreadable —
    but LOUDLY (missing files), never silently empty or stale."""
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.overwrite_table(
        spark.range(0, 10).select("id", (F.col("id") * 1.0).alias("x")),
        tbl,
    )
    V.vacuum(tbl, keep_last=1)
    with pytest.raises(Exception):
        V.read_table(spark, stg).count()


def test_matview_refresh_across_publish(spark, tmp_path):
    """The verbs compose: a materialized view on the table folds a
    PUBLISH commit like any other — publish lands as one file-diff in
    the change feed."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    view = str(tmp_path / "view")
    tbl2 = str(tmp_path / "t2")
    V.create_table(
        spark.range(0, 100).select(
            (F.col("id") % 5).alias("g"), (F.col("id") * 1.0).alias("x")
        ),
        tbl2,
    )
    MV.create_aggregate_view(
        spark, tbl2, view, ["g"],
        {"sx": ("sum", "x"), "n": ("count", None)},
    )
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl2, stg)
    V.append_table(
        spark.range(100, 160).select(
            (F.col("id") % 5).alias("g"), (F.col("id") * 2.0).alias("x")
        ),
        stg,
    )
    V.delete_from(spark, stg, F.col("g") == 4, mode="cow")
    W.publish_stage(spark, tbl2, stg)
    r = MV.refresh_aggregate_view(spark, view)
    assert r["strategy"] == "delta"
    got = {
        x["g"]: (float(x["sx"]), x["n"])
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    exp = {
        x["g"]: (float(x["sx"]), x["n"])
        for x in V.read_table(spark, tbl2)
        .groupBy("g")
        .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(exp) and all(
        abs(got[k][0] - exp[k][0]) < 1e-6 and got[k][1] == exp[k][1]
        for k in exp
    )
    assert 4 not in got


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.mark.slow  # randomized replay: full depth in the slow lane (r13)
@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture, HealthCheck.too_slow,
    ],
)
@given(
    ops=st.lists(
        st.sampled_from(["append", "update", "cow_del", "dv_del"]),
        min_size=1, max_size=4,
    ),
    seed=st.integers(min_value=0, max_value=9999),
)
def test_property_staged_equals_direct(spark, tmp_path_factory, ops, seed):
    """Any op sequence applied on a stage and published reads exactly
    like the same sequence applied directly to a twin table — WAP adds
    isolation and atomicity, never different semantics."""
    tmp = tmp_path_factory.mktemp("wapprop")
    staged, direct = str(tmp / "staged"), str(tmp / "direct")
    base = spark.range(0, 150).select(
        "id", (F.col("id") * 1.0).alias("x")
    )
    V.create_table(base, staged)
    V.create_table(base, direct)
    stg = str(tmp / "s")
    W.begin_stage(spark, staged, stg)

    def apply(op, rnd, path):
        pick = rnd % 6
        if op == "append":
            V.append_table(
                spark.range(rnd % 40 + 150, rnd % 40 + 170).select(
                    "id", (F.col("id") * 2.0).alias("x")
                ),
                path,
            )
        elif op == "update":
            V.update_table(
                spark, path, {"x": F.col("x") + 1.0},
                F.col("id") % 5 == pick % 5,
            )
        elif op == "cow_del":
            V.delete_from(spark, path, F.col("id") % 7 == pick, mode="cow")
        else:
            V.delete_from(spark, path, F.col("id") % 11 == pick, mode="dv")

    rnd = seed
    for op in ops:
        rnd = (rnd * 1103515245 + 12345) % (2**31)
        apply(op, rnd, stg)
        apply(op, rnd, direct)
    W.publish_stage(spark, staged, stg)
    got = sorted(
        tuple(r) for r in V.read_table(spark, staged).collect()
    )
    exp = sorted(
        tuple(r) for r in V.read_table(spark, direct).collect()
    )
    assert got == exp


def test_abandon_refuses_production_table(spark, tmp_path):
    """ADVICE r6: abandon_stage pointed at a real table must refuse —
    every begin_stage stage records cloned_from in its first manifest;
    a production table does not."""
    tbl = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="not a stage"):
        W.abandon_stage(tbl)
    assert V.read_table(spark, tbl).count() == 100  # untouched


def _two_batch_table(spark, tmp_path):
    """A table whose base version spans two separate batch dirs, so the
    two sides of a merge publish can mutate DISJOINT file sets."""
    tbl = str(tmp_path / "t2")
    V.create_table(
        spark.range(0, 100).coalesce(1).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        tbl,
    )
    V.append_table(
        spark.range(100, 200).coalesce(1).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        tbl,
    )
    return tbl


def test_merge_publish_disjoint_mutations(spark, tmp_path):
    """Three-way publish: the stage DV-deletes in batch-1 files and
    appends; the table concurrently DV-deletes in batch-2 files and
    appends. Disjoint file sets → both sides' mutations survive."""
    tbl = _two_batch_table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.delete_from(spark, stg, F.col("id") == 5, mode="dv")
    V.append_table(
        spark.range(1000, 1005).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        stg,
    )
    # table advances: mutates the OTHER batch + appends
    V.delete_from(spark, tbl, F.col("id") == 150, mode="dv")
    V.append_table(
        spark.range(2000, 2005).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        tbl,
    )
    with pytest.raises(V.CommitConflict):
        W.publish_stage(spark, tbl, stg)  # mode=fail still conflicts
    r = W.publish_stage(spark, tbl, stg, mode="merge")
    assert r["mode"] == "merge"
    ids = {row["id"] for row in V.read_table(spark, tbl).collect()}
    assert 5 not in ids and 150 not in ids
    assert {1000, 1004, 2000, 2004} <= ids
    assert len(ids) == 200 - 2 + 5 + 5


def test_merge_publish_conflicts_on_same_file(spark, tmp_path):
    """Both sides DV-mutate the SAME base file → true overlap, loud
    conflict, table untouched by the attempt."""
    tbl = _two_batch_table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.delete_from(spark, stg, F.col("id") == 5, mode="dv")
    V.delete_from(spark, tbl, F.col("id") == 6, mode="dv")  # same file
    before = sorted(
        tuple(r) for r in V.read_table(spark, tbl).collect()
    )
    with pytest.raises(V.CommitConflict, match="mutated by BOTH"):
        W.publish_stage(spark, tbl, stg, mode="merge")
    after = sorted(
        tuple(r) for r in V.read_table(spark, tbl).collect()
    )
    assert before == after


def test_publish_onto_moved_table_unions_schemas(spark, tmp_path):
    """A column either side appended while the stage was open is kept
    by an append or merge publish (no conflict); a column both sides
    appended with different types is a CommitConflict."""
    tbl = _table(spark, tmp_path)
    for mode in ("append", "merge"):
        stg = str(tmp_path / f"s_{mode}")
        W.begin_stage(spark, tbl, stg)
        V.append_table(
            spark.range(1000, 1002).select(
                "id", F.lit(1.0).alias("x"), F.lit(mode).alias(f"s_{mode}")
            ),
            stg,
        )
        V.append_table(
            spark.range(2000, 2002).select(
                "id", F.lit(2.0).alias("x"), F.lit(7).alias(f"t_{mode}")
            ),
            tbl,
        )
        W.publish_stage(spark, tbl, stg, mode=mode)
        got = V.read_table(spark, tbl)
        assert {f"s_{mode}", f"t_{mode}"} <= set(got.columns)
        assert got.filter(F.col(f"s_{mode}") == mode).count() == 2
        assert got.filter(F.col(f"t_{mode}") == 7).count() == 2
    stg = str(tmp_path / "s_clash")
    W.begin_stage(spark, tbl, stg)
    V.append_table(spark.range(1).select("id", F.lit("a").alias("c")), stg)
    V.append_table(spark.range(1).select("id", F.lit(1).alias("c")), tbl)
    before = V.current_version(tbl)
    with pytest.raises(V.CommitConflict, match="column 'c'"):
        W.publish_stage(spark, tbl, stg, mode="merge")
    assert V.current_version(tbl) == before


def test_merge_publish_conflicts_on_structural_divergence(spark, tmp_path):
    """Either side evolving cluster/mapping state since the base makes
    a file-level reconcile unsound — must conflict, never guess."""
    tbl = _two_batch_table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(1000, 1005).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        stg,
    )
    V.append_table(  # move the base so merge logic engages
        spark.range(2000, 2005).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        tbl,
    )
    V.rename_column(tbl, "x", "y")  # mapping diverges on table
    with pytest.raises(V.CommitConflict, match="column_mapping"):
        W.publish_stage(spark, tbl, stg, mode="merge")


def test_publish_hard_crash_before_commit_recovers(spark, tmp_path):
    """ADVICE r6: a process killed between the move loop and the
    commit leaves moved dirs + an intent marker. The retry must revert
    the half-move and publish cleanly instead of dying on a
    'publish collision'."""
    import json as _json
    import shutil as _sh

    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 120).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        stg,
    )
    # simulate the crash state with publish's own on-disk artifacts:
    # dirs moved into the table, marker present, commit never written
    src_root = os.path.join(os.path.realpath(stg), "_data")
    dst_root = os.path.join(os.path.realpath(tbl), "_data")
    stage_dirs = sorted(os.listdir(src_root))
    assert stage_dirs
    for d in stage_dirs:
        _sh.move(os.path.join(src_root, d), os.path.join(dst_root, d))
    with open(os.path.join(stg, "_publish_intent.json"), "w") as fh:
        _json.dump(
            {
                "publish_id": "test-crash-no-commit",
                "table": os.path.realpath(tbl),
                "dirs": stage_dirs,
                "expect": V.current_version(tbl),
                "mode": "exact",
            },
            fh,
        )
    # table still reads its own 100 rows (manifest never moved)
    assert V.read_table(spark, tbl).count() == 100
    r = W.publish_stage(spark, tbl, stg)
    assert r["mode"] == "exact" and "recovered" not in r
    assert V.read_table(spark, tbl).count() == 120


def test_publish_crash_after_commit_is_idempotent(spark, tmp_path):
    """Crash between the commit and the marker cleanup: the retry must
    recognize the landed commit via the marker's publish_id and return
    it idempotently instead of re-moving or conflicting."""
    import json as _json

    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 110).select(
            "id", (F.col("id") * 1.0).alias("x")
        ),
        stg,
    )
    expect = V.current_version(tbl)
    r1 = W.publish_stage(spark, tbl, stg, keep_stage=True)
    with open(
        os.path.join(tbl, "_manifests", f"v{r1['version']}.json")
    ) as fh:
        pid = _json.load(fh)["publish_id"]
    # resurrect the marker the crash would have left behind
    with open(os.path.join(stg, "_publish_intent.json"), "w") as fh:
        _json.dump(
            {
                "publish_id": pid,
                "table": os.path.realpath(tbl),
                "dirs": [],
                "expect": expect,
                "mode": "exact",
            },
            fh,
        )
    r2 = W.publish_stage(spark, tbl, stg, keep_stage=True)
    assert r2.get("recovered") and r2["version"] == r1["version"]
    assert V.read_table(spark, tbl).count() == 110


def test_recovery_refuses_wrong_table(spark, tmp_path):
    """A crash marker records its target table; retrying the publish
    against a DIFFERENT table must refuse (recovering there would
    destroy the marker and strand the half-move), and the correct
    retry must still work afterward."""
    import json as _json

    tbl = _table(spark, tmp_path)
    other = str(tmp_path / "other")
    V.create_table(spark.range(5).select("id"), other)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 110).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    with open(os.path.join(stg, "_publish_intent.json"), "w") as fh:
        _json.dump(
            {
                "publish_id": "crash-x",
                "table": os.path.realpath(tbl),
                "dirs": [],
                "expect": V.current_version(tbl),
                "mode": "exact",
            },
            fh,
        )
    with pytest.raises(ValueError, match="interrupted publish against"):
        W.publish_stage(spark, other, stg)
    # marker survived; the correct target recovers and publishes
    assert os.path.exists(os.path.join(stg, "_publish_intent.json"))
    r = W.publish_stage(spark, tbl, stg)
    assert V.read_table(spark, tbl).count() == 110 and r["mode"] == "exact"


def test_recovery_survives_vacuumed_manifest(spark, tmp_path):
    """Crash after commit + table commits more + vacuum drops the
    publish's manifest: the retry must recognize the landed publish
    from the CURRENT manifest's dir references — never FileNotFoundError,
    never move live dirs back."""
    import json as _json

    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 120).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    expect = V.current_version(tbl)
    r1 = W.publish_stage(spark, tbl, stg, keep_stage=True)
    with open(
        os.path.join(tbl, "_manifests", f"v{r1['version']}.json")
    ) as fh:
        raw = _json.load(fh)
    pid = raw["publish_id"]
    pub_dirs = sorted({
        os.path.basename(os.path.dirname(f["path"]))
        for f in V._read_manifest(tbl, r1["version"])["files"]
    })
    # the crash left the marker; then the table advances and vacuums
    with open(os.path.join(stg, "_publish_intent.json"), "w") as fh:
        _json.dump(
            {
                "publish_id": pid,
                "table": os.path.realpath(tbl),
                "dirs": pub_dirs,
                "expect": expect,
                "mode": "exact",
            },
            fh,
        )
    V.append_table(
        spark.range(200, 205).select("id", (F.col("id") * 1.0).alias("x")),
        tbl,
    )
    V.vacuum(tbl, keep_last=1)  # drops the publish's manifest
    r2 = W.publish_stage(spark, tbl, stg, keep_stage=True)
    assert r2.get("recovered")
    assert V.read_table(spark, tbl).count() == 125  # nothing reverted


def test_recovery_dv_only_stage_vacuumed_manifest(spark, tmp_path):
    """ADVICE r7 (medium): a DV-only stage's moved dirs are dv_*
    sidecar dirs referenced solely via f["dv"]["path"], never
    f["path"]. Crash after commit + vacuum past the publish version:
    the retry must recognize the landed publish from the DV path
    references — concluding 'not committed' would move the LIVE
    table's DV sidecars back into the stage and break reads."""
    import json as _json

    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    # DV-only mutation: no new batch dirs, only dv_* sidecars
    V.delete_from(spark, stg, F.col("id") < 10, mode="dv")
    expect = V.current_version(tbl)
    r1 = W.publish_stage(spark, tbl, stg, keep_stage=True)
    with open(
        os.path.join(tbl, "_manifests", f"v{r1['version']}.json")
    ) as fh:
        pid = _json.load(fh)["publish_id"]
    # the dirs the publish moved: the DV sidecar dirs, discoverable
    # only through f["dv"]["path"]
    dst_root = os.path.join(os.path.realpath(tbl), "_data") + os.sep
    dv_dirs = sorted({
        f["dv"]["path"][len(dst_root):].split(os.sep, 1)[0]
        for f in V._read_manifest(tbl, r1["version"])["files"]
        if f.get("dv")
    })
    assert dv_dirs, "stage produced no DV sidecars — test is vacuous"
    with open(os.path.join(stg, "_publish_intent.json"), "w") as fh:
        _json.dump(
            {
                "publish_id": pid,
                "table": os.path.realpath(tbl),
                "dirs": dv_dirs,
                "expect": expect,
                "mode": "exact",
            },
            fh,
        )
    V.append_table(
        spark.range(200, 205).select("id", (F.col("id") * 1.0).alias("x")),
        tbl,
    )
    V.vacuum(tbl, keep_last=1)  # drops the publish's manifest
    r2 = W.publish_stage(spark, tbl, stg, keep_stage=True)
    assert r2.get("recovered")
    # nothing reverted: the published DV delete still applies
    assert V.read_table(spark, tbl).count() == 95
    for d in dv_dirs:
        assert os.path.exists(os.path.join(dst_root, d))


def test_abandon_refuses_pending_publish_intent(spark, tmp_path):
    """ADVICE r7: abandoning a stage whose publish crashed mid-move
    would delete the intent marker — the only record of the half-moved
    dirs — stranding them under the production table. Abandon must
    refuse; the retry-then-abandon path must still work."""
    import json as _json

    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 110).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    with open(os.path.join(stg, "_publish_intent.json"), "w") as fh:
        _json.dump(
            {
                "publish_id": "crash-mid-move",
                "table": os.path.realpath(tbl),
                "dirs": [],
                "expect": V.current_version(tbl),
                "mode": "exact",
            },
            fh,
        )
    with pytest.raises(ValueError, match="interrupted publish"):
        W.abandon_stage(stg)
    # marker and stage intact; recovery through publish, then abandon
    assert os.path.exists(os.path.join(stg, "_publish_intent.json"))
    W.publish_stage(spark, tbl, stg, keep_stage=True)
    W.abandon_stage(stg)
    assert not os.path.exists(stg)
    assert V.read_table(spark, tbl).count() == 110


def test_merge_publish_after_vacuum_of_base_conflicts_loudly(
    spark, tmp_path
):
    """Vacuum-safety for the publish paths that read the stage's base
    (mode='merge' and mode='append'): if a vacuum on the PRODUCTION
    table dropped the stage's base manifest between begin_stage and
    publish_stage, the diff against the base is underivable — the
    publish must raise CommitConflict (never guess, never resurrect
    vacuumed files), and the table must be untouched."""
    tbl = _table(spark, tmp_path)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 110).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    # production advances twice and vacuums its history past the base
    V.append_table(
        spark.range(200, 210).select("id", (F.col("id") * 1.0).alias("x")),
        tbl,
    )
    V.delete_from(spark, tbl, F.col("id") < 5, mode="cow")
    V.vacuum(tbl, keep_last=1)
    before = V.read_table(spark, tbl).count()
    head = V.current_version(tbl)
    for mode in ("append", "merge"):
        with pytest.raises(V.CommitConflict, match="vacuumed"):
            W.publish_stage(spark, tbl, stg, mode=mode)
        assert V.current_version(tbl) == head
        assert V.read_table(spark, tbl).count() == before


def test_merge_publish_with_surviving_base_never_resurrects(
    spark, tmp_path
):
    """Vacuum-safety, success side: a vacuum that KEEPS the base
    manifest doesn't break the merge, and the merged manifest
    references only files that exist on disk — a file the table
    removed (and the vacuum physically deleted) never reappears."""
    tbl = _table(spark, tmp_path)
    base_v = V.current_version(tbl)
    stg = str(tmp_path / "s")
    W.begin_stage(spark, tbl, stg)
    V.append_table(
        spark.range(100, 110).select("id", (F.col("id") * 1.0).alias("x")),
        stg,
    )
    # the table rewrites everything (CoW delete), orphaning its
    # original files, then vacuums data but KEEPS manifests back to
    # the stage's base
    V.delete_from(spark, tbl, F.col("id") >= 50, mode="cow")
    keep = V.current_version(tbl) - base_v + 1
    V.vacuum(tbl, keep_last=keep)
    r = W.publish_stage(spark, tbl, stg, mode="merge")
    m = V._read_manifest(tbl, r["version"])
    for f in m["files"]:
        assert os.path.exists(f["path"]), f["path"]
        if f.get("dv"):
            assert os.path.exists(f["dv"]["path"])
    # stage adds (10) + table's surviving rows (50)
    assert V.read_table(spark, tbl).count() == 60
