"""Incremental materialized views (io/matview.py): every refresh must
leave the view EXACTLY equal to a from-scratch recompute of its
defining aggregation — across appends, CoW updates, DV and CoW deletes,
group births and deaths, and arbitrary interleavings (hypothesis).

The scale contract under test: a delta refresh reads ONLY the change
feed (never the source files), a scoped refresh reads only the touched
groups, and decimal folding keeps the state drift-free over many
refreshes.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import matview as MV
from aws_etl_project2_fiap_spark.io import versioned as V


def _src(spark, tmp_path, n=500, k=7):
    path = str(tmp_path / "src")
    df = spark.range(0, n).select(
        (F.col("id") % k).alias("k"),
        (F.col("id") * 1.5).alias("x"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id"))
        .alias("n"),
    )
    V.create_table(df.repartition(4), path)
    return path


def _expect(spark, src, aggs_sql):
    return {
        tuple(r[: 1]): tuple(r[1:])
        for r in V.read_table(spark, src)
        .groupBy("k")
        .agg(*aggs_sql)
        .collect()
    }


def _got(spark, dst):
    return {
        tuple(r[: 1]): tuple(r[1:])
        for r in MV.read_aggregate_view(spark, dst).collect()
    }


def _assert_equal(got, exp):
    assert set(got) == set(exp), (sorted(got), sorted(exp))
    for key in exp:
        for a, b in zip(got[key], exp[key]):
            if a is None or b is None:
                assert a == b, (key, got[key], exp[key])
            else:
                assert abs(float(a) - float(b)) < 1e-6, (
                    key, got[key], exp[key],
                )


SUM_AGGS = {"sx": ("sum", "x"), "cnt": ("count", None),
            "cn": ("count", "n"), "ax": ("avg", "x"), "an": ("avg", "n")}
MM_AGGS = {"mx": ("max", "x"), "mn": ("min", "n"), "sx": ("sum", "x")}


def SUM_SQL():  # Column exprs need a live JVM — build lazily per test
    return [
        F.sum("x").alias("sx"), F.count("*").alias("cnt"),
        F.count("n").alias("cn"), F.avg("x").alias("ax"),
        F.avg("n").alias("an"),
    ]


def MM_SQL():
    return [F.max("x").alias("mx"), F.min("n").alias("mn"),
            F.sum("x").alias("sx")]


def test_create_matches_direct_aggregation(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_delta_refresh_after_append_insert_and_new_group(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    extra = spark.range(500, 600).select(
        (F.col("id") % 9).alias("k"),  # keys 7,8 are NEW groups
        (F.col("id") * 2.0).alias("x"),
        F.col("id").alias("n"),
    )
    V.append_table(extra, src)
    r = MV.refresh_aggregate_view(spark, dst)
    assert r["strategy"] == "delta"
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_delta_refresh_dv_delete_removes_emptied_group(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    V.delete_from(spark, src, F.col("k") == 3, mode="dv")
    r = MV.refresh_aggregate_view(spark, dst)
    assert r["strategy"] == "delta"
    got = _got(spark, dst)
    assert (3,) not in got
    _assert_equal(got, _expect(spark, src, SUM_SQL()))


def test_delta_refresh_after_cow_update_cancels_unchanged(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    V.update_table(spark, src, {"x": F.col("x") * 3}, F.col("k") == 2)
    r = MV.refresh_aggregate_view(spark, dst)
    # the rewrite's unchanged rows appear as delete+insert in the CDF
    # and must cancel: only group 2 carries a net delta
    assert r["groups_changed"] == 1
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_noop_refresh_and_watermark_advance(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    assert MV.refresh_aggregate_view(spark, dst)["strategy"] == "noop"
    # a source commit whose net delta is zero (update matching nothing
    # still commits OPTIMIZE/no-ops are trickier; use an append+delete
    # of the same rows) must advance the watermark without view changes
    probe = spark.createDataFrame(
        [(99, 1.0, 1)], "k long, x double, n long"
    )
    V.append_table(probe, src)
    V.delete_from(spark, src, F.col("k") == 99, mode="cow")
    r = MV.refresh_aggregate_view(spark, dst)
    assert r["to_version"] == V.current_version(src)
    assert MV.view_meta(dst)["source_version"] == V.current_version(src)
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_delta_refresh_never_reads_source_files(spark, tmp_path, monkeypatch):
    """The delta strategy's whole point: refresh cost ∝ CDF, not source
    size. Reading the source table during a delta refresh is a bug."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    V.append_table(
        spark.createDataFrame([(1, 5.0, 5)], "k long, x double, n long"),
        src,
    )
    real_read = V.read_table

    def guarded(spark_, path, *a, **kw):
        assert path != src, "delta refresh must not read the source table"
        return real_read(spark_, path, *a, **kw)

    monkeypatch.setattr(V, "read_table", guarded)
    monkeypatch.setattr(MV.V, "read_table", guarded)
    r = MV.refresh_aggregate_view(spark, dst)
    assert r["strategy"] == "delta"
    monkeypatch.undo()
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_scoped_refresh_min_max_after_extremum_delete(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], MM_AGGS)
    # delete the global max rows: a delta-maintained max could never
    # recover the runner-up — scoped recompute must
    V.delete_from(spark, src, F.col("x") > 600.0, mode="cow")
    r = MV.refresh_aggregate_view(spark, dst)
    assert r["strategy"] == "scoped"
    _assert_equal(_got(spark, dst), _expect(spark, src, MM_SQL()))


def test_scoped_refresh_group_vanishes(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], MM_AGGS)
    V.delete_from(spark, src, F.col("k") == 4, mode="cow")
    MV.refresh_aggregate_view(spark, dst)
    got = _got(spark, dst)
    assert (4,) not in got
    _assert_equal(got, _expect(spark, src, MM_SQL()))


def test_view_survives_history_and_rollback_of_view_table(spark, tmp_path):
    """The mv metadata rides manifest state inheritance: DESCRIBE the
    view table and roll it back — meta stays consistent."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    V.append_table(
        spark.createDataFrame([(0, 1.0, 1)], "k long, x double, n long"),
        src,
    )
    MV.refresh_aggregate_view(spark, dst)
    meta = MV.view_meta(dst)
    assert meta["source_version"] == V.current_version(src)
    V.rollback(dst, 1)
    # rolled-back view carries the OLD watermark → a refresh re-derives
    assert MV.view_meta(dst)["source_version"] == 1
    MV.refresh_aggregate_view(spark, dst)
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_non_view_raises(spark, tmp_path):
    src = _src(spark, tmp_path)
    with pytest.raises(ValueError, match="not a materialized view"):
        MV.view_meta(src)


def test_bad_specs_raise(spark, tmp_path):
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    with pytest.raises(ValueError, match="not in"):
        MV.create_aggregate_view(spark, src, dst, ["k"],
                                 {"m": ("median", "x")})
    with pytest.raises(ValueError, match="needs a source column"):
        MV.create_aggregate_view(spark, src, dst, ["k"],
                                 {"s": ("sum", None)})
    with pytest.raises(ValueError, match="reserved"):
        MV.create_aggregate_view(spark, src, dst, ["k"],
                                 {"k": ("sum", "x")})
    with pytest.raises(ValueError, match="at least one"):
        MV.create_aggregate_view(spark, src, dst, [], {"s": ("sum", "x")})


@pytest.mark.parametrize("keys, aggs", [
    (["k"], {"s": ("sum", "x")}),
    (["k"], {"T": ("count", None)}),
    (["s"], {"sx": ("sum", "x")}),
])
def test_merge_alias_names_rejected_at_create(spark, tmp_path, keys, aggs):
    """A group key or output named like the refresh merge's ``s``/``t``
    aliases (any case) would make every non-empty refresh fail with an
    ambiguous or unresolvable reference: create rejects it."""
    src = _src(spark, tmp_path)
    with pytest.raises(ValueError, match=r"aliases \['s', 't'\]"):
        MV.create_aggregate_view(spark, src, str(tmp_path / "v"), keys, aggs)


def test_delta_refresh_job_count_pinned(spark, tmp_path, count_jobs):
    """A delta refresh after one append runs 15 Spark jobs (19 before
    the fold and the merge's source checks each became one)."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, src, dst, ["k"], {"sx": ("sum", "x"), "cnt": ("count", None)}
    )
    V.append_table(
        spark.range(0, 20).select(
            (F.col("id") % 3).alias("k"),
            (F.col("id") * 1.0).alias("x"),
            F.col("id").alias("n"),
        ),
        src,
    )
    r, jobs = count_jobs(lambda: MV.refresh_aggregate_view(spark, dst))
    assert (r["strategy"], r["groups_changed"]) == ("delta", 3)
    assert jobs == 15


@pytest.mark.slow  # randomized replay: full depth in the slow lane (r13)
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture, HealthCheck.too_slow,
    ],
)
@given(
    ops=st.lists(
        st.sampled_from(["append", "dv_del", "cow_del", "update"]),
        min_size=1, max_size=4,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_property_view_equals_recompute_after_any_ops(
    spark, tmp_path_factory, ops, seed
):
    """Any interleaving of mutations + a refresh after EACH mutation
    keeps the view equal to a full recompute — the drift-free claim."""
    tmp = tmp_path_factory.mktemp("mvprop")
    src, dst = str(tmp / "src"), str(tmp / "view")
    df = spark.range(0, 300).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 0.7).alias("x"),
        F.col("id").alias("n"),
    )
    V.create_table(df, src)
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    rnd = seed
    for op in ops:
        rnd = (rnd * 1103515245 + 12345) % (2**31)
        pick = rnd % 5
        if op == "append":
            V.append_table(
                spark.range(rnd % 50, rnd % 50 + 40).select(
                    (F.col("id") % 6).alias("k"),
                    (F.col("id") * 1.1).alias("x"),
                    F.col("id").alias("n"),
                ),
                src,
            )
        elif op == "dv_del":
            V.delete_from(
                spark, src, F.col("n") % 7 == pick % 7, mode="dv"
            )
        elif op == "cow_del":
            V.delete_from(spark, src, F.col("k") == pick, mode="cow")
        else:
            V.update_table(
                spark, src, {"x": F.col("x") + 1.0}, F.col("k") == pick
            )
        MV.refresh_aggregate_view(spark, dst)
        _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_streaming_refresh_sink_keeps_view_fresh(spark, tmp_path):
    """matview_refresh_sink: source commits land while the loop runs
    (availableNow passes here); after each pass the view equals a
    recompute, and a REPLAYED trigger (fresh checkpoint over the same
    offsets) is a no-op because refresh is watermark-idempotent."""
    from aws_etl_project2_fiap_spark.streaming.sinks import (
        matview_refresh_sink,
    )

    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)

    V.append_table(
        spark.range(500, 560).select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 2.0).alias("x"),
            F.col("id").alias("n"),
        ),
        src,
    )
    V.delete_from(spark, src, F.col("k") == 1, mode="dv")

    q = matview_refresh_sink(spark, dst, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))
    assert MV.view_meta(dst)["source_version"] == V.current_version(src)

    # replay: a brand-new checkpoint re-triggers over the SAME source
    # offsets — the refresh must fold nothing twice
    q = matview_refresh_sink(spark, dst, str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))

    # another commit, resumed loop on the original checkpoint
    V.update_table(spark, src, {"x": F.col("x") + 5.0}, F.col("k") == 2)
    q = matview_refresh_sink(spark, dst, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_delta_refresh_zero_group_cleanup_is_scoped(
    spark, tmp_path, monkeypatch
):
    """The delta path must never fall back to a whole-view scan for
    emptied groups: their delete is a clause of the fold's own
    probe-pruned MERGE — a delete_from here would rescan O(groups) on
    every refresh forever. Either way the refresh is one commit."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)

    def banned(*a, **kw):
        raise AssertionError("delta refresh must not call delete_from")

    monkeypatch.setattr(MV.V, "delete_from", banned)
    # pure append: no count decreases
    V.append_table(
        spark.createDataFrame([(1, 2.0, 2)], "k long, x double, n long"),
        src,
    )
    v_before = V.current_version(dst)
    MV.refresh_aggregate_view(spark, dst)
    # exactly one view commit (the fold merge)
    assert V.current_version(dst) == v_before + 1
    monkeypatch.undo()
    # emptying delete: the group goes in the same MERGE, not delete_from
    V.delete_from(spark, src, F.col("k") == 3, mode="cow")
    monkeypatch.setattr(MV.V, "delete_from", banned)
    MV.refresh_aggregate_view(spark, dst)
    monkeypatch.undo()
    assert V.current_version(dst) == v_before + 2
    got = _got(spark, dst)
    assert (3,) not in got
    _assert_equal(got, _expect(spark, src, SUM_SQL()))


def test_scoped_refresh_metadata_only_commit_advances_watermark(
    spark, tmp_path
):
    """A metadata-only source commit (empty CDF) must still advance a
    min/max view's watermark, or every later refresh re-derives the
    same empty range forever."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], MM_AGGS)
    V.rename_column(src, "n", "n2")
    V.rename_column(src, "n2", "n")  # back, so the agg spec still holds
    r = MV.refresh_aggregate_view(spark, dst)
    assert r["strategy"] == "scoped" and r["groups_changed"] == 0
    assert MV.view_meta(dst)["source_version"] == V.current_version(src)
    _assert_equal(_got(spark, dst), _expect(spark, src, MM_SQL()))


def test_null_group_keys_rejected_at_create(spark, tmp_path):
    """NULL group keys can't be maintained through the MERGE probe
    (SQL equality — the Delta MERGE caveat), so create rejects them."""
    src = str(tmp_path / "src")
    V.create_table(
        spark.createDataFrame(
            [(1, 1.0), (None, 2.0)], "k long, x double"
        ),
        src,
    )
    with pytest.raises(ValueError, match="NULL group keys"):
        MV.create_aggregate_view(
            spark, src, str(tmp_path / "v"), ["k"], {"sx": ("sum", "x")}
        )


def _star(spark, tmp_path):
    """Tiny star schema: fact(cust_fk, amount) + dim(cust_fk -> region)."""
    fact, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    V.create_table(
        spark.range(0, 200).select(
            (F.col("id") % 20).alias("cust_fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 20).select(
            F.col("id").alias("cust_fk"),
            F.concat(F.lit("R"), (F.col("id") % 4).cast("string")).alias(
                "region"
            ),
        ),
        dim,
    )
    return fact, dim


def _star_expect(spark, fact, dim):
    f = V.read_table(spark, fact)
    d = V.read_table(spark, dim)
    return {
        r["region"]: (float(r["rev"]), r["n"])
        for r in f.join(d, "cust_fk")
        .groupBy("region")
        .agg(F.sum("amount").alias("rev"), F.count("*").alias("n"))
        .collect()
    }


def _star_got(spark, view):
    return {
        r["region"]: (float(r["rev"]), r["n"])
        for r in MV.read_aggregate_view(spark, view).collect()
    }


def _star_assert(spark, fact, dim, view):
    got, exp = _star_got(spark, view), _star_expect(spark, fact, dim)
    assert set(got) == set(exp), (got, exp)
    for k in exp:
        assert abs(got[k][0] - exp[k][0]) < 1e-6 and got[k][1] == exp[k][1]


def test_star_view_create_and_delta_refresh(spark, tmp_path):
    """Group keys from a DIMENSION column (revenue by region),
    incrementally maintained from the fact's change feed."""
    fact, dim = _star(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    _star_assert(spark, fact, dim, view)
    V.append_table(
        spark.range(200, 260).select(
            (F.col("id") % 20).alias("cust_fk"),
            (F.col("id") * 2.0).alias("amount"),
        ),
        fact,
    )
    V.delete_from(spark, fact, F.col("amount") > 400, mode="dv")
    r = MV.refresh_aggregate_view(spark, view)
    assert r["strategy"] == "delta"
    _star_assert(spark, fact, dim, view)


def test_star_view_scoped_refresh(spark, tmp_path):
    fact, dim = _star(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"mx": ("max", "amount"), "rev": ("sum", "amount")},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    V.delete_from(spark, fact, F.col("amount") > 150, mode="cow")
    r = MV.refresh_aggregate_view(spark, view)
    assert r["strategy"] == "scoped"
    f = V.read_table(spark, fact)
    d = V.read_table(spark, dim)
    exp = {
        x["region"]: (float(x["mx"]), float(x["rev"]))
        for x in f.join(d, "cust_fk").groupBy("region")
        .agg(F.max("amount").alias("mx"), F.sum("amount").alias("rev"))
        .collect()
    }
    got = {
        x["region"]: (float(x["mx"]), float(x["rev"]))
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k][0] - exp[k][0]) < 1e-6
        assert abs(got[k][1] - exp[k][1]) < 1e-6


def test_star_view_refuses_stale_dims_and_full_refresh_repins(
    spark, tmp_path
):
    fact, dim = _star(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    # the dim moves: cust 0..4 switch regions
    V.update_table(
        spark, dim, {"region": F.lit("R9")}, F.col("cust_fk") < 5
    )
    V.append_table(
        spark.range(300, 310).select(
            (F.col("id") % 20).alias("cust_fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    with pytest.raises(MV.StaleDimensions):
        MV.refresh_aggregate_view(spark, view)
    r = MV.full_refresh_aggregate_view(spark, view)
    assert r["strategy"] == "full"
    _star_assert(spark, fact, dim, view)
    # re-pinned: incremental refresh works again
    V.append_table(
        spark.range(310, 320).select(
            (F.col("id") % 20).alias("cust_fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    assert MV.refresh_aggregate_view(spark, view)["strategy"] == "delta"
    _star_assert(spark, fact, dim, view)


def test_view_state_is_bucket_clustered_and_merge_prunes(spark, tmp_path):
    """The view's state files are bucket-clustered on the leading group
    key, so a refresh whose delta touches ONE group rewrites ~1/N of
    the view: merge bucket pruning must leave the other files reused,
    not rescanned/rewritten."""
    src = str(tmp_path / "src")
    V.create_table(
        spark.range(0, 5000).select(
            (F.col("id") % 500).alias("k"), (F.col("id") * 1.0).alias("x")
        ).repartition(8),
        src,
    )
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, src, dst, ["k"], {"sx": ("sum", "x")}, bucket_by_key=8
    )
    spec = V.table_cluster_spec(dst)
    assert spec and spec["cols"] == ["bucket(8,k)"]
    nfiles = len(V._read_manifest(dst, V.current_version(dst))["files"])
    assert nfiles > 1
    # one-group mutation
    V.append_table(
        spark.createDataFrame([(42, 5.0)], "k long, x double"), src
    )
    r = MV.refresh_aggregate_view(spark, dst)
    assert r["groups_changed"] == 1
    # the add-merge rewrote exactly the one file holding group 42's
    # bucket; every other file was reused by reference
    v = V.current_version(dst)
    m = V._read_manifest(dst, v)
    # count files carried unchanged from the pre-refresh version
    pre = {
        f["path"]
        for f in V._read_manifest(dst, v - 1)["files"]
    }
    now = {f["path"] for f in m["files"]}
    assert len(pre & now) >= nfiles - 1, (len(pre & now), nfiles)
    # and the folded value is right
    got = {
        x["k"]: float(x["sx"])
        for x in MV.read_aggregate_view(spark, dst).collect()
    }
    exp = {
        x["k"]: float(x["sx"])
        for x in V.read_table(spark, src)
        .groupBy("k")
        .agg(F.sum("x").alias("sx"))
        .collect()
    }
    assert set(got) == set(exp)
    assert abs(got[42] - exp[42]) < 1e-6


# ---------------------------------------------------------------------
# round 7: dim evolution, NULL-key refresh guard, SUM NULL-vs-0,
# racing-refresher CAS, vacuum-vs-refresh composition
# ---------------------------------------------------------------------


def _star25(spark, tmp_path):
    """Star fixture where some fact rows have NO dim match (cust 20-24)
    so a dim INSERT can admit previously-dropped rows."""
    fact, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    V.create_table(
        spark.range(0, 250).select(
            (F.col("id") % 25).alias("cust_fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 20).select(
            F.col("id").alias("cust_fk"),
            F.concat(F.lit("R"), (F.col("id") % 4).cast("string")).alias(
                "region"
            ),
        ),
        dim,
    )
    return fact, dim


def test_evolve_dimensions_delta_update_delete_insert(spark, tmp_path):
    """A dim UPDATE (rows move between groups), DELETE (rows leave the
    view) and INSERT (previously-unmatched fact rows join it) all fold
    incrementally and hash-match a recompute."""
    fact, dim = _star25(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    # dim moves three ways
    V.update_table(
        spark, dim, {"region": F.lit("R9")}, F.col("cust_fk") < 5
    )
    V.delete_from(spark, dim, F.col("cust_fk") == 7, mode="cow")
    V.append_table(
        spark.createDataFrame(
            [(20, "R0"), (21, "R9")], "cust_fk long, region string"
        ),
        dim,
    )
    with pytest.raises(MV.StaleDimensions):
        MV.refresh_aggregate_view(spark, view)
    r = MV.evolve_dimensions(spark, view)
    assert r["strategy"] == "delta" and r["dims_evolved"] == 1
    assert r["groups_changed"] > 0
    _star_assert(spark, fact, dim, view)
    # re-pinned: normal fact refresh works again
    assert MV.refresh_aggregate_view(spark, view)["strategy"] == "noop"


def test_evolve_dimensions_scoped_minmax(spark, tmp_path):
    fact, dim = _star25(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"mx": ("max", "amount"), "rev": ("sum", "amount")},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    V.update_table(
        spark, dim, {"region": F.lit("R0")}, F.col("cust_fk") % 4 == 3
    )
    V.delete_from(spark, dim, F.col("cust_fk") == 19, mode="dv")
    r = MV.evolve_dimensions(spark, view)
    assert r["strategy"] == "scoped" and r["groups_changed"] > 0
    f, d = V.read_table(spark, fact), V.read_table(spark, dim)
    exp = {
        x["region"]: (float(x["mx"]), float(x["rev"]))
        for x in f.join(d, "cust_fk").groupBy("region")
        .agg(F.max("amount").alias("mx"), F.sum("amount").alias("rev"))
        .collect()
    }
    got = {
        x["region"]: (float(x["mx"]), float(x["rev"]))
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert set(got) == set(exp)
    for key in exp:
        assert abs(got[key][0] - exp[key][0]) < 1e-6
        assert abs(got[key][1] - exp[key][1]) < 1e-6


def test_evolve_then_fact_refresh_composes(spark, tmp_path):
    """Dim evolution and fact refresh are orthogonal folds: applying
    both (in either order the API allows) equals a recompute."""
    fact, dim = _star25(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    V.update_table(
        spark, dim, {"region": F.lit("R2")}, F.col("cust_fk") < 3
    )
    V.append_table(
        spark.range(300, 330).select(
            (F.col("id") % 25).alias("cust_fk"),
            (F.col("id") * 2.0).alias("amount"),
        ),
        fact,
    )
    V.delete_from(spark, fact, F.col("amount") > 640, mode="dv")
    MV.evolve_dimensions(spark, view)
    r = MV.refresh_aggregate_view(spark, view)
    assert r["strategy"] == "delta" and r["groups_changed"] > 0
    _star_assert(spark, fact, dim, view)


def test_evolve_unaffected_dim_change_repins(spark, tmp_path):
    """A dim commit touching keys with NO fact rows still re-pins the
    dim watermark (metadata commit) so refresh unblocks."""
    fact, dim = _star25(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount")},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    V.append_table(
        spark.createDataFrame(
            [(900, "R0")], "cust_fk long, region string"
        ),
        dim,
    )
    r = MV.evolve_dimensions(spark, view)
    assert r["dims_evolved"] == 1 and r["groups_changed"] == 0
    assert MV.refresh_aggregate_view(spark, view)["strategy"] == "noop"
    _star_assert_rev_only(spark, fact, dim, view)


def _star_assert_rev_only(spark, fact, dim, view):
    f, d = V.read_table(spark, fact), V.read_table(spark, dim)
    exp = {
        r["region"]: float(r["rev"])
        for r in f.join(d, "cust_fk").groupBy("region")
        .agg(F.sum("amount").alias("rev")).collect()
    }
    got = {
        r["region"]: float(r["rev"])
        for r in MV.read_aggregate_view(spark, view).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6


def test_refresh_rejects_null_group_keys_in_cdf(spark, tmp_path):
    """ADVICE r6: NULL keys arriving AFTER create must fail the refresh
    loudly (delta path would duplicate, scoped would drop silently)."""
    src = _src(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, view, ["k"], SUM_AGGS)
    V.append_table(
        spark.createDataFrame(
            [(None, 1.0, 2)], "k long, x double, n long"
        ),
        src,
    )
    with pytest.raises(ValueError, match="NULL group keys"):
        MV.refresh_aggregate_view(spark, view)
    # scoped flavor: same guard
    view2 = str(tmp_path / "view2")
    src2 = _src(spark, tmp_path / "s2")
    MV.create_aggregate_view(spark, src2, view2, ["k"], MM_AGGS)
    V.append_table(
        spark.createDataFrame(
            [(None, 1.0, 2)], "k long, x double, n long"
        ),
        src2,
    )
    with pytest.raises(ValueError, match="NULL group keys"):
        MV.refresh_aggregate_view(spark, view2)


def test_sum_null_vs_zero_exact(spark, tmp_path):
    """ADVICE r6: the view must distinguish SUM=NULL (all inputs NULL)
    from SUM=0 through any number of folds — including the NULL->0
    value update the all-zero-delta filter used to drop."""
    src = str(tmp_path / "src")
    V.create_table(
        spark.createDataFrame(
            [(1, None), (1, None), (2, 5.0)], "k long, x double"
        ),
        src,
    )
    view = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, view, ["k"], {"sx": ("sum", "x")})

    def got():
        return {
            r["k"]: r["sx"]
            for r in MV.read_aggregate_view(spark, view).collect()
        }

    assert got()[1] is None and float(got()[2]) == 5.0
    # NULL -> 0 value update (delete NULL row + insert 0 row)
    V.update_table(spark, src, {"x": F.lit(0.0)}, F.col("k") == 1)
    MV.refresh_aggregate_view(spark, view)
    assert got()[1] is not None and float(got()[1]) == 0.0
    # 0 -> NULL again: back to SQL NULL, not 0
    V.update_table(
        spark, src, {"x": F.lit(None).cast("double")}, F.col("k") == 1
    )
    MV.refresh_aggregate_view(spark, view)
    assert got()[1] is None
    # and the recompute agrees at every step
    exp = {
        r["k"]: r["sx"]
        for r in V.read_table(spark, src).groupBy("k")
        .agg(F.sum("x").alias("sx")).collect()
    }
    g = got()
    assert set(g) == set(exp)
    for k in exp:
        assert (g[k] is None) == (exp[k] is None)


def test_racing_refreshers_fold_exactly_once(spark, tmp_path, monkeypatch):
    """VERDICT r6 #5: two refreshers interleave on the same CDF range —
    exactly one commits (CAS on the view version the watermark was read
    from); the loser reports noop and the view equals a recompute."""
    src = _src(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, view, ["k"], SUM_AGGS)
    V.append_table(
        spark.range(500, 560).select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 1.5).alias("x"),
            F.col("id").alias("n"),
        ),
        src,
    )
    real_merge = V.merge_table
    state = {"raced": False}

    def racing_merge(spark_, path, source, keys, **kw):
        if not state["raced"]:
            state["raced"] = True
            # refresher B lands the same range first, mid-flight of A
            monkeypatch.setattr(MV.V, "merge_table", real_merge)
            rb = MV.refresh_aggregate_view(spark_, view)
            assert rb["groups_changed"] > 0
            monkeypatch.setattr(MV.V, "merge_table", racing_merge)
        return real_merge(spark_, path, source, keys, **kw)

    monkeypatch.setattr(MV.V, "merge_table", racing_merge)
    ra = MV.refresh_aggregate_view(spark, view)
    monkeypatch.setattr(MV.V, "merge_table", real_merge)
    assert ra["strategy"] == "noop" and ra["groups_changed"] == 0
    _assert_equal(_got(spark, view), _expect(spark, src, SUM_SQL()))


def test_vacuum_past_watermark_refresh_raises(spark, tmp_path):
    """VERDICT r6 #6: vacuuming the source past a view's watermark must
    make refresh fail LOUDLY (the CDF range is gone) — never fold a
    partial feed. Retention rule: vacuum(keep_last=K) is safe iff every
    view refreshes at least once per K source commits."""
    src = _src(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, view, ["k"], SUM_AGGS)
    before = _got(spark, view)
    for lo in (500, 600, 700):
        V.append_table(
            spark.range(lo, lo + 30).select(
                (F.col("id") % 7).alias("k"),
                (F.col("id") * 1.5).alias("x"),
                F.col("id").alias("n"),
            ),
            src,
        )
    V.vacuum(src, keep_last=1)  # watermark manifest dropped
    with pytest.raises((FileNotFoundError, OSError)):
        MV.refresh_aggregate_view(spark, view)
    # nothing folded: the view is byte-identical to pre-attempt
    assert _got(spark, view) == before
    # recovery verb works and re-pins
    MV.full_refresh_aggregate_view(spark, view)
    _assert_equal(_got(spark, view), _expect(spark, src, SUM_SQL()))


def test_pre_mvnn_state_raises_pointed_migration_error(spark, tmp_path):
    """A sum-agg view persisted BEFORE the __mvnn counter must fail
    read/refresh with an error naming full_refresh_aggregate_view, and
    that verb must migrate the state in place."""
    src = str(tmp_path / "src")
    V.create_table(
        spark.createDataFrame(
            [(1, 2.0), (1, 3.0), (2, 5.0)], "k long, x double"
        ),
        src,
    )
    dst = str(tmp_path / "view")
    meta = {
        "source": src,
        "source_version": V.current_version(src),
        "group_by": ["k"],
        "aggs": {"sx": ["sum", "x"]},
        "dims": [],
    }
    old_state = (
        V.read_table(spark, src)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("__mv_cnt"),
            F.sum(F.col("x").cast("decimal(28,6)")).alias("sx"),
        )
    )
    V.create_table(old_state, dst, extra={"mv": meta})
    with pytest.raises(ValueError, match="full_refresh_aggregate_view"):
        MV.read_aggregate_view(spark, dst)
    V.append_table(
        spark.createDataFrame([(2, 1.0)], "k long, x double"), src
    )
    with pytest.raises(ValueError, match="full_refresh_aggregate_view"):
        MV.refresh_aggregate_view(spark, dst)
    MV.full_refresh_aggregate_view(spark, dst)
    got = {
        r["k"]: float(r["sx"])
        for r in MV.read_aggregate_view(spark, dst).collect()
    }
    assert got == {1: 5.0, 2: 6.0}
    # migrated: incremental refresh works again
    V.append_table(
        spark.createDataFrame([(1, 10.0)], "k long, x double"), src
    )
    assert MV.refresh_aggregate_view(spark, dst)["strategy"] == "delta"


def test_evolve_two_dims_in_one_call(spark, tmp_path):
    """Two dimensions advance before evolve: each folds in its own
    commit (crash-resumable), the second fold sees the first's re-pin,
    and the result equals a recompute against both new dim states."""
    fact = str(tmp_path / "fact")
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    V.create_table(
        spark.range(0, 300).select(
            (F.col("id") % 20).alias("fk1"),
            (F.col("id") % 7).alias("fk2"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 20).select(
            F.col("id").alias("fk1"),
            F.concat(F.lit("R"), (F.col("id") % 4).cast("string")).alias(
                "region"
            ),
        ),
        d1,
    )
    V.create_table(
        spark.range(0, 7).select(
            F.col("id").alias("fk2"),
            F.concat(F.lit("C"), (F.col("id") % 3).cast("string")).alias(
                "chan"
            ),
        ),
        d2,
    )
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region", "chan"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[
            {"path": d1, "keys": ["fk1"]},
            {"path": d2, "keys": ["fk2"]},
        ],
    )
    V.update_table(spark, d1, {"region": F.lit("R7")}, F.col("fk1") < 4)
    V.delete_from(spark, d2, F.col("fk2") == 6, mode="cow")
    r = MV.evolve_dimensions(spark, view)
    assert r["dims_evolved"] == 2 and r["groups_changed"] > 0
    f = V.read_table(spark, fact)
    exp = {
        (x["region"], x["chan"]): (float(x["rev"]), x["n"])
        for x in f.join(V.read_table(spark, d1), "fk1")
        .join(V.read_table(spark, d2), "fk2")
        .groupBy("region", "chan")
        .agg(F.sum("amount").alias("rev"), F.count("*").alias("n"))
        .collect()
    }
    got = {
        (x["region"], x["chan"]): (float(x["rev"]), x["n"])
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert set(got) == set(exp)
    for key in exp:
        assert abs(got[key][0] - exp[key][0]) < 1e-6
        assert got[key][1] == exp[key][1]
    assert MV.refresh_aggregate_view(spark, view)["strategy"] == "noop"


def test_refresh_evolve_dims_one_verb(spark, tmp_path):
    """refresh_aggregate_view(evolve_dims=True): a dim move AND a fact
    move fold in one call — the scheduled-refresher ergonomic."""
    fact, dim = _star25(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    V.update_table(spark, dim, {"region": F.lit("R8")}, F.col("cust_fk") < 3)
    V.append_table(
        spark.range(400, 430).select(
            (F.col("id") % 25).alias("cust_fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    r = MV.refresh_aggregate_view(spark, view, evolve_dims=True)
    assert r["dims_evolved"] == 1 and r["strategy"] == "delta"
    _star_assert(spark, fact, dim, view)


def test_refresh_evolve_dims_dim_only_move_not_noop(spark, tmp_path):
    """A dim-only move under evolve_dims=True changed the view — the
    merged result must not report strategy 'noop'."""
    fact, dim = _star25(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount")},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    V.update_table(spark, dim, {"region": F.lit("RX")}, F.col("cust_fk") < 5)
    r = MV.refresh_aggregate_view(spark, view, evolve_dims=True)
    assert r["strategy"] != "noop" and r["groups_changed"] > 0
    assert r["dims_evolved"] == 1
    _star_assert_rev_only(spark, fact, dim, view)


def _crash_on_call(monkeypatch, n):
    """Monkeypatch V.merge_table to raise on its n-th call — simulates
    a hard crash inside a fold's merge, before its commit."""
    real = V.merge_table
    calls = {"n": 0}

    def boom(*a, **kw):
        calls["n"] += 1
        if calls["n"] == n:
            raise RuntimeError("injected crash inside the fold merge")
        return real(*a, **kw)

    monkeypatch.setattr(V, "merge_table", boom)
    return real


def _cnts(spark, dst, key="k"):
    return {
        r[key]: r["__mv_cnt"]
        for r in V.read_table(spark, dst).select(key, "__mv_cnt").collect()
    }


def test_delta_crash_before_cleanup_hides_ghost_group(
    spark, tmp_path, monkeypatch
):
    """The delta fold adds the delta and deletes the group whose last
    row left in ONE merge, one commit. A crash on that merge leaves
    the view at its prior version (watermark unmoved, group still
    there); the rerun folds the range in one commit that writes no
    __mv_cnt = 0 row, and the group coming back later inserts anew."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    V.delete_from(spark, src, F.col("k") == 3, mode="dv")
    before, watermark = V.current_version(dst), MV.view_meta(dst)
    real = _crash_on_call(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        MV.refresh_aggregate_view(spark, dst)
    monkeypatch.setattr(V, "merge_table", real)
    assert V.current_version(dst) == before
    assert MV.view_meta(dst) == watermark
    assert _cnts(spark, dst)[3] > 0
    assert MV.refresh_aggregate_view(spark, dst)["strategy"] == "delta"
    assert V.current_version(dst) == before + 1
    cnts = _cnts(spark, dst)
    assert 3 not in cnts and min(cnts.values()) > 0
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))
    V.append_table(
        spark.range(1000, 1010).select(
            F.lit(3).cast("long").alias("k"),
            (F.col("id") * 1.5).alias("x"),
            F.col("id").alias("n"),
        ),
        src,
    )
    MV.refresh_aggregate_view(spark, dst)
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_scoped_crash_before_compaction_leaves_no_stale_row(
    spark, tmp_path, monkeypatch
):
    """Scoped fold, same crash: the recomputed groups and the vanished
    group's delete are ONE merge. The crash leaves the view at its
    prior version; the rerun commits once and leaves no row at all for
    the vanished group."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], MM_AGGS)
    V.delete_from(spark, src, F.col("k") == 3, mode="cow")
    before, watermark = V.current_version(dst), MV.view_meta(dst)
    real = _crash_on_call(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        MV.refresh_aggregate_view(spark, dst)
    monkeypatch.setattr(V, "merge_table", real)
    assert V.current_version(dst) == before
    assert MV.view_meta(dst) == watermark
    assert MV.refresh_aggregate_view(spark, dst)["strategy"] == "scoped"
    assert V.current_version(dst) == before + 1
    cnts = _cnts(spark, dst)
    assert 3 not in cnts and min(cnts.values()) > 0
    _assert_equal(_got(spark, dst), _expect(spark, src, MM_SQL()))
    assert MV.refresh_aggregate_view(spark, dst)["strategy"] == "noop"


def test_evolve_crash_before_cleanup_hides_ghost_group(
    spark, tmp_path, monkeypatch
):
    """Dim-evolution fold, same crash shape: deleting every dim key of
    one region empties its group. The crash leaves the view and its
    dim pin at the prior version; the rerun folds in one commit and
    deletes the group."""
    fact, dim = _star(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    # region R3 loses ALL its dim keys -> inner-join drops its rows
    V.delete_from(spark, dim, F.col("region") == "R3", mode="cow")
    before, pinned = V.current_version(view), MV.view_meta(view)
    real = _crash_on_call(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        MV.evolve_dimensions(spark, view)
    monkeypatch.setattr(V, "merge_table", real)
    assert V.current_version(view) == before
    assert MV.view_meta(view) == pinned
    assert MV.evolve_dimensions(spark, view)["dims_evolved"] == 1
    assert V.current_version(view) == before + 1
    cnts = _cnts(spark, view, "region")
    assert "R3" not in cnts and min(cnts.values()) > 0
    _star_assert(spark, fact, dim, view)
    assert MV.evolve_dimensions(spark, view)["strategy"] == "noop"


def test_read_hides_zero_count_rows_of_older_views(spark, tmp_path):
    """Views written while the emptied-group cleanup was a separate
    commit can hold __mv_cnt = 0 state rows. The read keeps hiding
    them, and a later fold onto such a row is exact."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    V.delete_from(spark, src, F.col("k") == 3, mode="dv")
    MV.refresh_aggregate_view(spark, dst)
    state = V.read_table(spark, dst)
    zero = {"k": 3, "__mv_cnt": 0}
    V.append_table(
        spark.createDataFrame(
            [tuple(zero.get(f.name) for f in state.schema.fields)],
            state.schema,
        ),
        dst,
    )
    assert _cnts(spark, dst)[3] == 0
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))
    V.append_table(
        spark.range(1000, 1010).select(
            F.lit(3).cast("long").alias("k"),
            (F.col("id") * 1.5).alias("x"),
            F.col("id").alias("n"),
        ),
        src,
    )
    MV.refresh_aggregate_view(spark, dst)
    assert _cnts(spark, dst)[3] == 10
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))


def test_evolve_two_dims_is_one_physical_fact_scan(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7: k moved dims must cost ONE pruned fact scan, not k.
    The fact read is wrapped with a per-partition accumulator tap; two
    dims move; the tap must fire exactly once per fact partition —
    i.e. the stacked broadcast probe materializes the fact exactly
    once (the checkpoint), and the per-dim folds never rescan it."""
    import os as _os

    fact = str(tmp_path / "fact")
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    V.create_table(
        spark.range(0, 300).select(
            (F.col("id") % 20).alias("fk1"),
            (F.col("id") % 7).alias("fk2"),
            (F.col("id") * 1.0).alias("amount"),
        ).repartition(2),
        fact,
    )
    V.create_table(
        spark.range(0, 20).select(
            F.col("id").alias("fk1"),
            F.concat(F.lit("R"), (F.col("id") % 4).cast("string"))
            .alias("region"),
        ),
        d1,
    )
    V.create_table(
        spark.range(0, 7).select(
            F.col("id").alias("fk2"),
            F.concat(F.lit("C"), (F.col("id") % 3).cast("string"))
            .alias("chan"),
        ),
        d2,
    )
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region", "chan"],
        {"rev": ("sum", "amount"), "cnt": ("count", None)},
        dims=[
            {"path": d1, "keys": ["fk1"]},
            {"path": d2, "keys": ["fk2"]},
        ],
    )
    V.update_table(spark, d1, {"region": F.lit("R7")}, F.col("fk1") < 4)
    V.update_table(spark, d2, {"chan": F.lit("C9")}, F.col("fk2") < 2)
    npart = V.read_table(spark, fact).rdd.getNumPartitions()
    acc = spark.sparkContext.accumulator(0)
    fact_real = _os.path.realpath(fact)
    real_read = V.read_table

    def counting(sp, path, **kw):
        df = real_read(sp, path, **kw)
        if _os.path.realpath(str(path)) == fact_real:
            schema = df.schema

            def tap(batches):
                acc.add(1)
                yield from batches

            df = df.mapInPandas(tap, schema)
        return df

    monkeypatch.setattr(V, "read_table", counting)
    r = MV.evolve_dimensions(spark, view)
    monkeypatch.setattr(V, "read_table", real_read)
    assert r["dims_evolved"] == 2 and r["strategy"] == "delta"
    assert acc.value == npart, (acc.value, npart)
    # and the batched fold is still exact vs a recompute
    f = V.read_table(spark, fact)
    exp = {
        (x["region"], x["chan"]): (float(x["rev"]), x["cnt"])
        for x in f.join(V.read_table(spark, d1), "fk1")
        .join(V.read_table(spark, d2), "fk2")
        .groupBy("region", "chan")
        .agg(F.sum("amount").alias("rev"), F.count("*").alias("cnt"))
        .collect()
    }
    got = {
        (x["region"], x["chan"]): (float(x["rev"]), x["cnt"])
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert set(got) == set(exp)
    for key in exp:
        assert abs(got[key][0] - exp[key][0]) < 1e-6
        assert got[key][1] == exp[key][1]


def test_evolve_scoped_two_dims_one_commit_two_scans(
    spark, tmp_path, monkeypatch
):
    """Scoped (min/max) evolution with TWO moved dims: one CAS'd
    commit re-pins both, the result equals a recompute, and the fact
    materializes exactly twice (affected probe + recompute) no matter
    how many dims moved — the accumulator tap pins the scan count."""
    import os as _os

    fact = str(tmp_path / "fact")
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    V.create_table(
        spark.range(0, 300).select(
            (F.col("id") % 20).alias("fk1"),
            (F.col("id") % 7).alias("fk2"),
            (F.col("id") * 1.0).alias("amount"),
        ).repartition(2),
        fact,
    )
    V.create_table(
        spark.range(0, 20).select(
            F.col("id").alias("fk1"),
            F.concat(F.lit("R"), (F.col("id") % 4).cast("string"))
            .alias("region"),
        ),
        d1,
    )
    V.create_table(
        spark.range(0, 7).select(
            F.col("id").alias("fk2"),
            F.concat(F.lit("C"), (F.col("id") % 3).cast("string"))
            .alias("chan"),
        ),
        d2,
    )
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region", "chan"],
        {"mx": ("max", "amount"), "rev": ("sum", "amount")},
        dims=[
            {"path": d1, "keys": ["fk1"]},
            {"path": d2, "keys": ["fk2"]},
        ],
    )
    pre_v = V.current_version(view)
    # dim moves that change group membership AND empty a group slice
    V.update_table(spark, d1, {"region": F.lit("R7")}, F.col("fk1") < 4)
    V.delete_from(spark, d2, F.col("fk2") == 6, mode="cow")
    npart = V.read_table(spark, fact).rdd.getNumPartitions()
    acc = spark.sparkContext.accumulator(0)
    fact_real = _os.path.realpath(fact)
    real_read = V.read_table

    def counting(sp, path, **kw):
        df = real_read(sp, path, **kw)
        if _os.path.realpath(str(path)) == fact_real:
            schema = df.schema

            def tap(batches):
                acc.add(1)
                yield from batches

            df = df.mapInPandas(tap, schema)
        return df

    monkeypatch.setattr(V, "read_table", counting)
    r = MV.evolve_dimensions(spark, view)
    monkeypatch.setattr(V, "read_table", real_read)
    assert r["dims_evolved"] == 2 and r["strategy"] == "scoped"
    assert acc.value == 2 * npart, (acc.value, npart)
    # ONE commit re-pinned both dims (plus the compaction delete if
    # groups vanished): the CAS'd merge carries the new meta
    meta = MV.view_meta(view)
    assert [d["version"] for d in meta["dims"]] == [
        V.current_version(d1), V.current_version(d2)
    ]
    f = V.read_table(spark, fact)
    exp = {
        (x["region"], x["chan"]): (float(x["mx"]), float(x["rev"]))
        for x in f.join(V.read_table(spark, d1), "fk1")
        .join(V.read_table(spark, d2), "fk2")
        .groupBy("region", "chan")
        .agg(F.max("amount").alias("mx"), F.sum("amount").alias("rev"))
        .collect()
    }
    got = {
        (x["region"], x["chan"]): (float(x["mx"]), float(x["rev"]))
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert set(got) == set(exp)
    for key in exp:
        assert abs(got[key][0] - exp[key][0]) < 1e-6
        assert abs(got[key][1] - exp[key][1]) < 1e-6
    assert MV.evolve_dimensions(spark, view)["strategy"] == "noop"
    assert V.current_version(view) >= pre_v + 1


def test_read_aggregate_view_time_travel(spark, tmp_path):
    """read_aggregate_view(version=...) replays any retained past
    result: the state AND the spec are read at that version."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(spark, src, dst, ["k"], SUM_AGGS)
    v1_exp = _expect(spark, src, SUM_SQL())
    v1 = V.current_version(dst)
    V.append_table(
        spark.range(2000, 2100).select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 1.5).alias("x"),
            F.col("id").alias("n"),
        ),
        src,
    )
    MV.refresh_aggregate_view(spark, dst)
    # current reflects the refresh; v1 replays the original
    _assert_equal(_got(spark, dst), _expect(spark, src, SUM_SQL()))
    got_v1 = {
        tuple(r[:1]): tuple(r[1:])
        for r in MV.read_aggregate_view(spark, dst, version=v1).collect()
    }
    _assert_equal(got_v1, v1_exp)


def test_evolve_converges_past_foreign_commit(
    spark, tmp_path, monkeypatch
):
    """Review r8: every evolve commit CASes on the function's OWN
    version chain — a foreign commit landing between two per-dim folds
    can never be silently double-folded or have its state rewound.
    Losing the CAS restarts from a fresh snapshot, so the call
    CONVERGES to the exact recompute in one invocation."""
    fact = str(tmp_path / "fact")
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    V.create_table(
        spark.range(0, 200).select(
            (F.col("id") % 10).alias("fk1"),
            (F.col("id") % 5).alias("fk2"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("fk1"),
            F.concat(F.lit("R"), (F.col("id") % 3).cast("string"))
            .alias("region"),
        ),
        d1,
    )
    V.create_table(
        spark.range(0, 5).select(
            F.col("id").alias("fk2"),
            F.concat(F.lit("C"), (F.col("id") % 2).cast("string"))
            .alias("chan"),
        ),
        d2,
    )
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region", "chan"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[
            {"path": d1, "keys": ["fk1"]},
            {"path": d2, "keys": ["fk2"]},
        ],
    )
    V.update_table(spark, d1, {"region": F.lit("R9")}, F.col("fk1") < 3)
    V.update_table(spark, d2, {"chan": F.lit("C9")}, F.col("fk2") < 2)
    real = V.merge_table
    state = {"n": 0}

    def foreign_after_first(*a, **kw):
        out = real(*a, **kw)
        state["n"] += 1
        if state["n"] == 1:
            # a racer commits between our dim-1 and dim-2 folds
            cur = V.current_version(view)
            V._commit(
                view,
                V._read_manifest(view, cur)["files"],
                extra={"mv": MV.view_meta(view)},
                operation="FOREIGN",
            )
        return out

    monkeypatch.setattr(V, "merge_table", foreign_after_first)
    r = MV.evolve_dimensions(spark, view)
    monkeypatch.setattr(V, "merge_table", real)
    # dim 1 folded on the first chain, the foreign commit broke the
    # chain, the restart folded dim 2 — both counted, result exact
    assert r["dims_evolved"] == 2, r
    assert MV.evolve_dimensions(spark, view)["strategy"] == "noop"
    f = V.read_table(spark, fact)
    exp = {
        (x["region"], x["chan"]): (float(x["rev"]), x["n"])
        for x in f.join(V.read_table(spark, d1), "fk1")
        .join(V.read_table(spark, d2), "fk2")
        .groupBy("region", "chan")
        .agg(F.sum("amount").alias("rev"), F.count("*").alias("n"))
        .collect()
    }
    got = {
        (x["region"], x["chan"]): (float(x["rev"]), x["n"])
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert got == {k: (v[0], v[1]) for k, v in exp.items()} or (
        set(got) == set(exp)
        and all(
            abs(got[k][0] - exp[k][0]) < 1e-6 and got[k][1] == exp[k][1]
            for k in exp
        )
    )


def test_racing_evolvers_fold_exactly_once(spark, tmp_path, monkeypatch):
    """Two evolvers race on the same dim move: the loser's CAS fails,
    its restart sees the dim already re-pinned and reports noop — the
    fold lands exactly once and the view equals a recompute."""
    fact, dim = _star(spark, tmp_path)
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["cust_fk"]}],
    )
    V.update_table(
        spark, dim, {"region": F.lit("R8")}, F.col("cust_fk") < 6
    )
    real = V.merge_table
    state = {"raced": False}

    def racing(spark_, path, source, keys, **kw):
        if not state["raced"]:
            state["raced"] = True
            # evolver B completes the WHOLE evolution mid-flight of A
            monkeypatch.setattr(V, "merge_table", real)
            rb = MV.evolve_dimensions(spark_, view)
            assert rb["dims_evolved"] == 1
            monkeypatch.setattr(V, "merge_table", racing)
        return real(spark_, path, source, keys, **kw)

    monkeypatch.setattr(V, "merge_table", racing)
    ra = MV.evolve_dimensions(spark, view)
    monkeypatch.setattr(V, "merge_table", real)
    # A lost the CAS to B; its restart found nothing left to fold
    assert ra["strategy"] == "noop" and ra["dims_evolved"] == 0, ra
    _star_assert(spark, fact, dim, view)


def test_reserved_mv_columns_rejected(spark, tmp_path):
    """ADVICE r8: a fact or dim column in the __mv* namespace would
    collide with the evolve probe's hit flags / the view's state
    counters — rejected at create (and the same guard runs at evolve,
    for sources that gain such a column via schema evolution later)."""
    bad = str(tmp_path / "bad")
    V.create_table(
        spark.range(5).select(
            F.col("id").alias("g"), F.lit(1).alias("__mv_hit_0")
        ),
        bad,
    )
    with pytest.raises(ValueError, match="__mv"):
        MV.create_aggregate_view(
            spark, bad, str(tmp_path / "v"), ["g"],
            {"n": ("count", None)},
        )
    # a colliding DIM column is equally rejected (the probe would
    # stack its flags over the joined frame)
    fact = str(tmp_path / "fact")
    V.create_table(
        spark.range(10).select(
            (F.col("id") % 3).alias("fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    dimt = str(tmp_path / "dim")
    V.create_table(
        spark.range(3).select(
            F.col("id").alias("fk"), F.lit("x").alias("__mv_sign")
        ),
        dimt,
    )
    with pytest.raises(ValueError, match="__mv"):
        MV.create_aggregate_view(
            spark, fact, str(tmp_path / "v2"), ["fk"],
            {"n": ("count", None)},
            dims=[{"path": dimt, "keys": ["fk"]}],
        )


def test_reserved_dim_column_rejected_at_evolve(spark, tmp_path):
    """Review r9: a dim that GAINS a __mv* column after create (schema
    evolution) must be rejected loudly at evolve, not silently
    clobbered by the signed-leg marker."""
    fact, dimt = str(tmp_path / "fact"), str(tmp_path / "dim")
    V.create_table(
        spark.range(20).select(
            (F.col("id") % 4).alias("fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    V.create_table(
        spark.range(4).select(
            F.col("id").alias("fk"),
            (F.col("id") % 2).cast("string").alias("grp"),
        ),
        dimt,
    )
    dst = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, dst, ["grp"],
        {"n": ("count", None), "total": ("sum", "amount")},
        dims=[{"path": dimt, "keys": ["fk"]}],
    )
    # the dim evolves a reserved-named column, then a key moves
    V.merge_table(
        spark, dimt,
        spark.range(4).select(
            F.col("id").alias("fk"),
            (F.col("id") % 2).cast("string").alias("grp"),
            F.lit("boom").alias("__mv_sign"),
        ),
        ["fk"],
        when_matched="replace",
        schema_evolution=True,
    )
    V.update_table(
        spark, dimt, {"grp": F.lit("9")}, F.col("fk") == 0
    )
    with pytest.raises(ValueError, match="__mv"):
        MV.evolve_dimensions(spark, dst)
