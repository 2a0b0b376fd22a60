"""SQL surface (lakesql.py): every statement must land on the SAME
versioned-table state as the equivalent DataFrame-API call — parity is
asserted by running both against clones of one fixture and comparing
full row sets (the test_merge_clauses shapes, re-expressed as SQL).
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V
from aws_etl_project2_fiap_spark.lakesql import LakeSQL, SQLParseError


def _rows(spark, path):
    return sorted(tuple(r) for r in V.read_table(spark, path).collect())


def _fixture(spark, tmp_path, name):
    """Target table + delivery source with matched/unmatched keys."""
    tbl = str(tmp_path / name)
    V.create_table(
        spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0).alias("v"),
            F.lit("old").alias("tag"),
        ),
        tbl,
    )
    src = spark.range(50, 150).select(
        F.col("id").alias("k"),
        (F.col("id") * 10.0).alias("v"),
        F.lit("new").alias("tag"),
    )
    return tbl, src


def test_merge_replace_insert_parity(spark, tmp_path):
    t_sql, src = _fixture(spark, tmp_path, "t_sql")
    t_df, _ = _fixture(spark, tmp_path, "t_df")
    srcp = str(tmp_path / "src")
    V.create_table(src, srcp)

    V.merge_table(spark, t_df, src, ["k"], when_matched="replace")
    lk = LakeSQL(spark, {"tgt": t_sql, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _rows(spark, t_sql) == _rows(spark, t_df)


def test_merge_conditional_update_parity(spark, tmp_path):
    t_sql, src = _fixture(spark, tmp_path, "t_sql")
    t_df, _ = _fixture(spark, tmp_path, "t_df")
    srcp = str(tmp_path / "src")
    V.create_table(src, srcp)

    V.merge_table(
        spark, t_df, src, ["k"],
        when_matched=[
            (F.col("s.k") % 2 == 0, {"v": F.col("s.v") + F.col("t.v")})
        ],
        insert_unmatched=False,
    )
    lk = LakeSQL(spark, {"tgt": t_sql, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS a USING delta AS b ON a.k = b.k "
        "WHEN MATCHED AND b.k % 2 = 0 THEN UPDATE SET v = b.v + a.v"
    )
    assert _rows(spark, t_sql) == _rows(spark, t_df)


def test_merge_delete_and_by_source_parity(spark, tmp_path):
    t_sql, src = _fixture(spark, tmp_path, "t_sql")
    t_df, _ = _fixture(spark, tmp_path, "t_df")
    srcp = str(tmp_path / "src")
    V.create_table(src, srcp)

    V.merge_table(
        spark, t_df, src, ["k"],
        when_matched=[(F.col("s.k") % 3 == 0, "delete")],
        insert_unmatched=False,
        when_not_matched_by_source=[(F.col("t.k") < 10, "delete")],
    )
    lk = LakeSQL(spark, {"tgt": t_sql, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED AND s.k % 3 = 0 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 10 THEN DELETE"
    )
    assert _rows(spark, t_sql) == _rows(spark, t_df)


def test_merge_update_then_delete_idiom(spark, tmp_path):
    """Delta clause-order semantics: matched rows passing the UPDATE
    condition update; remaining matched rows passing the DELETE
    condition delete; everything else survives."""
    t_sql, src = _fixture(spark, tmp_path, "t_sql")
    srcp = str(tmp_path / "src")
    V.create_table(src, srcp)
    lk = LakeSQL(spark, {"tgt": t_sql, "delta": srcp})
    v0 = V.current_version(t_sql)
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET v = s.v "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # one statement, one merge, one history entry
    assert V.current_version(t_sql) == v0 + 1
    got = {r["k"]: (r["v"], r["tag"]) for r in
           V.read_table(spark, t_sql).collect()}
    # unmatched targets (k<50) survive untouched
    assert got[7] == (7.0, "old")
    # matched even keys updated in place
    assert got[50] == (500.0, "old")
    # matched odd keys deleted
    assert 51 not in got and 99 not in got
    # unmatched source rows inserted — INCLUDING odd keys: matched
    # clauses apply only to rows that matched at statement start
    assert got[120] == (1200.0, "new")
    assert got[121] == (1210.0, "new")
    assert len([k for k in got if k >= 100]) == 50


def test_merge_subquery_source(spark, tmp_path):
    t_sql, src = _fixture(spark, tmp_path, "t_sql")
    srcp = str(tmp_path / "src")
    V.create_table(src, srcp)
    lk = LakeSQL(spark, {"tgt": t_sql, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS t USING "
        "(SELECT k, v, tag FROM delta WHERE k < 60) AS s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["v"] for r in V.read_table(spark, t_sql).collect()}
    assert got[55] == 550.0 and got[61] == 61.0 and 120 not in got


def test_update_delete_parity(spark, tmp_path):
    t_sql, _ = _fixture(spark, tmp_path, "t_sql")
    t_df, _ = _fixture(spark, tmp_path, "t_df")

    V.update_table(
        spark, t_df, {"v": F.expr("v * 2 + 1")}, F.expr("k % 7 = 0")
    )
    V.delete_from(spark, t_df, F.expr("v > 150"))
    lk = LakeSQL(spark, {"tgt": t_sql})
    lk.sql("UPDATE tgt SET v = v * 2 + 1 WHERE k % 7 = 0")
    lk.sql("DELETE FROM tgt WHERE v > 150")
    assert _rows(spark, t_sql) == _rows(spark, t_df)


def test_select_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(10).select(F.col("id").alias("k")), tbl)
    V.append_table(
        spark.range(10, 20).select(F.col("id").alias("k")), tbl
    )
    lk = LakeSQL(spark, {"tt": tbl})
    assert lk.sql("SELECT count(*) AS n FROM tt").collect()[0]["n"] == 20
    assert (
        lk.sql("SELECT count(*) AS n FROM tt VERSION AS OF 1")
        .collect()[0]["n"] == 10
    )
    # joins resolve each leg independently
    n = lk.sql(
        "SELECT count(*) AS n FROM tt VERSION AS OF 1 "
        "JOIN tt b ON tt.k = b.k"
    ).collect()[0]["n"]
    assert n == 10
    # the grammar puts an alias after TABLESAMPLE: `tt` still names the
    # time-travelled read there
    assert lk.sql(
        "SELECT count(*) AS n FROM tt VERSION AS OF 1 "
        "TABLESAMPLE (100 PERCENT) WHERE tt.k < 5"
    ).collect()[0]["n"] == 5


def test_select_timestamp_as_of(spark, tmp_path):
    import datetime
    import time

    tbl = str(tmp_path / "t")
    V.create_table(spark.range(5).select(F.col("id").alias("k")), tbl)
    time.sleep(1.1)
    cut = datetime.datetime.now().isoformat()
    time.sleep(1.1)
    V.append_table(spark.range(5, 9).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    n = lk.sql(
        f"SELECT count(*) AS n FROM tt TIMESTAMP AS OF '{cut}'"
    ).collect()[0]["n"]
    assert n == 5


def test_restore_and_describe_history(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(10).select(F.col("id").alias("k")), tbl)
    V.append_table(spark.range(10, 20).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    lk.sql("RESTORE TABLE tt TO VERSION AS OF 1")
    assert V.read_table(spark, tbl).count() == 10
    hist = lk.sql("DESCRIBE HISTORY tt").collect()
    assert len(hist) >= 3  # create, append, restore
    assert {r["version"] for r in hist} >= {1, 2, 3}


def test_optimize_and_vacuum(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(10).select(F.col("id").alias("k")), tbl)
    for lo in (10, 20, 30):
        V.append_table(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")), tbl
        )
    lk = LakeSQL(spark, {"tt": tbl})
    lk.sql("OPTIMIZE tt")
    lk.sql("VACUUM tt RETAIN 1 VERSIONS")
    assert V.read_table(spark, tbl).count() == 40


def test_parse_errors_are_loud(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    with pytest.raises(SQLParseError):
        lk.sql("TRUNCATE TABLE tt")
    with pytest.raises(SQLParseError):
        lk.sql("MERGE INTO tt USING tt ON tt.k < tt.k WHEN MATCHED "
               "THEN DELETE")
    with pytest.raises(SQLParseError):
        lk.sql("UPDATE nope SET k = 1")
    # a t.-referencing condition in the UPDATE+DELETE idiom runs, with
    # Delta's result: the first clause whose condition holds applies
    lk.sql(
        "MERGE INTO tt AS t USING tt AS s ON t.k = s.k "
        "WHEN MATCHED AND t.k > 1 THEN UPDATE SET * "
        "WHEN MATCHED THEN DELETE"
    )
    assert [r["k"] for r in V.read_table(spark, tbl).collect()] == [2]
    assert V.current_version(tbl) == 2
    # a NOT MATCHED clause has no target row and a BY SOURCE clause no
    # source row: reading that side is rejected, as Spark and Delta do
    for clause in (
        "WHEN NOT MATCHED AND t.k > 1 THEN INSERT *",
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (t.k)",
        "WHEN NOT MATCHED BY SOURCE AND s.k > 1 THEN DELETE",
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = s.k",
    ):
        with pytest.raises(SQLParseError, match="cannot reference"):
            lk.sql(
                "MERGE INTO tt AS t USING tt AS s ON t.k = s.k " + clause
            )
    assert V.current_version(tbl) == 2


def test_set_values_cast_to_column_type(spark, tmp_path):
    """UPDATE SET, MERGE UPDATE SET and MERGE INSERT (cols) VALUES
    cast each value to its column's type, as INSERT and SQL store
    assignment do: ``v = s.v / 2`` on an int column writes
    ``CAST(s.v / 2 AS INT)`` in one new version, and the column stays
    int."""
    tbl, srcp = str(tmp_path / "t"), str(tmp_path / "s")
    rows = spark.range(0, 10).select(
        F.col("id").alias("k"), F.col("id").cast("int").alias("v")
    )
    V.create_table(rows, tbl)
    V.create_table(
        rows.filter(F.col("k") < 3).union(
            spark.createDataFrame([(21, 21)], "k long, v int")
        ),
        srcp,
    )
    lk = LakeSQL(spark, {"t": tbl, "s": srcp})
    lk.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v / 2 "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v / 4)"
    )
    assert V.current_version(tbl) == 2
    lk.sql("UPDATE t SET v = v / 2 WHERE k = 9")
    assert V.current_version(tbl) == 3
    assert {
        f.name: f.dataType.simpleString() for f in V.table_schema(tbl).fields
    } == {"k": "bigint", "v": "int"}
    got = {r["k"]: r["v"] for r in lk.sql("SELECT k, v FROM t").collect()}
    assert got == {0: 0, 1: 0, 2: 1, **{k: k for k in range(3, 9)},
                   9: 4, 21: 5}


def test_select_builds_without_a_job(spark, tmp_path, count_jobs):
    """Building a LakeSQL SELECT reads each table's schema from its
    manifest: no Spark job before an action."""
    tbl, _ = _fixture(spark, tmp_path, "t")
    lk = LakeSQL(spark, {"t": tbl})
    df, jobs = count_jobs(
        lambda: lk.sql("SELECT tag, count(*) AS n FROM t GROUP BY tag")
    )
    assert jobs == 0
    assert [tuple(r) for r in df.collect()] == [("old", 100)]


def test_merge_keeps_null_key_target_rows(spark, tmp_path):
    """A target row with a NULL merge key in the same file as a matched
    key survives a MERGE that rewrites that file."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.createDataFrame(
            [(None, 0.0), (1, 1.0), (2, 2.0)], "k long, v double"
        ).coalesce(1),
        tbl,
    )
    lk = LakeSQL(spark, {"tt": tbl})
    lk.sql(
        "MERGE INTO tt AS t "
        "USING (SELECT 1L AS k, 10.0D AS v UNION ALL SELECT 3L, 30.0D) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["v"] for r in V.read_table(spark, tbl).collect()}
    assert got == {None: 0.0, 1: 10.0, 2: 2.0, 3: 30.0}


def test_cli_lakesql_verb(spark, tmp_path, capsys):
    from aws_etl_project2_fiap_spark.__main__ import main

    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(10).select(F.col("id").alias("k"),
                               (F.col("id") * 1.0).alias("v")),
        tbl,
    )
    rc = main([
        "lakesql", "DELETE FROM tt WHERE k >= 5", "--table", f"tt={tbl}",
    ])
    assert rc == 0
    assert V.read_table(spark, tbl).count() == 5


def test_insert_select_and_values(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") * 1.0).alias("v")),
        tbl,
    )
    lk = LakeSQL(spark, {"tt": tbl})
    lk.sql("INSERT INTO tt SELECT k + 100 AS k, v * 2 AS v FROM tt")
    lk.sql("INSERT INTO tt VALUES (999, 1.5), (998, 2.5)")
    lk.sql("INSERT INTO tt (k, v) VALUES (500, 0.5)")
    got = {r["k"]: r["v"] for r in V.read_table(spark, tbl).collect()}
    assert got[103] == 6.0 and got[999] == 1.5 and got[500] == 0.5
    assert len(got) == 13


def test_ctas_and_refresh_matview(spark, tmp_path):
    from aws_etl_project2_fiap_spark.io import matview as MV

    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(100).select((F.col("id") % 5).alias("g"),
                                (F.col("id") * 1.0).alias("v")),
        tbl,
    )
    lk = LakeSQL(spark, {"src": tbl})
    ctas = str(tmp_path / "big")
    lk.sql(f"CREATE TABLE big LOCATION '{ctas}' AS "
           "SELECT g, v FROM src WHERE v >= 50")
    assert lk.sql("SELECT count(*) AS n FROM big").collect()[0]["n"] == 50
    # matview registered + refreshed through SQL
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, tbl, view, ["g"], {"total": ("sum", "v")}
    )
    V.append_table(
        spark.range(100, 120).select((F.col("id") % 5).alias("g"),
                                     (F.col("id") * 1.0).alias("v")),
        tbl,
    )
    lk.register("mv", view)
    r = lk.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r["strategy"] == "delta"
    exp = {
        x["g"]: x["total"]
        for x in V.read_table(spark, tbl).groupBy("g")
        .agg(F.sum("v").alias("total")).collect()
    }
    got = {
        x["g"]: float(x["total"])
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - float(exp[k])) < 1e-6


# -- round-7 review regression pins -----------------------------------


def test_unconditional_update_then_delete_rejected(spark, tmp_path):
    """An unconditional first WHEN MATCHED UPDATE followed by DELETE
    leaves the DELETE unreachable — Spark's parser rejects the shape
    (only the last MATCHED clause may omit its condition, as in Delta)
    before anything runs."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    with pytest.raises(
        ParseException, match="NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION"
    ):
        lk.sql(
            "MERGE INTO tt AS t USING tt AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET k = s.k "
            "WHEN MATCHED THEN DELETE"
        )
    assert V.current_version(tbl) == 1


def test_swapped_aliases_resolve_correctly(spark, tmp_path):
    """USING ... AS t with INTO ... AS s (the crossing pair): a
    sequential alias rewrite would turn the target reference into a
    source reference and commit wrong values — the single-pass rewrite
    must keep both sides straight."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(4).select(F.col("id").alias("k"),
                              (F.col("id") * 1.0).alias("v")),
        tbl,
    )
    srcp = str(tmp_path / "src")
    V.create_table(
        spark.range(4).select(F.col("id").alias("k"),
                              F.lit(100.0).alias("v")),
        srcp,
    )
    lk = LakeSQL(spark, {"tgt": tbl, "delta": srcp})
    # s = the TARGET alias, t = the SOURCE alias (deliberately crossed)
    lk.sql(
        "MERGE INTO tgt AS s USING delta AS t ON s.k = t.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v + t.v"
    )
    got = {r["k"]: r["v"] for r in V.read_table(spark, tbl).collect()}
    # target v (0..3) + source v (100) — NOT 200 (source+source) or
    # doubled-target
    assert got == {0: 100.0, 1: 101.0, 2: 102.0, 3: 103.0}


def test_select_literal_containing_table_name_untouched(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(3).select(F.col("id").alias("k"),
                              F.lit("go FROM tt now").alias("c")),
        tbl,
    )
    lk = LakeSQL(spark, {"tt": tbl})
    n = lk.sql(
        "SELECT count(*) AS n FROM tt WHERE c = 'go FROM tt now'"
    ).collect()[0]["n"]
    assert n == 3


def test_select_comma_join_resolves_both_tables(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    V.create_table(spark.range(5).select(F.col("id").alias("k")), a)
    V.create_table(spark.range(3).select(F.col("id").alias("k")), b)
    lk = LakeSQL(spark, {"ta": a, "tb": b})
    n = lk.sql(
        "SELECT count(*) AS n FROM ta, tb WHERE ta.k = tb.k"
    ).collect()[0]["n"]
    assert n == 3


def test_by_source_update_star_rejected(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE has no source row to read: Spark's
    grammar allows only DELETE or an explicit UPDATE SET there."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    for action in ("UPDATE SET *", "INSERT *"):
        with pytest.raises(ParseException, match="PARSE_SYNTAX_ERROR"):
            lk.sql(
                "MERGE INTO tt AS t USING tt AS s ON t.k = s.k "
                f"WHEN NOT MATCHED BY SOURCE THEN {action}"
            )
    assert V.current_version(tbl) == 1


def test_create_materialized_view_sql(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(100).select((F.col("id") % 4).alias("g"),
                                (F.col("id") * 1.0).alias("v")),
        tbl,
    )
    lk = LakeSQL(spark, {"src": tbl})
    view = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW mv LOCATION '{view}' AS "
        "SELECT g, count(*) AS n, sum(v) AS total FROM src GROUP BY g"
    )
    V.append_table(
        spark.range(100, 140).select((F.col("id") % 4).alias("g"),
                                     (F.col("id") * 2.0).alias("v")),
        tbl,
    )
    r = lk.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r["strategy"] == "delta"
    from aws_etl_project2_fiap_spark.io import matview as MV
    exp = {
        x["g"]: (x["n"], float(x["total"]))
        for x in V.read_table(spark, tbl).groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    got = {
        x["g"]: (x["n"], float(x["total"]))
        for x in MV.read_aggregate_view(spark, view).collect()
    }
    assert got == exp
    with pytest.raises(SQLParseError, match="group key or"):
        lk.sql(
            f"CREATE MATERIALIZED VIEW m2 LOCATION '{view}2' AS "
            "SELECT g, v + 1 AS w FROM src GROUP BY g"
        )


def test_matview_select_resolves_logical_columns(spark, tmp_path):
    """SELECT over a SQL-created matview must read the LOGICAL view
    (derived avg, hidden state internals, exact SUM NULL), not the raw
    state table."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.createDataFrame(
            [(1, 2.0), (1, 4.0), (2, None)], "g long, v double"
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"src": tbl})
    view = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW mv LOCATION '{view}' AS "
        "SELECT g, avg(v) AS a, sum(v) AS sv FROM src GROUP BY g"
    )
    rows = {r["g"]: (r["a"], r["sv"])
            for r in lk.sql("SELECT g, a, sv FROM mv").collect()}
    assert rows[1][0] == 3.0 and float(rows[1][1]) == 6.0
    assert rows[2] == (None, None)  # all-NULL group: SQL NULLs, not 0
    cols = lk.sql("SELECT * FROM mv").columns
    assert "__mv_cnt" not in cols and not any("__mv" in c for c in cols)
    # time travel on a view resolves through the LOGICAL reader too
    # (round 8: was a refusal) — v1 is the freshly-created state
    tt = {r["g"]: r["a"]
          for r in lk.sql("SELECT g, a FROM mv VERSION AS OF 1").collect()}
    assert tt[1] == 3.0 and "__mv_cnt" not in lk.sql(
        "SELECT * FROM mv VERSION AS OF 1"
    ).columns
    with pytest.raises(SQLParseError, match="duplicate aggregate"):
        lk.sql(
            f"CREATE MATERIALIZED VIEW m2 LOCATION '{view}2' AS "
            "SELECT g, sum(v) AS x, avg(v) AS x FROM src GROUP BY g"
        )


def test_alias_norm_preserves_string_literals(spark, tmp_path):
    """ADVICE r7: with target alias ``o``, an assignment like
    SET note = 'see o.admin' must keep its literal intact — the alias
    rewrite applies only to non-literal segments."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("x").alias("note")
        ),
        tbl,
    )
    srcp = str(tmp_path / "src")
    V.create_table(
        spark.range(0, 5).select(
            F.col("id").alias("k"), F.lit("s").alias("note")
        ),
        srcp,
    )
    lk = LakeSQL(spark, {"tgt": tbl, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS o USING delta AS s ON o.k = s.k "
        "WHEN MATCHED THEN UPDATE SET note = 'see o.admin'"
    )
    got = {r["k"]: r["note"] for r in V.read_table(spark, tbl).collect()}
    assert got[0] == "see o.admin"
    assert got[9] == "x"
    # both aliases in the condition are rewritten, the literal is not
    lk.sql(
        "MERGE INTO tgt AS o USING delta AS s ON o.k = s.k "
        "WHEN MATCHED AND o.k > s.k - 1 AND o.note = 'see o.admin' "
        "THEN UPDATE SET note = 'o.v and s.v stay'"
    )
    got = {r["k"]: r["note"] for r in V.read_table(spark, tbl).collect()}
    assert got[0] == "o.v and s.v stay" and got[4] == "o.v and s.v stay"
    assert got[9] == "x"


def test_merge_clause_conditions_read_the_target(spark, tmp_path):
    """Clause conditions may read the target row: the statement is one
    merge, so no clause re-reads a row an earlier clause updated, and
    the first clause whose condition holds applies (Delta). A bare
    column both sides carry is ambiguous, as in Spark, and commits
    nothing."""
    t_sql, src = _fixture(spark, tmp_path, "t_sql")
    srcp = str(tmp_path / "src")
    V.create_table(src, srcp)
    lk = LakeSQL(spark, {"tgt": t_sql, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED AND t.v >= 70 AND s.k % 2 = 0 "
        "THEN UPDATE SET v = s.v + t.v "
        "WHEN MATCHED AND t.tag = 'old' AND s.k % 3 = 0 THEN DELETE "
        "WHEN MATCHED AND t.k < 60 THEN UPDATE SET tag = 'low' "
        "WHEN NOT MATCHED AND s.k % 5 = 0 THEN INSERT *"
    )
    model = {k: (k * 1.0, "old") for k in range(100)}
    for k in range(50, 150):
        if k not in model:
            if k % 5 == 0:
                model[k] = (k * 10.0, "new")
        elif model[k][0] >= 70 and k % 2 == 0:
            model[k] = (k * 10.0 + model[k][0], "old")
        elif k % 3 == 0:
            del model[k]
        elif k < 60:
            model[k] = (model[k][0], "low")
    got = {r["k"]: (r["v"], r["tag"]) for r in
           V.read_table(spark, t_sql).collect()}
    assert got == model
    assert V.current_version(t_sql) == 2
    with pytest.raises(AnalysisException, match="AMBIGUOUS"):
        lk.sql(
            "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
            "WHEN MATCHED AND tag = 'old' THEN DELETE"
        )
    assert V.current_version(t_sql) == 2


def test_merge_from_wider_source_with_column_maps(spark, tmp_path):
    """The source-column check applies only when a clause reads whole
    source rows: UPDATE SET v = s.v from a source (k, v, ts) into a
    target (k, v, flag) runs, as in Delta; UPDATE SET * still needs
    matching columns."""
    import datetime

    tbl, srcp = str(tmp_path / "t"), str(tmp_path / "src")
    V.create_table(
        spark.createDataFrame(
            [(k, 0.0, True) for k in range(4)],
            "k long, v double, flag boolean",
        ),
        tbl,
    )
    V.create_table(
        spark.createDataFrame(
            [(k, 1.0 * k, datetime.datetime(2024, 1, 1)) for k in (2, 3, 9)],
            "k long, v double, ts timestamp",
        ),
        srcp,
    )
    lk = LakeSQL(spark, {"tgt": tbl, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v + 1)"
    )
    got = {r["k"]: (r["v"], r["flag"]) for r in
           V.read_table(spark, tbl).collect()}
    assert got == {0: (0.0, True), 1: (0.0, True), 2: (2.0, True),
                   3: (3.0, True), 9: (10.0, None)}
    with pytest.raises(ValueError, match="source columns"):
        lk.sql(
            "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET *"
        )


def test_dml_subqueries_bind_tables_at_statement_start(spark, tmp_path):
    """A subquery inside DELETE/UPDATE WHERE or a MERGE condition reads
    its table's version at statement start, not a view some earlier
    SELECT bound — and a table no SELECT has bound yet resolves."""
    tbl, oth, fresh = (str(tmp_path / n) for n in ("t", "o", "f"))
    V.create_table(spark.range(10).select(F.col("id").alias("k")), tbl)
    V.create_table(spark.range(1).select(F.col("id").alias("k")), oth)
    V.create_table(spark.range(8, 10).select(F.col("id").alias("k")), fresh)
    lk = LakeSQL(spark, {"tt": tbl, "oth": oth})
    assert lk.sql("SELECT count(*) AS n FROM oth").first()["n"] == 1
    V.append_table(spark.range(1, 5).select(F.col("id").alias("k")), oth)
    lk.sql("DELETE FROM tt WHERE k IN (SELECT k FROM oth)")
    assert sorted(r["k"] for r in V.read_table(spark, tbl).collect()) \
        == [5, 6, 7, 8, 9]
    # a time-travel read inside the subquery is spliced, its view dropped
    lk.sql("DELETE FROM tt WHERE k IN (SELECT k + 5 FROM oth VERSION AS OF 1)")
    assert not [
        t.name for t in spark.catalog.listTables() if "__v" in t.name
    ]
    lk.register("fresh", fresh)
    lk.sql(
        "MERGE INTO tt AS t USING oth AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.k IN (SELECT k FROM fresh) "
        "THEN DELETE"
    )
    assert sorted(r["k"] for r in V.read_table(spark, tbl).collect()) \
        == [6, 7]


def test_alter_rename_and_drop_column_sql(spark, tmp_path):
    """SQL spellings for the metadata-only column mapping verbs
    (test_versioned_mapping shapes): rename keeps data readable under
    the new name at a new version; drop hides the column."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 20).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0).alias("v"),
            F.lit("x").alias("extra"),
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    lk.sql("ALTER TABLE tgt RENAME COLUMN v TO amount")
    df = V.read_table(spark, tbl)
    assert "amount" in df.columns and "v" not in df.columns
    assert df.agg(F.sum("amount")).collect()[0][0] == sum(
        i * 1.0 for i in range(20)
    )
    # SELECT through the SQL surface resolves the new name
    got = lk.sql("SELECT sum(amount) AS s FROM tgt").collect()[0]["s"]
    assert float(got) == sum(i * 1.0 for i in range(20))
    lk.sql("ALTER TABLE tgt DROP COLUMN extra")
    assert "extra" not in V.read_table(spark, tbl).columns
    # both verbs were metadata-only: versions advanced, no data rewrite
    assert V.current_version(tbl) == 3


def test_alter_cluster_by_sql(spark, tmp_path):
    """SQL spelling for partition-spec evolution, including hidden-
    partitioning transforms; CLUSTER BY NONE un-clusters."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    lk.sql("ALTER TABLE tgt CLUSTER BY (bucket(4, k))")
    m = V._read_manifest(tbl, V.current_version(tbl))
    assert m["cluster_spec"]["cols"] == ["bucket(4,k)"]
    lk.sql("ALTER TABLE tgt CLUSTER BY NONE")
    m = V._read_manifest(tbl, V.current_version(tbl))
    assert not (m.get("cluster_spec") or {}).get("cols")
    # data untouched throughout
    assert V.read_table(spark, tbl).count() == 50


def test_create_table_clustered_by_sql(spark, tmp_path):
    """CTAS with CLUSTERED BY records the cluster spec at creation —
    the hidden-partitioning transforms parse through the top-level
    comma split (nested parens in bucket(8,k))."""
    src = str(tmp_path / "src")
    V.create_table(
        spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        ),
        src,
    )
    lk = LakeSQL(spark, {"src": src})
    out = str(tmp_path / "out")
    lk.sql(
        f"CREATE TABLE derived LOCATION '{out}' "
        f"CLUSTERED BY (bucket(8, k)) AS SELECT k, v FROM src"
    )
    m = V._read_manifest(out, V.current_version(out))
    assert m["cluster_spec"]["cols"] == ["bucket(8,k)"]
    assert sorted(
        tuple(r) for r in lk.sql("SELECT * FROM derived").collect()
    ) == _rows(spark, src)


def test_branch_sql_roundtrip(spark, tmp_path):
    """The WAP verbs in SQL: CREATE BRANCH stages invisibly, writes
    against the branch name stay off the base table, PUBLISH BRANCH
    lands them atomically, DROP BRANCH abandons."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    stg = str(tmp_path / "stage")
    lk.sql(f"CREATE BRANCH wip OF tgt LOCATION '{stg}'")
    lk.sql("INSERT INTO wip SELECT k + 100 AS k, v FROM tgt")
    # staged rows invisible on the base, visible on the branch
    assert lk.sql("SELECT count(*) AS n FROM tgt").collect()[0]["n"] == 10
    assert lk.sql("SELECT count(*) AS n FROM wip").collect()[0]["n"] == 20
    res = lk.sql("PUBLISH BRANCH wip").collect()[0]
    assert res["mode"] == "exact"
    assert V.read_table(spark, tbl).count() == 20
    assert "wip" not in lk.tables  # consumed and deregistered
    # DROP BRANCH abandons an unpublished stage without touching base
    stg2 = str(tmp_path / "stage2")
    lk.sql(f"CREATE BRANCH wip2 OF tgt LOCATION '{stg2}'")
    lk.sql("INSERT INTO wip2 SELECT k + 900 AS k, v FROM tgt")
    lk.sql("DROP BRANCH wip2")
    import os as _os

    assert not _os.path.exists(stg2)
    assert V.read_table(spark, tbl).count() == 20
    # and DROP BRANCH refuses a production table (abandon's guard)
    lk.register("prod", tbl)
    with pytest.raises(ValueError, match="not a stage"):
        lk.sql("DROP BRANCH prod")


def test_alter_constraint_sql(spark, tmp_path):
    """ALTER TABLE ADD/DROP CONSTRAINT in SQL: existing data validates
    at add time, later writes enforce the rule, drop lifts it."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(1, 20).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    lk.sql("ALTER TABLE tgt ADD CONSTRAINT v_pos CHECK (v > 0)")
    with pytest.raises(Exception, match="v_pos|constraint"):
        lk.sql("INSERT INTO tgt VALUES (99, -5.0)")
    # a constraint can't be born already broken
    with pytest.raises(Exception, match="k_big|constraint"):
        lk.sql("ALTER TABLE tgt ADD CONSTRAINT k_big CHECK (k > 100)")
    lk.sql("ALTER TABLE tgt DROP CONSTRAINT v_pos")
    lk.sql("INSERT INTO tgt VALUES (99, -5.0)")
    assert V.read_table(spark, tbl).count() == 20


def test_show_tables_and_describe_table(spark, tmp_path):
    """Session introspection: SHOW TABLES lists the registered
    bindings (matviews flagged); DESCRIBE TABLE shows the logical
    schema plus cluster-spec membership and CHECK constraints."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tbl,
        cluster_by=["bucket(4, k)"],
        constraints={"v_nonneg": "v >= 0"},
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    shown = {r["name"]: (r["location"], r["is_view"])
             for r in lk.sql("SHOW TABLES").collect()}
    assert shown == {"tgt": (tbl, False)}
    desc = {r["col_name"]: (r["data_type"], r["cluster"])
            for r in lk.sql("DESCRIBE TABLE tgt").collect()}
    assert desc["k"] == ("bigint", "bucket(4,k)")
    assert desc["v"][0] == "double" and desc["v"][1] == ""
    assert desc["constraint:v_nonneg"] == ("check", "v >= 0")
    # bare DESCRIBE <name> works too; DESCRIBE HISTORY still routes
    assert lk.sql("DESCRIBE tgt").count() == 3
    assert lk.sql("DESCRIBE HISTORY tgt").count() >= 1


def test_sql_script_multi_statement(spark, tmp_path):
    """sql_script: top-level semicolons split statements (literals and
    parens don't), they run in order, the last result returns — the
    paste-a-script ergonomic, also the CLI lakesql verb's entry."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("a;b").alias("note")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    out = lk.sql_script(
        "UPDATE tgt SET note = 'x;y' WHERE k < 3;\n"
        "DELETE FROM tgt WHERE k >= 8;\n"
        "SELECT count(*) AS n FROM tgt"
    )
    assert out.collect()[0]["n"] == 8
    got = {r["k"]: r["note"] for r in V.read_table(spark, tbl).collect()}
    assert got[0] == "x;y" and got[5] == "a;b"
    with pytest.raises(SQLParseError, match="empty"):
        lk.sql_script("  ;  ;  ")


def test_publish_branch_mode_merge_sql(spark, tmp_path):
    """PUBLISH BRANCH ... MODE merge: the base table advances under
    the branch; the three-way reconcile lands both sides' rows."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    stg = str(tmp_path / "stage")
    lk.sql(f"CREATE BRANCH wip OF tgt LOCATION '{stg}'")
    lk.sql("INSERT INTO wip SELECT k + 100 AS k, v FROM wip")
    # base advances underneath the stage
    lk.sql("INSERT INTO tgt SELECT k + 500 AS k, v FROM tgt")
    with pytest.raises(V.CommitConflict, match="advanced"):
        lk.sql("PUBLISH BRANCH wip")  # default MODE fail
    res = lk.sql("PUBLISH BRANCH wip MODE merge").collect()[0]
    assert res["mode"] == "merge"
    ks = {r["k"] for r in V.read_table(spark, tbl).collect()}
    assert ks == set(range(10)) | {k + 100 for k in range(10)} | {
        k + 500 for k in range(10)
    }


def test_matview_time_travel_sql(spark, tmp_path):
    """SELECT ... FROM <matview> VERSION AS OF n resolves through the
    logical reader at that version — state and spec travel together."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    src = str(tmp_path / "src")
    V.create_table(
        spark.range(0, 100).select(
            (F.col("id") % 5).alias("k"), (F.col("id") * 1.0).alias("x")
        ),
        src,
    )
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, src, view, ["k"], {"sx": ("sum", "x")}
    )
    v1 = V.current_version(view)
    V.append_table(
        spark.createDataFrame([(0, 1000.0)], "k long, x double"), src
    )
    MV.refresh_aggregate_view(spark, view)
    lk = LakeSQL(spark, {"v": view})
    lk.views.add("v")
    cur = {r["k"]: float(r["sx"]) for r in
           lk.sql("SELECT k, sx FROM v").collect()}
    old = {r["k"]: float(r["sx"]) for r in
           lk.sql(f"SELECT k, sx FROM v VERSION AS OF {v1}").collect()}
    assert cur[0] == old[0] + 1000.0
    assert cur[1] == old[1]


def test_refresh_matview_evolve_sql(spark, tmp_path):
    """REFRESH MATERIALIZED VIEW ... EVOLVE folds a dim move AND the
    fact delta in one SQL statement (the scheduled-refresher verb)."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    fact, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    V.create_table(
        spark.range(0, 100).select(
            (F.col("id") % 10).alias("fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("fk"),
            F.concat(F.lit("R"), (F.col("id") % 3).cast("string"))
            .alias("region"),
        ),
        dim,
    )
    view = str(tmp_path / "view")
    MV.create_aggregate_view(
        spark, fact, view, ["region"],
        {"rev": ("sum", "amount"), "n": ("count", None)},
        dims=[{"path": dim, "keys": ["fk"]}],
    )
    V.update_table(spark, dim, {"region": F.lit("R9")}, F.col("fk") < 2)
    V.append_table(
        spark.range(100, 120).select(
            (F.col("id") % 10).alias("fk"),
            (F.col("id") * 2.0).alias("amount"),
        ),
        fact,
    )
    lk = LakeSQL(spark, {"v": view})
    lk.views.add("v")
    # plain refresh refuses (stale dims), EVOLVE folds both
    with pytest.raises(MV.StaleDimensions):
        lk.sql("REFRESH MATERIALIZED VIEW v")
    lk.sql("REFRESH MATERIALIZED VIEW v EVOLVE")
    exp = {
        r["region"]: (float(r["rev"]), r["n"])
        for r in V.read_table(spark, fact)
        .join(V.read_table(spark, dim), "fk")
        .groupBy("region")
        .agg(F.sum("amount").alias("rev"), F.count("*").alias("n"))
        .collect()
    }
    got = {
        r["region"]: (float(r["rev"]), r["n"])
        for r in lk.sql("SELECT region, rev, n FROM v").collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k][0] - exp[k][0]) < 1e-6 and got[k][1] == exp[k][1]


def test_idiom_accepts_source_struct_fields_and_builtins(spark, tmp_path):
    """Review r8: a source-only struct-field condition (s.meta.flag)
    and parameterless builtins (current_date) must pass the idiom's
    source-only guard — only genuinely bare identifiers reject."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"),
            F.struct(F.lit("x").alias("flag")).alias("meta"),
        ),
        tbl,
    )
    srcp = str(tmp_path / "src")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 10.0).alias("v"),
            F.struct(F.lit("x").alias("flag")).alias("meta"),
        ),
        srcp,
    )
    lk = LakeSQL(spark, {"tgt": tbl, "delta": srcp})
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED AND s.meta.flag = 'x' AND s.k < 100 "
        "THEN UPDATE SET v = s.v "
        "WHEN MATCHED AND s.k % 2 = 1 THEN DELETE"
    )
    got = {r["k"]: r["v"] for r in V.read_table(spark, tbl).collect()}
    assert got[2] == 20.0  # updated via the struct-field condition


def test_describe_table_named_history_and_exact_cluster_match(
    spark, tmp_path
):
    """Review r8: DESCRIBE TABLE works for a table literally named
    'history', and cluster membership matches the spec's SOURCE column
    exactly (k must not report bucket(4,k2))."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("k2")
        ),
        tbl,
        cluster_by=["bucket(4, k2)"],
    )
    lk = LakeSQL(spark, {"history": tbl})
    desc = {r["col_name"]: r["cluster"]
            for r in lk.sql("DESCRIBE TABLE history").collect()}
    assert desc["k"] == "" and desc["k2"] == "bucket(4,k2)"
    assert lk.sql("DESCRIBE HISTORY history").count() >= 1


# -- round 9: star matview DDL, persistent catalog, EXPLAIN, ADVICE --


def _star_fixture(spark, tmp_path):
    fact, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    V.create_table(
        spark.range(0, 100).select(
            (F.col("id") % 10).alias("fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("fk"),
            F.concat(F.lit("R"), (F.col("id") % 3).cast("string"))
            .alias("region"),
        ),
        dim,
    )
    return fact, dim


def test_create_matview_star_dims_sql(spark, tmp_path):
    """VERDICT r8 #3: CREATE MATERIALIZED VIEW ... FROM fact JOIN dim
    ON fact.fk = dim.fk GROUP BY region parses onto
    create_aggregate_view(dims=...) — the declaration half of the
    EVOLVE verb that already existed. Parity with the Python surface's
    star shapes, then a dim move + fact append folds via EVOLVE."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    fact, dim = _star_fixture(spark, tmp_path)
    view = str(tmp_path / "mv")
    lk = LakeSQL(spark, {"fact": fact, "dim": dim})
    r = lk.sql(
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        "SELECT region, sum(amount) AS rev, count(*) AS n "
        "FROM fact JOIN dim ON fact.fk = dim.fk GROUP BY region"
    ).collect()[0]
    assert r["dims"] == "1"
    assert MV.view_meta(view)["dims"][0]["keys"] == ["fk"]
    # dim mutation + fact delta, folded by the SQL EVOLVE verb
    V.update_table(spark, dim, {"region": F.lit("R9")}, F.col("fk") < 2)
    V.append_table(
        spark.range(100, 120).select(
            (F.col("id") % 10).alias("fk"),
            (F.col("id") * 2.0).alias("amount"),
        ),
        fact,
    )
    lk.sql("REFRESH MATERIALIZED VIEW v EVOLVE")
    exp = {
        r["region"]: (float(r["rev"]), r["n"])
        for r in V.read_table(spark, fact)
        .join(V.read_table(spark, dim), "fk")
        .groupBy("region")
        .agg(F.sum("amount").alias("rev"), F.count("*").alias("n"))
        .collect()
    }
    got = {
        r["region"]: (float(r["rev"]), r["n"])
        for r in lk.sql("SELECT region, rev, n FROM v").collect()
    }
    assert got == exp


def test_create_matview_star_rejects_bad_joins(spark, tmp_path):
    fact, dim = _star_fixture(spark, tmp_path)
    lk = LakeSQL(spark, {"fact": fact, "dim": dim})
    view = str(tmp_path / "mv")
    with pytest.raises(SQLParseError, match="same-named"):
        lk.sql(
            f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
            "SELECT region, count(*) AS n "
            "FROM fact JOIN dim ON fact.fk = dim.id GROUP BY region"
        )
    with pytest.raises(SQLParseError, match="must join"):
        lk.sql(
            f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
            "SELECT region, count(*) AS n "
            "FROM fact JOIN dim ON other.fk = dim2.fk GROUP BY region"
        )
    with pytest.raises(SQLParseError, match="ON"):
        lk.sql(
            f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
            "SELECT region, count(*) AS n "
            "FROM fact JOIN dim GROUP BY region"
        )


def test_describe_matview_logical_schema(spark, tmp_path):
    """ADVICE r8: DESCRIBE on a registered matview must show the
    LOGICAL schema SELECT resolves (avg derived, state internals
    hidden), not the raw state table's __mv columns."""
    fact, dim = _star_fixture(spark, tmp_path)
    view = str(tmp_path / "mv")
    lk = LakeSQL(spark, {"fact": fact})
    lk.sql(
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        "SELECT fk, avg(amount) AS a, sum(amount) AS sv "
        "FROM fact GROUP BY fk"
    )
    rows = lk.sql("DESCRIBE v").collect()
    names = [r["col_name"] for r in rows]
    assert not any(n.startswith("__mv") for n in names)
    assert names[:3] == ["fk", "a", "sv"]
    marker = [r for r in rows if "materialized view" in r["col_name"]]
    assert marker and marker[0]["cluster"] == fact
    # DESCRIBE TABLE spells the same thing
    assert [r["col_name"] for r in lk.sql("DESCRIBE TABLE v").collect()] \
        == names


def test_idiom_guard_accepts_all_interval_units(spark, tmp_path):
    """ADVICE r8: week/millisecond/microsecond (+ plurals) and
    current_date are legal in an idiom condition — a real UPDATE+DELETE
    MERGE using every one of them runs; so does a condition reading
    the target, with Delta's first-clause-wins result, in one commit.
    (Spark's interval literal has no quarter unit: ``interval 3
    quarter`` is a ParseException.)"""
    import datetime

    tbl, srcp = str(tmp_path / "t"), str(tmp_path / "src")
    now = datetime.datetime.now()
    for path, v, flag in ((tbl, 0.0, True), (srcp, 1.0, False)):
        V.create_table(
            spark.createDataFrame(
                [(k, v, flag, now) for k in range(4)],
                "k long, v double, flag boolean, ts timestamp",
            ),
            path,
        )
    lk = LakeSQL(spark, {"tgt": tbl, "delta": srcp})
    units = " AND ".join(
        f"s.ts < current_timestamp + interval 3 {unit}"
        for unit in (
            "week", "weeks", "millisecond", "milliseconds",
            "microsecond", "microseconds",
        )
    )
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        f"WHEN MATCHED AND {units} AND s.ts > current_date - 7 "
        "AND `s`.`k` >= 0 "
        "THEN UPDATE SET v = s.v "
        "WHEN MATCHED AND s.k < 0 THEN DELETE"
    )
    got = {r["k"]: r["v"] for r in V.read_table(spark, tbl).collect()}
    assert got == {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0}
    version = V.current_version(tbl)
    lk.sql(
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED AND t.flag AND s.k < 2 THEN UPDATE SET v = s.v + 1 "
        "WHEN MATCHED THEN DELETE"
    )
    got = {r["k"]: r["v"] for r in V.read_table(spark, tbl).collect()}
    assert got == {0: 2.0, 1: 2.0}
    assert V.current_version(tbl) == version + 1


def test_lakesql_catalog_persists(spark, tmp_path):
    """VERDICT r8 #4: a file-backed catalog — bindings registered (or
    CTAS-created) by one LakeSQL survive into a NEW instance; SHOW
    TABLES and SELECT work after 'reconnecting'; unregister persists
    too."""
    fact, dim = _star_fixture(spark, tmp_path)
    cat = str(tmp_path / "catalog.json")
    lk = LakeSQL(spark, {"fact": fact}, catalog_path=cat)
    tbl2 = str(tmp_path / "small")
    lk.sql(
        f"CREATE TABLE small LOCATION '{tbl2}' AS "
        "SELECT fk, amount FROM fact WHERE fk < 3"
    )
    view = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        "SELECT fk, count(*) AS n FROM fact GROUP BY fk"
    )

    lk2 = LakeSQL(spark, catalog_path=cat)  # a fresh "connection"
    shown = {r["name"]: r["is_view"]
             for r in lk2.sql("SHOW TABLES").collect()}
    assert shown == {"fact": False, "small": False, "v": True}
    assert lk2.sql("SELECT count(*) AS n FROM small").collect()[0]["n"] \
        == 30
    # the view flag survived: SELECT resolves logical columns
    assert "__mv_cnt" not in lk2.sql("SELECT * FROM v").columns
    # DROP TABLE removes the BINDING (persisted), never the data
    lk2.sql("DROP TABLE small")
    lk3 = LakeSQL(spark, catalog_path=cat)
    assert "small" not in lk3.tables and "v" in lk3.views
    assert V.read_table(spark, tbl2).count() == 30  # data retained
    with pytest.raises(SQLParseError, match="IF EXISTS"):
        lk3.sql("DROP TABLE small")
    lk3.sql("DROP TABLE IF EXISTS small")  # no-op, no error
    # a catalog-less session is unchanged (in-memory, as before)
    assert LakeSQL(spark).tables == {}


def test_explain_select_and_merge(spark, tmp_path):
    """VERDICT r8 #6: EXPLAIN SELECT shows Spark's plan over the
    rewritten query; EXPLAIN MERGE dry-runs the probe phase and
    reports the pruned-probe markers (files pruned by stats, probe
    strategy, files-to-touch) WITHOUT mutating the table."""
    tbl = str(tmp_path / "orders")
    V.create_table(
        spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).repartition(16),
        tbl,
        cluster_by=["bucket(16,k)"],
        # pin the file count: the default derives from the session's
        # parallelism, and the files_matched < files_total assertion
        # below needs more files than matching buckets on ANY core
        # count (r13 — the test session dropped to local[4])
        num_files=16,
    )
    srcp = str(tmp_path / "delta")
    V.create_table(
        spark.range(0, 5).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        ),
        srcp,
    )
    lk = LakeSQL(spark, {"orders": tbl, "delta": srcp})
    plan = "\n".join(
        r[0] for r in lk.sql("EXPLAIN SELECT * FROM orders WHERE k = 3")
        .collect()
    )
    assert "Physical Plan" in plan
    before = V.current_version(tbl)
    r = lk.sql(
        "EXPLAIN MERGE INTO orders AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *"
    ).collect()[0]
    assert V.current_version(tbl) == before  # dry-run: no commit
    assert r["probe_strategy"] == "broadcast-semi"
    assert int(r["files_matched"]) < int(r["files_total"])
    assert int(r["files_after_stats"]) <= int(r["files_total"])
    assert int(r["files_reused"]) == (
        int(r["files_total"]) - int(r["files_matched"])
    )
    assert r["by_source_anti_probe"] == "False"
    # the real merge touches exactly the estimated files
    res = V.merge_table(
        spark, tbl, V.read_table(spark, srcp), ["k"],
        when_matched="replace", insert_unmatched=False,
    )
    assert res["files_touched"] == int(r["files_matched"])
    with pytest.raises(SQLParseError, match="EXPLAIN"):
        lk.sql("EXPLAIN VACUUM orders")
    # EXPLAIN UPDATE/DELETE: same discovery scan the verbs run, no
    # commit; the real UPDATE then touches exactly the estimate
    before = V.current_version(tbl)
    ru = lk.sql(
        "EXPLAIN UPDATE orders SET v = v + 1 WHERE k < 100"
    ).collect()[0]
    assert V.current_version(tbl) == before
    assert int(ru["rows_matched"]) == 100
    assert int(ru["files_matched"]) < int(ru["files_total"])
    real = V.update_table(
        spark, tbl, {"v": F.col("v") + 1}, F.col("k") < 100
    )
    assert real["files_touched"] == int(ru["files_matched"])
    rd = lk.sql("EXPLAIN DELETE FROM orders WHERE k < 0").collect()[0]
    assert int(rd["rows_matched"]) == 0 and int(rd["files_matched"]) == 0


def test_create_matview_star_accepts_qualified_columns(spark, tmp_path):
    """SQL users qualify star columns naturally (dim.region,
    sum(fact.amount)) — the parser strips qualifiers over tables in
    the FROM clause (the fold joins by column name); an unknown
    qualifier still fails loud."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    fact, dim = _star_fixture(spark, tmp_path)
    lk = LakeSQL(spark, {"fact": fact, "dim": dim})
    view = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        "SELECT dim.region, sum(fact.amount) AS rev, count(*) AS n "
        "FROM fact JOIN dim ON fact.fk = dim.fk GROUP BY dim.region"
    )
    meta = MV.view_meta(view)
    assert meta["group_by"] == ["region"]
    assert meta["aggs"]["rev"] == ["sum", "amount"]
    got = {r["region"]: r["n"]
           for r in lk.sql("SELECT region, n FROM v").collect()}
    assert sum(got.values()) == 100
    # an UNKNOWN qualifier is not stripped — it reaches Spark's
    # analyzer verbatim and fails loud (never silently rebound)
    with pytest.raises(Exception, match="other"):
        lk.sql(
            f"CREATE MATERIALIZED VIEW m2 LOCATION '{view}2' AS "
            "SELECT other.region, count(*) AS n "
            "FROM fact JOIN dim ON fact.fk = dim.fk "
            "GROUP BY other.region"
        )


def test_create_matview_star_shared_column_name(spark, tmp_path):
    """Review r9: a fact and dim sharing a non-key column name must be
    declarable when the user qualifies — qualified dim references
    become the dim's projection list, so the colliding dim column
    never enters the join unless asked for."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    fact, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    V.create_table(
        spark.range(0, 60).select(
            (F.col("id") % 6).alias("fk"),
            (F.col("id") * 1.0).alias("amount"),  # fact.amount
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 6).select(
            F.col("id").alias("fk"),
            F.concat(F.lit("R"), (F.col("id") % 2).cast("string"))
            .alias("region"),
            F.lit(-1.0).alias("amount"),  # colliding dim column
        ),
        dim,
    )
    lk = LakeSQL(spark, {"fact": fact, "dim": dim})
    view = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        "SELECT dim.region, sum(fact.amount) AS rev "
        "FROM fact JOIN dim ON fact.fk = dim.fk GROUP BY dim.region"
    )
    meta = MV.view_meta(view)
    assert meta["dims"][0]["select"] == ["region"]  # pruned projection
    got = {r["region"]: float(r["rev"])
           for r in lk.sql("SELECT region, rev FROM v").collect()}
    assert got["R0"] > 0 and got["R1"] > 0  # fact.amount, not the -1s


def test_create_matview_keys_only_dim_refs_project_keys(spark, tmp_path):
    """ADVICE r9: when the ONLY qualified dim references are the join
    keys, refs - keys is EMPTY — that must still mean 'project keys
    only' ([]), not 'no projection' (None): the old falsy check joined
    the FULL dim, reintroducing the fact/dim name-collision the
    projection exists to prevent."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    fact, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    V.create_table(
        spark.range(0, 60).select(
            (F.col("id") % 6).alias("fk"),
            (F.col("id") * 1.0).alias("amount"),  # fact.amount
        ),
        fact,
    )
    V.create_table(
        spark.range(0, 6).select(
            F.col("id").alias("fk"),
            F.lit(-1.0).alias("amount"),  # colliding dim column
        ),
        dim,
    )
    lk = LakeSQL(spark, {"fact": fact, "dim": dim})
    view = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        "SELECT dim.fk, sum(fact.amount) AS rev "
        "FROM fact JOIN dim ON fact.fk = dim.fk GROUP BY dim.fk"
    )
    meta = MV.view_meta(view)
    assert meta["dims"][0]["select"] == []  # keys-only projection
    got = {r["fk"]: float(r["rev"])
           for r in lk.sql("SELECT fk, rev FROM v").collect()}
    assert len(got) == 6 and all(v > 0 for v in got.values())
    # the projection survives the refresh path too (metadata
    # round-trip: [] must not collapse to None)
    V.append_table(
        spark.range(60, 66).select(
            (F.col("id") % 6).alias("fk"),
            (F.col("id") * 1.0).alias("amount"),
        ),
        fact,
    )
    out = MV.refresh_aggregate_view(spark, view)
    assert out["groups_changed"] > 0
    got2 = {r["fk"]: float(r["rev"])
            for r in lk.sql("SELECT fk, rev FROM v").collect()}
    assert all(got2[k] > got[k] for k in got)


def test_malformed_catalog_file_fails_loud(spark, tmp_path):
    """ADVICE r9: a parseable-but-structurally-wrong catalog file gets
    the same fix-or-remove SQLParseError as an unparseable one — not a
    raw KeyError/AttributeError from inside the load loop."""
    import json

    cat = str(tmp_path / "catalog.json")
    for bad in (
        [1, 2],                                # not a dict
        {"tables": ["x"]},                     # tables not a dict
        {"tables": {"t": "notadict"}},         # rec not a dict
        {"tables": {"t": {"view": True}}},     # rec missing path
        {"tables": {"t": {"path": 7}}},        # path not a string
    ):
        with open(cat, "w") as fh:
            json.dump(bad, fh)
        with pytest.raises(SQLParseError, match="malformed"):
            LakeSQL(spark, catalog_path=cat)
    # unparseable keeps its own message
    with open(cat, "w") as fh:
        fh.write("{nope")
    with pytest.raises(SQLParseError, match="unreadable"):
        LakeSQL(spark, catalog_path=cat)


def test_explain_merge_reports_null_source_keys(spark, tmp_path):
    """ADVICE r9: EXPLAIN MERGE runs the null-merge-key probe the real
    MERGE enforces and REPORTS it (source_null_keys) instead of
    raising — the dry-run shows the plan AND flags that execution
    would reject this source."""
    tbl, _ = _fixture(spark, tmp_path, "t")
    srcp = str(tmp_path / "src")
    V.create_table(
        spark.range(0, 5).select(
            F.when(F.col("id") == 3, None).otherwise(F.col("id"))
            .alias("k"),
            (F.col("id") * 10.0).alias("v"),
            F.lit("new").alias("tag"),
        ),
        srcp,
    )
    lk = LakeSQL(spark, {"tgt": tbl, "delta": srcp})
    stmt = (
        "MERGE INTO tgt AS t USING delta AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    plan = lk.sql("EXPLAIN " + stmt).collect()[0].asDict()
    assert plan["source_null_keys"] == "True"
    with pytest.raises(ValueError, match="NULL in merge key"):
        lk.sql(stmt)
    # a clean source reports False
    clean = str(tmp_path / "clean")
    V.create_table(
        spark.range(0, 5).select(
            F.col("id").alias("k"),
            (F.col("id") * 10.0).alias("v"),
            F.lit("new").alias("tag"),
        ),
        clean,
    )
    lk.register("delta2", clean)
    plan2 = lk.sql(
        "EXPLAIN MERGE INTO tgt AS t USING delta2 AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET *"
    ).collect()[0].asDict()
    assert plan2["source_null_keys"] == "False"


def test_alter_add_column_sql(spark, tmp_path):
    """VERDICT r9 gap #1: SQL ALTER TABLE ADD COLUMN completes the
    column-ops triad — metadata-only declare, typed-NULL reads, and
    the next INSERT can carry real values."""
    tbl, _ = _fixture(spark, tmp_path, "t")
    lk = LakeSQL(spark, {"t": tbl})
    out = lk.sql("ALTER TABLE t ADD COLUMN score decimal(10,2)") \
        .collect()[0].asDict()
    assert out["added"] == "score" and out["type"] == "decimal(10,2)"
    got = lk.sql("SELECT count(*) AS n FROM t WHERE score IS NULL") \
        .collect()[0]["n"]
    assert got == 100
    lk.sql(
        "INSERT INTO t VALUES (200, 5.0, 'new', CAST(1.25 AS "
        "DECIMAL(10,2)))"
    )
    assert lk.sql(
        "SELECT count(*) AS n FROM t WHERE score = 1.25"
    ).collect()[0]["n"] == 1
    # unparseable type fails loud at declare time
    with pytest.raises(ValueError, match="cannot parse|suspicious"):
        lk.sql("ALTER TABLE t ADD COLUMN bad notatype(")


def test_select_branch_of_base(spark, tmp_path):
    """VERDICT r9 gap #2: a WAP branch is SQL-readable THROUGH the
    base table's name (Iceberg's FROM t VERSION AS OF 'wip'), with the
    base↔branch relationship verified from the stage's own cloned_from
    record."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    stg = str(tmp_path / "stage")
    lk.sql(f"CREATE BRANCH wip OF tgt LOCATION '{stg}'")
    lk.sql("INSERT INTO wip SELECT k + 100 AS k, v FROM tgt")
    # the branch read resolves to the stage; the base is untouched
    assert lk.sql("SELECT count(*) AS n FROM tgt VERSION AS OF 'wip'") \
        .collect()[0]["n"] == 20
    # `t@b` and `t BRANCH b` are not Spark SQL: Spark's parser rejects
    # them
    from pyspark.errors import ParseException

    with pytest.raises(ParseException):
        lk.sql("SELECT count(*) AS n FROM tgt@wip")
    with pytest.raises(ParseException):
        lk.sql("SELECT count(*) AS n FROM tgt BRANCH wip")
    assert lk.sql("SELECT count(*) AS n FROM tgt") \
        .collect()[0]["n"] == 10
    # a branch joins its base in one statement (staged-vs-prod audit)
    diff = lk.sql(
        "SELECT count(*) AS n FROM tgt VERSION AS OF 'wip' b "
        "LEFT JOIN tgt p ON b.k = p.k WHERE p.k IS NULL"
    ).collect()[0]["n"]
    assert diff == 10
    # unknown branch, and a branch of a DIFFERENT base, fail loud
    with pytest.raises(SQLParseError, match="no branch"):
        lk.sql("SELECT * FROM tgt VERSION AS OF 'nope'")
    other = str(tmp_path / "other")
    V.create_table(
        spark.range(3).select(F.col("id").alias("k")), other
    )
    lk.register("oth", other)
    with pytest.raises(SQLParseError, match="not a branch of"):
        lk.sql("SELECT * FROM oth VERSION AS OF 'wip'")
    # a plain alias named `branch` still parses as an alias
    assert lk.sql(
        "SELECT count(*) AS n FROM tgt branch JOIN tgt b "
        "ON branch.k = b.k"
    ).collect()[0]["n"] == 10


def test_select_branch_survives_vacuum_and_keyword_aliases(
    spark, tmp_path
):
    """Review r10: cloned_from is inherited manifest state, so a branch
    read still resolves after vacuum dropped the stage's v1; a table
    aliased `branch` followed by EXCEPT parses as an alias."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tgt": tbl})
    stg = str(tmp_path / "stage")
    lk.sql(f"CREATE BRANCH wip OF tgt LOCATION '{stg}'")
    lk.sql("INSERT INTO wip SELECT k + 100 AS k, v FROM tgt")
    lk.sql("INSERT INTO wip SELECT k + 200 AS k, v FROM tgt")
    V.vacuum(stg, keep_last=1)  # drops v1 + v2 manifests
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        V._read_manifest(stg, 1)
    assert lk.sql("SELECT count(*) AS n FROM tgt VERSION AS OF 'wip'") \
        .collect()[0]["n"] == 30
    # alias literally named `branch` before a set operator
    assert lk.sql(
        "SELECT k FROM tgt branch EXCEPT SELECT k + 1000 AS k FROM tgt"
    ).count() == 10
    # ADVICE r10: a PLAIN table (no cloned_from anywhere) whose v1 was
    # ALSO vacuumed, named as a branch — the cloned_from=None fallback
    # must fire the 'not a branch of' SQLParseError, not leak the
    # fallback's FileNotFoundError
    plain = str(tmp_path / "plain")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), plain)
    V.append_table(
        spark.range(3, 6).select(F.col("id").alias("k")), plain
    )
    V.vacuum(plain, keep_last=1)
    with _pt.raises(FileNotFoundError):
        V._read_manifest(plain, 1)
    lk.register("plain", plain)
    with _pt.raises(SQLParseError, match="not a branch of"):
        lk.sql("SELECT * FROM tgt VERSION AS OF 'plain'")


def test_lsh_portable_oracle_nan_guard():
    """Review r10: a zero embedding makes DuckDB's cosine NaN, which
    sorts ABOVE any threshold — the portable oracle must suppress it,
    mirroring the Arrow scorer's zero-norm handling (sims stay 0)."""
    import duckdb

    from aws_etl_project2_fiap_spark.workload import (
        _hyperplane_pairs_oracle,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        "SELECT 1::BIGINT AS vec_id,"
        " list_transform(range(64), x -> 0.5::FLOAT) AS embedding "
        "UNION ALL SELECT 2,"
        " list_transform(range(64), x -> 0.5::FLOAT) "
        "UNION ALL SELECT 3,"
        " list_transform(range(64), x -> 0.0::FLOAT)"  # zero vector
    )
    rows = con.sql(_hyperplane_pairs_oracle(6, 8, 0.4)).fetchall()
    # the identical pair survives; no NaN pair involving vec 3 leaks
    assert (1, 2, 1.0) in rows
    assert all(3 not in (r[0], r[1]) for r in rows)


def test_show_create_table_and_view(spark, tmp_path):
    """SHOW CREATE TABLE (round 10): reconstruction DDL from the
    current manifest — columns + types (including a declared-only ADD
    COLUMN), CLUSTERED BY, LOCATION, one ALTER per constraint; a
    matview reconstructs its CREATE MATERIALIZED VIEW with dims
    reverse-resolved to registered names."""
    fact, dim = _star_fixture(spark, tmp_path)
    lk = LakeSQL(spark, {"fact": fact, "dim": dim})
    lk.sql("ALTER TABLE fact CLUSTER BY (fk)")
    lk.sql("ALTER TABLE fact ADD CONSTRAINT amt_pos CHECK (amount >= 0)")
    lk.sql("ALTER TABLE fact ADD COLUMN note string")
    stmts = [r["create_stmt"]
             for r in lk.sql("SHOW CREATE TABLE fact").collect()]
    assert stmts[0] == (
        f"CREATE TABLE fact (fk bigint, amount double, note string) "
        f"CLUSTERED BY (fk) LOCATION '{fact}'"
    )
    assert stmts[1] == (
        "ALTER TABLE fact ADD CONSTRAINT amt_pos CHECK (amount >= 0)"
    )
    view = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        "SELECT dim.region, sum(fact.amount) AS rev "
        "FROM fact JOIN dim ON fact.fk = dim.fk GROUP BY dim.region"
    )
    [vstmt] = [r["create_stmt"]
               for r in lk.sql("SHOW CREATE TABLE v").collect()]
    assert vstmt == (
        f"CREATE MATERIALIZED VIEW v LOCATION '{view}' AS "
        f"SELECT region, sum(amount) AS rev FROM fact "
        f"JOIN dim ON fact.fk = dim.fk GROUP BY region"
    )
    # the reconstructed view DDL is itself parseable (re-runnable)
    lk.sql(vstmt.replace("VIEW v ", "VIEW v2 ").replace(view, view + "2"))
    assert "v2" in lk.views
    with pytest.raises(SQLParseError, match="SHOW"):
        lk.sql("SHOW GRANTS")


def test_changes_tvf(spark, tmp_path):
    """SELECT ... FROM CHANGES(t, from[, to]) — the change-data-feed
    TVF (VERDICT r10 #4): parses onto io/versioned.table_changes with
    version or timestamp bounds; `to` defaults to current."""
    import datetime as dt
    import time

    tbl = str(tmp_path / "t")
    # one row per file (range-clustered on k, num_files pinned): the
    # CHANGES feed derives deletes from rewritten files, so the counts
    # below are only layout-independent when no file mixes deleted and
    # surviving rows (r13 — round-robin repartition is NOT even under
    # few cores, so the session's core count must not decide this)
    V.create_table(
        spark.range(10).select(F.col("id").alias("k")), tbl,
        cluster_by=["k"], num_files=10,
    )  # v1
    V.append_table(
        spark.range(10, 15).select(F.col("id").alias("k")), tbl
    )  # v2: +5 inserts
    time.sleep(1.1)
    cut = dt.datetime.now().isoformat()  # between v2 and v3
    time.sleep(1.1)
    V.delete_from(spark, tbl, F.col("k") < 3)  # v3: 3 deletes
    lk = LakeSQL(spark, {"tt": tbl})
    got = {
        (r["_change_type"], r["n"])
        for r in lk.sql(
            "SELECT _change_type, count(*) AS n FROM CHANGES(tt, 1, 3) "
            "GROUP BY _change_type"
        ).collect()
    }
    assert got == {("insert", 5), ("delete", 3)}
    # `to` defaults to current; TABLE_CHANGES and a quoted name both
    # parse (the Delta spelling); the feed joins like any relation
    assert (
        lk.sql("SELECT count(*) AS n FROM TABLE_CHANGES('tt', 2)")
        .collect()[0]["n"] == 3
    )
    n = lk.sql(
        "SELECT count(*) AS n FROM CHANGES(tt, 1, 2) c "
        "JOIN tt b ON c.k = b.k"
    ).collect()[0]["n"]
    assert n == 5
    # timestamp bounds resolve through version_at (same rule as
    # TIMESTAMP AS OF): a cut between v2 and v3 bounds the feed at v2
    assert (
        lk.sql(f"SELECT count(*) AS n FROM CHANGES(tt, 1, '{cut}')")
        .collect()[0]["n"] == 5
    )
    # SQL result == the DataFrame API, row for row
    sql_rows = sorted(
        tuple(r) for r in lk.sql("SELECT * FROM CHANGES(tt, 1, 3)").collect()
    )
    api_rows = sorted(
        tuple(r) for r in V.table_changes(spark, tbl, 1, 3).collect()
    )
    assert sql_rows == api_rows


def test_changes_tvf_errors(spark, tmp_path):
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(5).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    with pytest.raises(SQLParseError, match="not a registered table"):
        lk.sql("SELECT * FROM CHANGES(nope, 1, 1)")
    with pytest.raises(SQLParseError, match="bounds"):
        lk.sql("SELECT * FROM CHANGES(tt, 1, 99)")
    with pytest.raises(SQLParseError, match="bounds"):
        lk.sql("SELECT * FROM CHANGES(tt, 0, 1)")
    # a materialized view has no file-diff feed
    mv = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW m LOCATION '{mv}' AS "
        "SELECT k, count(*) AS n FROM tt GROUP BY k"
    )
    with pytest.raises(SQLParseError, match="materialized views"):
        lk.sql("SELECT * FROM CHANGES(m, 1, 1)")
    # quoted DATA that merely looks like the TVF stays data: neither
    # rewritten nor bounds-checked (review r11 — the raw-text pass
    # must respect string literals like pass 2 does)
    assert lk.sql(
        "SELECT count(*) AS n FROM tt "
        "WHERE 'see CHANGES(tt, 1, 99)' <> ''"
    ).collect()[0]["n"] == 5
    # same guard for the TIMESTAMP AS OF raw-text pass: without it
    # this literal's tail plus the next quote parse as a timestamp
    assert lk.sql(
        "SELECT count(*) AS n FROM tt "
        "WHERE 'FROM tt TIMESTAMP AS OF ' <> 'x'"
    ).collect()[0]["n"] == 5


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL t — the one-row storage summary (round 11):
    manifest + footer facts only, consistent before/after a DV delete
    and a clustered rewrite; matviews report their state table with
    the source marked."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        ),
        tbl,
    )
    V.append_table(
        spark.range(100, 150).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        ),
        tbl,
    )
    V.delete_from(spark, tbl, F.col("k") < 10, mode="dv")
    lk = LakeSQL(spark, {"tt": tbl})
    d = lk.sql("DESCRIBE DETAIL tt").collect()[0].asDict()
    assert d["name"] == "tt" and d["format"] == "versioned-parquet"
    assert int(d["version"]) == 3
    assert int(d["num_rows"]) == 150  # physical rows (pre-DV)
    assert int(d["dv_deleted_rows"]) == 10
    assert int(d["num_deletion_vectors"]) >= 1
    assert int(d["num_files"]) >= 2
    assert int(d["size_bytes"]) > 0
    assert int(d["retained_versions"]) == 3
    # visible = physical - dv'd, consistent with the actual read
    assert (
        int(d["num_rows"]) - int(d["dv_deleted_rows"])
        == V.read_table(spark, tbl).count()
    )
    # a declared cluster spec surfaces; compaction materializes DVs
    lk.sql("ALTER TABLE tt CLUSTER BY (bucket(4, k))")
    lk.sql("OPTIMIZE tt")
    d2 = lk.sql("DESCRIBE DETAIL tt").collect()[0].asDict()
    assert "k" in d2["cluster_by"]
    assert int(d2["dv_deleted_rows"]) == 0
    # a matview reports its state table, flagged with its source
    mv = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW m LOCATION '{mv}' AS "
        "SELECT g, count(*) AS n FROM tt GROUP BY g"
    )
    dm = lk.sql("DESCRIBE DETAIL m").collect()[0].asDict()
    assert dm["format"] == "materialized-view"
    assert dm["source"] == tbl
    with pytest.raises(SQLParseError, match="DESCRIBE"):
        lk.sql("DESCRIBE DETAIL tt extra")


def test_clone_sql_shallow_and_deep(spark, tmp_path):
    tbl, _ = _fixture(spark, tmp_path, "base")
    lk = LakeSQL(spark, {"base": tbl})
    # advance the source so VERSION AS OF has something to pin
    lk.sql("UPDATE base SET tag = 'v2' WHERE k < 10")
    before = _rows(spark, tbl)

    # shallow clone of the CURRENT version: zero data files copied
    fork = str(tmp_path / "fork")
    res = lk.sql(
        f"CREATE TABLE fork CLONE base LOCATION '{fork}'"
    ).collect()[0].asDict()
    assert res["mode"] == "shallow" and int(res["source_version"]) == 2
    assert _rows(spark, fork) == before
    assert not list((tmp_path / "fork").glob("_data/b_*/*.parquet"))
    # the clone is independently writable; the source is untouched
    lk.sql("DELETE FROM fork WHERE k >= 50")
    assert len(_rows(spark, fork)) == 50
    assert _rows(spark, tbl) == before

    # deep clone pinned to v1: pre-update rows, own data pool
    fork1 = str(tmp_path / "fork1")
    res1 = lk.sql(
        f"CREATE TABLE fork1 DEEP CLONE base VERSION AS OF 1 "
        f"LOCATION '{fork1}'"
    ).collect()[0].asDict()
    assert res1["mode"] == "deep" and int(res1["source_version"]) == 1
    assert _rows(spark, fork1) == sorted(
        tuple(r)
        for r in V.read_table(spark, tbl, version=1).collect()
    )
    assert list((tmp_path / "fork1").glob("_data/b_*/*.parquet"))

    # the clone reads through SELECT like any registered table
    n = lk.sql("SELECT count(*) AS n FROM fork1").collect()[0]["n"]
    assert n == 100

    # CHECK constraints travel with clones (both modes) — a fork whose
    # writes dodge the source's audits would be a silent gap
    lk.sql("ALTER TABLE base ADD CONSTRAINT nonneg CHECK (v >= 0)")
    for mode, loc in (("", "forkc"), ("DEEP ", "forkcd")):
        p = str(tmp_path / loc)
        lk.sql(f"CREATE TABLE {loc} {mode}CLONE base LOCATION '{p}'")
        assert V.table_constraints(p) == {"nonneg": "v >= 0"}
        with pytest.raises(V.ConstraintViolation):
            lk.sql(f"INSERT INTO {loc} VALUES (999, -5.0, 'bad')")


def test_clone_sql_errors_are_loud(spark, tmp_path):
    tbl, _ = _fixture(spark, tmp_path, "base")
    lk = LakeSQL(spark, {"base": tbl})
    dst = str(tmp_path / "dst")
    with pytest.raises(SQLParseError, match="not a registered table"):
        lk.sql(f"CREATE TABLE c CLONE ghost LOCATION '{dst}'")
    mv = str(tmp_path / "mv")
    lk.sql(
        f"CREATE MATERIALIZED VIEW m LOCATION '{mv}' AS "
        "SELECT tag, count(*) AS n FROM base GROUP BY tag"
    )
    with pytest.raises(SQLParseError, match="materialized views"):
        lk.sql(f"CREATE TABLE c CLONE m LOCATION '{dst}'")
    # colliding destination fails loud (no silent overwrite)
    lk.sql(f"CREATE TABLE c CLONE base LOCATION '{dst}'")
    with pytest.raises(FileExistsError):
        lk.sql(f"CREATE TABLE c2 CLONE base LOCATION '{dst}'")
    # out-of-range version fails inside the versioned layer
    with pytest.raises(FileNotFoundError):
        lk.sql(
            f"CREATE TABLE c3 CLONE base VERSION AS OF 99 "
            f"LOCATION '{tmp_path / 'dst99'}'"
        )


# -- r12 hardening: comments and quoted identifiers (VERDICT r11 #6) --


def test_comment_mentions_are_never_rewritten(spark, tmp_path):
    """A table name or CHANGES(...) inside -- or /* */ comments is
    comment text, not a reference: no temp-view side effect, no
    SQLParseError from the CHANGES validator, and the statement runs."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    pre = {v.name for v in spark.catalog.listTables() if "__ch_" in v.name}
    n = lk.sql(
        "SELECT count(*) AS n -- CHANGES(tt, 99, 100) FROM tt\n"
        "FROM tt /* also FROM tt VERSION AS OF 77 */"
    ).collect()[0]["n"]
    assert n == 3
    # the commented CHANGES bounds (99..100) would have raised if the
    # TVF pass had seen them; and no NEW __ch_ view may have been
    # minted by this statement (other tests in the shared session may
    # legitimately have their own)
    post = {v.name for v in spark.catalog.listTables() if "__ch_" in v.name}
    assert post == pre


def test_comment_apostrophe_does_not_flip_literal_parity(spark, tmp_path):
    """An apostrophe inside a comment must not invert the quote-parity
    guard: the real table reference AFTER the comment still resolves
    (r11's raw-text passes counted that apostrophe and skipped it)."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(4).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    n = lk.sql(
        "SELECT count(*) AS n -- don't trip the guard\n"
        "FROM tt VERSION AS OF 1"
    ).collect()[0]["n"]
    assert n == 4


def test_literal_containing_comment_markers_stays_data(spark, tmp_path):
    """-- and /* inside a string literal are data: the literal must
    survive masking byte-for-byte."""
    tbl = str(tmp_path / "t")
    V.create_table(
        spark.range(3).select(
            F.col("id").alias("k"), F.lit("a -- /* b").alias("c")
        ),
        tbl,
    )
    lk = LakeSQL(spark, {"tt": tbl})
    n = lk.sql(
        "SELECT count(*) AS n FROM tt WHERE c = 'a -- /* b'"
    ).collect()[0]["n"]
    assert n == 3


def test_backtick_quoted_registered_name_resolves(spark, tmp_path):
    """A backtick-quoted registered name resolves as Spark resolves any
    quoted identifier: it reads the table's rows."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    assert lk.sql("SELECT count(*) AS n FROM `tt`").collect()[0]["n"] == 3
    # an UNregistered backticked name is not ours — Spark's own error
    # (or resolution, for real catalog tables) applies unchanged
    spark.range(2).createOrReplaceTempView("native_v")
    assert lk.sql(
        "SELECT count(*) AS n FROM `native_v`"
    ).collect()[0]["n"] == 2


def test_mask_comments_edge_cases_unit():
    """Pure-function pins for the review-r12 masker fixes: double-
    quoted literals, backslash escapes, nested bracketed comments
    (SPARK-28880), and length preservation."""
    from aws_etl_project2_fiap_spark.lakesql import _mask_comments as M

    # double-quoted literal containing -- survives byte-for-byte
    q = 'SELECT * FROM t WHERE c = "a -- b"'
    assert M(q) == q
    # backslash-escaped quote does not end the literal
    q = r"SELECT 'it\'s--data' AS x"
    assert M(q) == q
    # doubled-quote escape inside a literal
    q = "SELECT 'a''--b' AS x"
    assert M(q) == q
    # nested bracketed comment blanks as ONE comment, nothing leaks
    q = "SELECT 1 /* o /* i */ tail */ FROM t"
    assert M(q) == q.replace("/* o /* i */ tail */", " " * 20)
    assert "tail" not in M(q) and "*/" not in M(q)
    # line comment blanks to (not including) the newline
    assert M("SELECT 1 -- c'x\nFROM t") == "SELECT 1       \nFROM t"
    # length always preserved
    for s in ("a /* unterminated", "-- only", "'lit -- /*'", 'x "y--z"'):
        assert len(M(s)) == len(s)


def test_leading_comment_and_script_semicolon_in_comment(spark, tmp_path):
    """A leading comment must not become the dispatcher's head word,
    and a ';' inside a comment must not split a script statement."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    assert lk.sql(
        "-- header comment\nSELECT count(*) AS n FROM tt"
    ).collect()[0]["n"] == 3
    assert lk.sql_script(
        "SELECT 1 AS n; -- note; not a split\nSELECT count(*) AS n FROM tt"
    ).collect()[0]["n"] == 3


def test_backtick_quoted_references_resolve_in_every_position(
    spark, tmp_path
):
    """A backticked registered name resolves after an unregistered one,
    in JOIN and in a comma FROM list alike; a backtick-quoted COLUMN
    that shares a registered table's name stays a column."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    spark.range(2).createOrReplaceTempView("native_w")
    assert lk.sql(
        "SELECT * FROM `native_w` JOIN `tt` ON 1=1"
    ).count() == 6
    assert lk.sql("SELECT * FROM native_w, `tt`").count() == 6
    # escape hatch: a COLUMN named like the registered table, backtick-
    # quoted after a SELECT-list comma, resolves as a column
    spark.range(2).select(
        F.col("id").alias("a"), (F.col("id") * 10).alias("tt")
    ).createOrReplaceTempView("native_x")
    got = lk.sql("SELECT a, `tt` FROM native_x").collect()
    assert sorted(r["tt"] for r in got) == [0, 10]


def test_query_hints_survive_masking_and_reach_spark(spark, tmp_path):
    """ADVICE r12 (medium): /*+ ... */ is a HINT, not a comment — the
    masker must pass it through so spark.sql sees it. Pinned both as a
    pure-function property and end-to-end (REPARTITION(7) observably
    changes the plan's output partitioning)."""
    from aws_etl_project2_fiap_spark.lakesql import _mask_comments as M

    q = "SELECT /*+ BROADCAST(tt) */ * FROM tt"
    assert M(q) == q
    # plain comment adjacent to a hint still blanks; the hint survives
    q2 = "SELECT /*+ REPARTITION(4) */ 1 /* note */ AS x"
    assert M(q2) == q2.replace("/* note */", " " * 10)
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(64).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    df = lk.sql("SELECT /*+ REPARTITION(7) */ k FROM tt")
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 64


def test_backtick_identifier_with_comment_markers_stays_data(spark):
    """ADVICE r12 (low): -- or /* inside a legal backtick-quoted
    identifier is identifier data, not a comment start — the masker
    must not blank real query text to end-of-line."""
    from aws_etl_project2_fiap_spark.lakesql import _mask_comments as M

    q = "SELECT `a--b` FROM t"
    assert M(q) == q
    q = "SELECT `a/*b` FROM t"
    assert M(q) == q
    # doubled backtick stays inside the identifier
    q = "SELECT `a``--c` FROM t"
    assert M(q) == q
    # end-to-end: a column literally named a--b survives the dialect
    spark.range(3).select(F.col("id").alias("a--b")).createOrReplaceTempView(
        "native_bt"
    )
    lk = LakeSQL(spark, {})
    assert lk.sql(
        "SELECT `a--b` FROM native_bt WHERE `a--b` > 0"
    ).count() == 2


def test_add_column_not_null_rejected(spark, tmp_path):
    """review r12: fromDDL would silently DROP a NOT NULL suffix; the
    add_column surface must refuse it instead (added columns read as
    typed NULLs until data exists)."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    with pytest.raises(ValueError, match="NOT NULL"):
        V.add_column(spark, tbl, "c2", "bigint NOT NULL")
    # the plain type still works and normalizes
    V.add_column(spark, tbl, "c2", "decimal(12, 2)")
    assert dict(V.read_table(spark, tbl).dtypes)["c2"] == "decimal(12,2)"


# -- table references found by Spark's parser --------------------------


def test_cte_shadows_registered_table(spark, tmp_path):
    """A CTE named like a registered table shadows it, as in Spark: the
    query counts the CTE's one row, not the table's five."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(5).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    assert lk.sql(
        "WITH tt AS (SELECT 1 AS k) SELECT count(*) AS n FROM tt"
    ).collect()[0]["n"] == 1


def test_broadcast_hint_reaches_registered_table(spark, tmp_path):
    """ADVICE r13 (medium): /*+ BROADCAST(tt) */ names the registered
    table's relation, so the join broadcasts it. Size-based broadcast
    is off here: only the hint can plan the BroadcastHashJoin."""
    big, small = str(tmp_path / "big"), str(tmp_path / "small")
    V.create_table(spark.range(100).select(F.col("id").alias("k")), big)
    V.create_table(spark.range(10).select(F.col("id").alias("k")), small)
    lk = LakeSQL(spark, {"tb": big, "tt": small})
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = lk.sql(
            "SELECT /*+ BROADCAST(tt) */ tb.k FROM tb JOIN tt ON tb.k = tt.k"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert df.count() == 10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hint_column_named_like_registered_table_kept(spark, tmp_path):
    """ADVICE r13 repro: in /*+ REPARTITION(4, tt) */ over an
    unregistered view, `tt` is that view's COLUMN and stays one."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"tt": tbl})
    spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("tt")
    ).createOrReplaceTempView("native_h")
    df = lk.sql("SELECT /*+ REPARTITION(4, tt) */ * FROM native_h")
    assert df.rdd.getNumPartitions() == 4
    assert "hashpartitioning(tt#" in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert df.count() == 20


def test_references_in_cte_body_and_in_subquery_resolve(spark, tmp_path):
    """CTE bodies and subquery expressions are inner children of the
    parsed plan; references there bind like any other."""
    src, keys = str(tmp_path / "src"), str(tmp_path / "keys")
    V.create_table(spark.range(5).select(F.col("id").alias("k")), src)
    V.create_table(spark.range(2, 4).select(F.col("id").alias("k")), keys)
    lk = LakeSQL(spark, {"cte_src": src, "in_keys": keys})
    assert lk.sql(
        "WITH c AS (SELECT k FROM cte_src WHERE k > 1) "
        "SELECT count(*) AS n FROM c"
    ).collect()[0]["n"] == 3
    assert lk.sql(
        "SELECT count(*) AS n FROM range(10) "
        "WHERE id IN (SELECT k FROM in_keys)"
    ).collect()[0]["n"] == 2


def test_drop_table_unbinds_select_view(spark, tmp_path):
    """SELECT binds a registered name as a temp view of that name; DROP
    TABLE drops it too, so the name stops resolving instead of reading
    a stale snapshot."""
    from pyspark.errors import AnalysisException

    tbl = str(tmp_path / "t")
    V.create_table(spark.range(3).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"unbound_t": tbl})
    assert lk.sql("SELECT count(*) AS n FROM unbound_t").collect()[0]["n"] == 3
    lk.sql("DROP TABLE unbound_t")
    with pytest.raises(AnalysisException):
        lk.sql("SELECT count(*) AS n FROM unbound_t")


@pytest.fixture(scope="module")
def diff_tables(spark, tmp_path_factory):
    """The same two small tables as plain DataFrames and as registered
    lakehouse tables."""
    root = tmp_path_factory.mktemp("lakesql_diff")
    frames = {
        "emp": spark.createDataFrame(
            [(1, "ana", 1, 120.0), (2, "bo", 1, 180.0), (3, "cy", 2, 90.0),
             (4, "di", 3, 300.0), (5, "ed", 2, 160.0)],
            "emp_id int, name string, dept_id int, salary double",
        ),
        "dept": spark.createDataFrame(
            [(1, "eng"), (2, "ops"), (3, "exec"), (4, "empty")],
            "dept_id int, dname string",
        ),
    }
    paths = {}
    for name, df in frames.items():
        paths[name] = str(root / name)
        V.create_table(df, paths[name])
    return frames, paths


@pytest.mark.parametrize("q", [
    pytest.param(
        "SELECT count(*) AS n -- FROM dept\nFROM emp /* JOIN dept */",
        id="comments",
    ),
    pytest.param(
        "SELECT name, 'FROM emp JOIN dept' AS s FROM emp "
        "WHERE name <> 'FROM dept'",
        id="literals",
    ),
    pytest.param(
        "SELECT `e`.name, d.dname FROM `emp` `e` "
        "JOIN `dept` d ON e.dept_id = d.dept_id",
        id="backticks",
    ),
    pytest.param(
        "SELECT e.name, d.dname FROM emp e, dept d "
        "WHERE e.dept_id = d.dept_id",
        id="comma_join",
    ),
    pytest.param(
        "WITH rich AS (SELECT * FROM emp WHERE salary > 150) "
        "SELECT dname, count(*) AS n FROM rich JOIN dept USING (dept_id) "
        "GROUP BY dname",
        id="cte",
    ),
    pytest.param(
        "WITH dept AS (SELECT 1 AS dept_id, 'x' AS dname) "
        "SELECT count(*) AS n FROM emp JOIN dept USING (dept_id)",
        id="cte_shadowing",
    ),
    pytest.param(
        "SELECT name FROM emp WHERE dept_id IN "
        "(SELECT dept_id FROM dept WHERE dname LIKE 'e%') "
        "AND salary < (SELECT max(salary) FROM emp)",
        id="subqueries",
    ),
    pytest.param(
        "SELECT d.dname FROM dept d WHERE NOT EXISTS "
        "(SELECT 1 FROM emp e WHERE e.dept_id = d.dept_id)",
        id="exists",
    ),
    pytest.param(
        "SELECT /*+ BROADCAST(dept) */ e.name, d.dname FROM emp e "
        "JOIN dept d ON e.dept_id = d.dept_id",
        id="hint",
    ),
])
def test_plain_spark_sql_matches_spark(spark, diff_tables, q):
    """LakeSQL is a superset of Spark SQL: a plain statement over
    registered tables returns exactly the rows spark.sql returns over
    temp views of the same data under the same names."""
    frames, paths = diff_tables
    for name, df in frames.items():
        df.createOrReplaceTempView(name)
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    got = sorted(tuple(r) for r in LakeSQL(spark, paths).sql(q).collect())
    assert want and got == want


# -- DML and matview bodies read from Spark's parse tree ---------------


@pytest.fixture(scope="module")
def dml_tables(spark, tmp_path_factory):
    """A target (k 0..3), a source matching k 1..3 whose notes hold
    SQL keywords, and a dim — built once; each case mutates its own
    zero-copy clone of the target."""
    d = tmp_path_factory.mktemp("dml")
    tgt, src, dim = str(d / "tgt"), str(d / "src"), str(d / "dim")
    V.create_table(
        spark.createDataFrame(
            [(k, f"n{k}") for k in range(4)], "k long, note string"
        ),
        tgt,
    )
    V.create_table(
        spark.createDataFrame(
            [(1, "a THEN b"), (2, "other"), (3, "a THEN b")],
            "k long, note string",
        ),
        src,
    )
    V.create_table(
        spark.createDataFrame(
            [(k, f"g{k % 2}") for k in range(4)], "k long, g string"
        ),
        dim,
    )
    return tgt, src, dim


_BASE = {0: "n0", 1: "n1", 2: "n2", 3: "n3"}


@pytest.mark.parametrize("stmt, want", [
    pytest.param(
        "MERGE INTO tgt AS t USING src AS s ON t.k = s.k "
        "WHEN MATCHED AND s.note = 'a THEN b' THEN DELETE",
        {0: "n0", 2: "n2"}, id="merge-literal-with-THEN",
    ),
    pytest.param(
        "UPDATE tgt SET note = 'p WHERE q' WHERE k = 2",
        {**_BASE, 2: "p WHERE q"}, id="update-literal-with-WHERE",
    ),
    pytest.param(
        'UPDATE tgt SET note = "a,b" WHERE k = 1',
        {**_BASE, 1: "a,b"}, id="update-double-quoted-comma",
    ),
    pytest.param(
        "UPDATE tgt SET note = 'it\\'s, ok' WHERE k = 1",
        {**_BASE, 1: "it's, ok"}, id="update-escaped-quote-comma",
    ),
    pytest.param(
        "MERGE INTO tgt t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET note = s.note",
        {0: "n0", 1: "a THEN b", 2: "other", 3: "a THEN b"},
        id="merge-aliases-without-AS",
    ),
    pytest.param(
        "MERGE INTO tgt AS t USING src AS s ON (t.k = s.k) "
        "WHEN MATCHED THEN DELETE",
        {0: "n0"}, id="merge-parenthesized-ON",
    ),
    pytest.param(
        "CREATE MATERIALIZED VIEW mv LOCATION '{loc}' AS "
        "SELECT g, count(*) AS n FROM tgt JOIN dim ON (tgt.k = dim.k) "
        "GROUP BY g",
        {"g0": 2, "g1": 2}, id="matview-parenthesized-join-ON",
    ),
    pytest.param(
        "INSERT INTO tgt (k, note) VALUES (99, 'x WHERE y')",
        {**_BASE, 99: "x WHERE y"}, id="insert-literal-with-WHERE",
    ),
    # a predicate's parse origin starts at its keyword: the text handed
    # to F.expr must still begin at its (possibly parenthesized) operand
    pytest.param(
        "UPDATE tgt SET note = upper(note) WHERE note LIKE '%3'",
        {**_BASE, 3: "N3"}, id="update-like-predicate",
    ),
    pytest.param(
        "DELETE FROM tgt WHERE (k + 1) IN (2, 3)",
        {0: "n0", 3: "n3"}, id="delete-parenthesized-in-predicate",
    ),
    pytest.param(
        "UPDATE tgt SET note = 'e' WHERE EXISTS (SELECT 1 WHERE 1 = 1)",
        {k: "e" for k in _BASE}, id="update-exists-predicate",
    ),
    pytest.param(
        "MERGE INTO tgt AS t USING src AS s ON t.k = s.k "
        "WHEN MATCHED AND s.note LIKE 'a%' THEN UPDATE SET note = 'hit'",
        {0: "n0", 1: "hit", 2: "n2", 3: "hit"}, id="merge-like-condition",
    ),
    pytest.param(
        "MERGE INTO tgt o USING src AS b ON o.k = b.k WHEN MATCHED AND "
        "exists(array(b.k), x -> x = o.k AND b.note LIKE 'a%') "
        "THEN UPDATE SET note = 'lam'",
        {0: "n0", 1: "lam", 2: "n2", 3: "lam"}, id="merge-alias-in-lambda",
    ),
])
def test_statements_the_regex_lexers_missplit(
    spark, dml_tables, tmp_path, stmt, want
):
    """Valid Spark SQL that the hand-written statement lexers split
    inside literals or parentheses, or whose alias they missed, plus
    the span shapes the parse-tree reading must get right: each runs
    and leaves exactly the expected rows."""
    base, src, dim = dml_tables
    tgt = str(tmp_path / "tgt")
    V.clone_table(spark, base, tgt)
    lk = LakeSQL(spark, {"tgt": tgt, "src": src, "dim": dim})
    lk.sql(stmt.format(loc=tmp_path / "mv"))
    if "MATERIALIZED VIEW" in stmt:
        got = {r["g"]: r["n"] for r in lk.sql("SELECT g, n FROM mv").collect()}
    else:
        got = {r["k"]: r["note"] for r in V.read_table(spark, tgt).collect()}
    assert got == want


def test_versioned_views_dropped_after_each_statement(spark, tmp_path):
    """Time-travel, change-feed and branch reads mint temp views; each
    statement drops its own once Spark has analyzed it, and the
    DataFrames it returned still run."""
    tbl = str(tmp_path / "t")
    V.create_table(spark.range(10).select(F.col("id").alias("k")), tbl)
    V.append_table(spark.range(10, 20).select(F.col("id").alias("k")), tbl)
    lk = LakeSQL(spark, {"leak_t": tbl})
    lk.sql(f"CREATE BRANCH leak_b OF leak_t LOCATION '{tmp_path / 'b'}'")
    dfs = [
        lk.sql(q)
        for _ in range(2)
        for q in (
            "SELECT count(*) AS n FROM leak_t VERSION AS OF 1",
            "SELECT count(*) AS n FROM CHANGES(leak_t, 1, 2)",
            "SELECT count(*) AS n FROM leak_t VERSION AS OF 'leak_b'",
        )
    ]
    plan = lk.sql("EXPLAIN SELECT * FROM leak_t VERSION AS OF 1").collect()
    assert "Physical Plan" in plan[0][0]
    views = [t.name for t in spark.catalog.listTables()]
    assert not [v for v in views if v.startswith("leak_t__")]
    assert [df.collect()[0]["n"] for df in dfs] == [10, 10, 20] * 2


@pytest.mark.parametrize("script, want", [
    ('SELECT "a;b" AS x', "a;b"),
    ("SELECT 'it\\'s; fine' AS x", "it's; fine"),
])
def test_sql_script_split_follows_spark_literals(spark, script, want):
    """sql_script's `;` split skips literals by the lexer rules comment
    masking uses: double quotes and backslash escapes included."""
    assert LakeSQL(spark).sql_script(script).collect()[0]["x"] == want
