"""Column mapping on versioned tables (metadata-only RENAME / DROP —
the Delta column-mapping / Iceberg field-id shape on this log).

The claims under test:

- RENAME/DROP commit a new manifest with the SAME file list (zero data
  IO) and every read path shows the new logical schema;
- physical names are FROZEN: rewrites (UPDATE/DELETE/MERGE/compact)
  keep writing the original physical schema, so old and new files stay
  readable under the one schema the manifest records;
- time travel reads each version under ITS OWN mapping; rollback
  restores the target version's mapping;
- stats/bloom pruning, partition overwrite, the change feed, and the
  versioned_table DataSource all honor the mapping;
- appends after a rename use logical names; a NEW column whose name
  collides with a retired physical name gets a fresh physical name
  (no byte leakage from the old column).
"""

from __future__ import annotations

import json

import pytest

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V


def _schema_names(m: dict) -> list[str]:
    """Physical column names of a manifest's recorded schema."""
    return [f["name"] for f in json.loads(m["schema"])["fields"]]


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 2.0).alias("v"),
    )
    path = str(tmp_path / "tbl")
    V.create_table(df.repartitionByRange(3, "id"), path)
    return path


def test_rename_is_metadata_only_and_time_travels(spark, table):
    files_before = {f["path"] for f in V._read_manifest(table, 1)["files"]}
    v2 = V.rename_column(table, "v", "price")
    assert v2 == 2
    files_after = {f["path"] for f in V._read_manifest(table, 2)["files"]}
    assert files_before == files_after  # zero data IO
    cur = V.read_table(spark, table)
    assert cur.columns == ["id", "g", "price"]
    assert cur.filter(F.col("price") == 4.0).count() == 1
    old = V.read_table(spark, table, version=1)
    assert old.columns == ["id", "g", "v"]  # v1 under v1's (no) mapping
    assert V.table_mapping(table) == {"id": "id", "g": "g", "price": "v"}


def test_rename_guards(spark, table):
    with pytest.raises(ValueError, match="no column"):
        V.rename_column(table, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        V.rename_column(table, "v", "g")
    V.add_constraint(spark, table, "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        V.rename_column(table, "v", "price")
    V.drop_constraint(table, "v_pos")
    V.rename_column(table, "v", "price")


def test_mutations_use_logical_names_and_keep_physical_schema(
    spark, table
):
    V.rename_column(table, "v", "price")
    res = V.update_table(
        spark, table, {"price": F.lit(-1.0)}, F.col("price") == 4.0
    )
    assert res["n_matched"] == 1
    res = V.delete_from(spark, table, F.col("price") > 500.0, mode="cow")
    assert res["n_deleted"] == 49  # ids 251..299
    res = V.delete_from(spark, table, F.col("id") == 7, mode="dv")
    assert res["files_dv"] == 1
    got = V.read_table(spark, table)
    assert got.columns == ["id", "g", "price"]
    assert got.count() == 250
    assert got.filter(F.col("price") == -1.0).count() == 1
    # every data file still carries the FROZEN physical name "v"
    for f in V._read_manifest(table, V.current_version(table))["files"]:
        names = pq.read_schema(f["path"]).names
        assert "v" in names and "price" not in names


def test_merge_after_rename(spark, table):
    V.rename_column(table, "v", "price")
    src = spark.createDataFrame(
        [(5, 2, 555.0), (9000, 0, 1.0)], "id long, g long, price double"
    )
    res = V.merge_table(spark, table, src, keys=["id"])
    assert res["updated"] == 1 and res["inserted"] == 1
    got = {
        r["id"]: r["price"]
        for r in V.read_table(spark, table)
        .filter(F.col("id").isin(5, 9000))
        .collect()
    }
    assert got == {5: 555.0, 9000: 1.0}


def test_pruning_paths_translate_to_physical_stats(spark, tmp_path):
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    )
    path = str(tmp_path / "t")
    V.create_table(
        df.repartitionByRange(3, "id"), path, bloom_cols=["id"]
    )
    V.rename_column(path, "id", "key")
    # between= prunes on the physical stats and filters logically
    got = V.read_table(spark, path, between=("key", 10, 20))
    assert len(got.inputFiles()) == 1
    assert sorted(r["key"] for r in got.collect()) == list(range(10, 21))
    # bloom eq= point read under the logical name
    hit = V.read_table(spark, path, eq=("key", 42))
    assert len(hit.inputFiles()) == 1
    assert [r["key"] for r in hit.collect()] == [42]
    assert V.table_column_minmax(path, "key") == (0, 299)


def test_append_after_rename_and_collision_gets_fresh_physical(
    spark, table
):
    V.rename_column(table, "v", "price")
    V.append_table(
        spark.createDataFrame(
            [(1000, 0, 9.0)], "id long, g long, price double"
        ),
        table,
    )
    assert V.read_table(spark, table).filter(
        F.col("id") == 1000
    ).collect()[0]["price"] == 9.0
    # new column literally named "v" (the RETIRED physical name) must
    # NOT alias onto the old column's bytes
    V.append_table(
        spark.createDataFrame(
            [(2000, 0, 1.0, "fresh")], "id long, g long, price double, v string"
        ),
        table,
    )
    m = V.table_mapping(table)
    assert m["price"] == "v" and m["v"] != "v"  # fresh physical name
    got = V.read_table(spark, table)
    rows = {r["id"]: (r["price"], r["v"]) for r in got.filter(
        F.col("id").isin(0, 2000)
    ).collect()}
    assert rows[2000] == (1.0, "fresh")
    assert rows[0] == (0.0, None)  # old rows: new column NULL, no leak


def test_drop_column_metadata_only(spark, table):
    V.drop_column(table, "g")
    cur = V.read_table(spark, table)
    assert cur.columns == ["id", "v"]
    assert V.read_table(spark, table, version=1).columns == ["id", "g", "v"]
    with pytest.raises(ValueError, match="no column"):
        V.drop_column(table, "g")
    # physical bytes still in the old files; a CoW rewrite ages them out
    V.delete_from(spark, table, F.col("id") < 100, mode="cow")
    files = V._read_manifest(table, V.current_version(table))["files"]
    rewritten = [
        f for f in files
        if "g" not in pq.read_schema(f["path"]).names
    ]
    assert rewritten  # at least the rewritten file dropped the bytes
    assert V.read_table(spark, table).columns == ["id", "v"]


def test_rollback_restores_mapping(spark, table):
    V.rename_column(table, "v", "price")  # v2
    V.rollback(table, 1)  # v3: mapping cleared
    assert V.read_table(spark, table).columns == ["id", "g", "v"]
    assert V.table_mapping(table) is None
    V.rename_column(table, "v", "cost")  # v4
    V.rollback(table, 2)  # v5: the v2 mapping (price) restored
    assert V.read_table(spark, table).columns == ["id", "g", "price"]


def test_change_feed_and_clone_under_mapping(spark, table, tmp_path):
    V.rename_column(table, "v", "price")  # v2
    V.append_table(
        spark.createDataFrame(
            [(5000, 1, 3.0)], "id long, g long, price double"
        ),
        table,
    )  # v3
    ch = V.table_changes(spark, table, 2, 3)
    assert set(ch.columns) == {"id", "g", "price", "_change_type"}
    assert [r["id"] for r in ch.collect()] == [5000]
    clone = str(tmp_path / "clone")
    V.clone_table(spark, table, clone)
    assert V.read_table(spark, clone).columns == ["id", "g", "price"]


def test_compact_and_reorg_preserve_logical_view(spark, table):
    V.rename_column(table, "v", "price")
    V.delete_from(spark, table, F.col("id") == 3, mode="dv")
    before = V.read_table(spark, table).orderBy("id").collect()
    V.compact_table(spark, table, target_files=2)
    assert V.read_table(spark, table).orderBy("id").collect() == before
    assert V.table_mapping(table)["price"] == "v"
    V.delete_from(spark, table, F.col("id") == 4, mode="dv")
    V.reorg_table(spark, table)
    got = V.read_table(spark, table)
    assert got.columns == ["id", "g", "price"]
    assert got.count() == 298


def test_overwrite_partitions_on_renamed_column(spark, tmp_path):
    df = spark.range(0, 90).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("day"),
        F.lit(1.0).alias("v"),
    )
    path = str(tmp_path / "t")
    V.create_table(df, path, cluster_by=["day"], num_files=3)
    V.rename_column(path, "day", "dt")
    delivery = spark.range(0, 30).select(
        F.col("id"), F.lit("1").alias("dt"), F.lit(7.0).alias("v")
    )
    res = V.overwrite_partitions(spark, delivery, path, "dt")
    assert res["files_rewritten"] == 0  # clustered: whole-file drop
    got = V.read_table(spark, path)
    assert got.filter(F.col("dt") == "1").count() == 30
    assert got.filter((F.col("dt") == "1") & (F.col("v") != 7.0)).count() == 0
    assert got.filter(F.col("dt") != "1").count() == 60


def test_overwrite_partitions_new_column_under_mapping(spark, table):
    """A partition overwrite carrying a NEW column under a column
    mapping extends the mapping and the schema, as an append does: the
    column is visible, not written into files under a name no reader
    maps."""
    V.rename_column(table, "v", "price")
    V.overwrite_partitions(
        spark,
        spark.range(0, 3).select(
            F.col("id"), F.lit(0).cast("long").alias("g"),
            F.lit(1.0).alias("price"), F.lit("t").alias("tag"),
        ),
        table, "g",
    )
    got = V.read_table(spark, table)
    assert got.columns == ["id", "g", "price", "tag"]
    assert got.filter(F.col("tag") == "t").count() == 3
    assert got.filter(F.col("g") == 0).count() == 3
    assert got.count() == 203
    assert V.table_mapping(table)["tag"] == "tag"


def test_table_source_reads_logical_names(spark, table):
    from aws_etl_project2_fiap_spark.streaming.table_source import (
        VersionedTableDataSource,
    )

    V.rename_column(table, "v", "price")
    try:
        spark.dataSource.register(VersionedTableDataSource)
    except Exception:
        pass
    got = (
        spark.read.format("versioned_table").option("path", table).load()
    )
    assert got.columns == ["id", "g", "price"]
    assert got.count() == 300
    # time travel through the source: v1 under v1's schema
    old = (
        spark.read.format("versioned_table")
        .option("path", table)
        .option("version", "1")
        .load()
    )
    assert old.columns == ["id", "g", "v"]


def test_dropped_column_name_not_resurrected_on_append(spark, table):
    """Re-adding a column with a DROPPED column's name must NOT alias
    onto the old column's bytes still frozen in existing files (the
    silent-data-resurrection / GDPR failure mode): drop 'g', append a
    batch with a NEW 'g' → old rows read NULL, new rows their values."""
    V.drop_column(table, "g")
    V.append_table(
        spark.createDataFrame(
            [(1000, 1.0, 77)], "id long, v double, g long"
        ),
        table,
    )
    m = V.table_mapping(table)
    assert m["g"] != "g", "new 'g' reused the dropped physical name"
    got = {r["id"]: r["g"] for r in V.read_table(spark, table).select(
        "id", "g"
    ).collect()}
    assert got[1000] == 77
    assert got[0] is None, "old row resurrected dropped bytes"
    # the dropped physical g stays in the schema, out of the mapping
    m = V._read_manifest(table, V.current_version(table))
    assert "g" in _schema_names(m)
    assert "g" not in m["column_mapping"].values()


def test_dropped_column_name_not_resurrected_on_merge_evolution(
    spark, table
):
    """Same contract through merge_table(schema_evolution=True)."""
    V.drop_column(table, "g")
    V.merge_table(
        spark,
        table,
        spark.createDataFrame(
            [(0, 0.5, 88), (1000, 1.0, 99)], "id long, v double, g long"
        ),
        ["id"],
        schema_evolution=True,
    )
    assert V.table_mapping(table)["g"] != "g"
    got = {r["id"]: r["g"] for r in V.read_table(spark, table).select(
        "id", "g"
    ).collect()}
    assert got[0] == 88 and got[1000] == 99  # merged rows carry new g
    assert got[5] is None, "untouched old row resurrected dropped bytes"


def test_overwrite_rebuilds_mapping(spark, table):
    """overwrite_table on a mapped table reconciles the mapping with
    the new DataFrame: new columns become visible, omitted mapped
    columns stop being required, and the table stays readable."""
    V.rename_column(table, "v", "price")
    # overwrite with a NEW column and WITHOUT the mapped 'g'
    V.overwrite_table(
        spark.createDataFrame(
            [(1, 2.0, "x")], "id long, price double, tag string"
        ),
        table,
    )
    got = V.read_table(spark, table)
    assert sorted(got.columns) == ["id", "price", "tag"]
    row = got.collect()[0]
    assert (row["id"], row["price"], row["tag"]) == (1, 2.0, "x")
    # time travel: the pre-overwrite version still reads under ITS
    # mapping (renamed price over old bytes)
    old = V.read_table(spark, table, version=2)
    assert sorted(old.columns) == ["g", "id", "price"]
    assert old.count() == 300


def test_change_feed_across_rename_then_overwrite(spark, table, tmp_path):
    """An overwrite keeps the physical names its base maps and mints
    fresh ones for new columns, so the change feed over rename →
    overwrite shows every replaced row with its values — and a sum
    view folding that feed subtracts them instead of doubling."""
    from aws_etl_project2_fiap_spark.io import matview as MV

    V.rename_column(table, "v", "price")  # v2: price → physical v
    dst = str(tmp_path / "mv")
    MV.create_aggregate_view(
        spark, table, dst, ["g"], {"total": ("sum", "price")}
    )
    # 'v' is new here, but its name is price's physical one
    V.overwrite_table(
        spark.createDataFrame(
            [(1, 1, 5.0, 9.0), (2, 2, 7.0, 9.0)],
            "id long, g long, price double, v double",
        ),
        table,
    )  # v3
    m3 = V._read_manifest(table, 3)["column_mapping"]
    assert m3["price"] == "v" and m3["v"] not in ("v", "price")
    ch = V.table_changes(spark, table, 2, 3)
    dels = ch.filter(F.col("_change_type") == "delete")
    assert dels.count() == 300
    assert dels.filter(F.col("price").isNull()).count() == 0
    assert dels.filter(F.col("v").isNotNull()).count() == 0
    assert ch.filter(F.col("_change_type") == "insert").count() == 2
    MV.refresh_aggregate_view(spark, dst)
    got = {
        r["g"]: r["total"]
        for r in MV.read_aggregate_view(spark, dst).collect()
    }
    assert got == {1: 5.0, 2: 7.0}


def test_change_feed_across_retyping_overwrite_raises(spark, table):
    """An overwrite may retype a column; the rows it removed have no
    faithful form in the new type, so the feed across it fails loudly
    (at build time, before any read) while each version still reads."""
    V.overwrite_table(
        spark.createDataFrame([(1, 1, 5)], "id long, g long, v int"), table
    )  # v2: v double → int
    with pytest.raises(ValueError, match="type change.*v: v1=double v2=int"):
        V.table_changes(spark, table, 1, 2)
    assert V.read_table(spark, table, version=1).count() == 300
    assert V.read_table(spark, table).collect()[0]["v"] == 5
    V.append_table(
        spark.createDataFrame([(2, 2, 6)], "id long, g long, v int"), table
    )  # v3: a range with no removed file is unaffected
    assert V.table_changes(spark, table, 2, 3).count() == 1


def test_rollback_past_overwrite_restores_retired_ledger(spark, table):
    """OVERWRITE frees retired names (no old file survives), but a
    rollback PAST the overwrite brings the old files — and their
    dropped bytes — back: the target version's schema, which still
    holds the dropped name, must return with them, or a post-rollback
    append could resurrect dropped data."""
    V.drop_column(table, "g")  # v2: g retired (in schema, not mapped)
    V.overwrite_table(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), table
    )  # v3: the overwrite's schema is its batch's
    assert _schema_names(V._read_manifest(table, 3)) == ["id", "v"]
    V.rollback(table, 2)  # v4: v2's files (old bytes) + v2's schema
    m4 = V._read_manifest(table, 4)
    assert m4["schema"] == V._read_manifest(table, 2)["schema"]
    assert "g" in _schema_names(m4)
    assert "g" not in m4["column_mapping"].values()
    V.append_table(
        spark.createDataFrame(
            [(1000, 1.0, 77)], "id long, v double, g long"
        ),
        table,
    )
    got = {r["id"]: r["g"] for r in V.read_table(spark, table).select(
        "id", "g"
    ).collect()}
    assert got[1000] == 77
    assert got[0] is None, "rollback lost the ledger; bytes resurrected"


# --------------------------------------------------------------------
# ALTER TABLE ADD COLUMN (metadata-only — VERDICT r9 gap #1)
# --------------------------------------------------------------------


def test_add_column_metadata_only_and_time_travels(spark, table):
    """ADD commits the SAME file list (zero data IO); reads NULL-fill
    with the declared type; earlier versions don't show the column."""
    files_before = V._read_manifest(table, 1)["files"]
    v = V.add_column(spark, table, "score", "decimal(10,2)")
    assert v == 2
    assert V._read_manifest(table, 2)["files"] == files_before
    df = V.read_table(spark, table)
    assert df.schema["score"].dataType.simpleString() == "decimal(10,2)"
    assert df.filter(F.col("score").isNull()).count() == 300
    assert "score" not in V.read_table(spark, table, version=1).columns


def test_add_column_type_validation(spark, table):
    with pytest.raises(ValueError, match="cannot parse|suspicious"):
        V.add_column(spark, table, "bad", "notatype(")
    with pytest.raises(ValueError, match="suspicious"):
        V.add_column(spark, table, "bad", "int); DROP TABLE x--")
    # ADVICE r10: whitelist-passing SQL fragment — the DDL-only type
    # parser rejects it instead of a CAST probe silently normalizing
    # the prefix
    with pytest.raises(ValueError, match="cannot parse"):
        V.add_column(spark, table, "bad", "INT) AS c FROM range(10")
    # review r11: the parser's schema-list fallback must not widen the
    # grammar — a bare DDL list is rejected, an explicit struct<> works
    with pytest.raises(ValueError, match="cannot parse"):
        V.add_column(spark, table, "bad", "a int, b string")
    v = V.add_column(spark, table, "pair", "struct<a:int,b:string>")
    assert (
        V.read_table(spark, table).schema["pair"].dataType.simpleString()
        == "struct<a:int,b:string>"
    )
    with pytest.raises(ValueError, match="already exists"):
        V.add_column(spark, table, "v", "double")


def test_add_column_append_enforces_declared_type(spark, table):
    V.add_column(spark, table, "tag", "string")
    # conforming append: real bytes arrive, older rows stay NULL
    V.append_table(
        spark.range(300, 303).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2.0).alias("v"), F.lit("x").alias("tag"),
        ),
        table,
    )
    got = V.read_table(spark, table)
    assert got.filter(F.col("tag") == "x").count() == 3
    assert got.filter(F.col("tag").isNull()).count() == 300
    # conflicting type is rejected before any write
    with pytest.raises(V.SchemaConflict):
        V.append_table(
            spark.range(303, 304).select(
                F.col("id"), (F.col("id") % 3).alias("g"),
                (F.col("id") * 2.0).alias("v"),
                F.lit(1).alias("tag"),
            ),
            table,
        )


def test_add_column_mutations_see_declared_column(spark, table):
    """UPDATE / DELETE / MERGE on a declared-only column: the CoW
    discovery + rewrite scans NULL-project it, predicates on it work,
    and rewrites materialize it."""
    V.add_column(spark, table, "note", "string")
    r = V.update_table(
        spark, table, {"note": F.lit("hot")}, F.col("id") < 10
    )
    assert r["n_matched"] == 10
    got = V.read_table(spark, table)
    assert got.filter(F.col("note") == "hot").count() == 10
    assert got.filter(F.col("note").isNull()).count() == 290
    # DELETE keyed on the declared column (NULL pred rows survive)
    V.delete_from(spark, table, F.col("note") == "hot", mode="cow")
    assert V.read_table(spark, table).count() == 290
    # MERGE replace with a source carrying the column
    src = spark.range(10, 15).select(
        F.col("id"), (F.col("id") % 3).alias("g"),
        F.lit(-1.0).alias("v"), F.lit("m").alias("note"),
    )
    V.merge_table(spark, table, src, ["id"], when_matched="replace")
    assert V.read_table(spark, table).filter(
        F.col("note") == "m"
    ).count() == 5


def test_add_column_drop_and_no_resurrection(spark, table):
    """DROP of an added column cleans the declared ledger AND retires
    the physical name; a re-ADD under the same name mints a fresh
    physical name, so post-ADD bytes can't resurrect."""
    V.add_column(spark, table, "c", "bigint")
    V.append_table(
        spark.range(300, 302).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(99).cast("bigint").alias("c"),
        ),
        table,
    )
    V.drop_column(table, "c")
    m = V._read_manifest(table, V.current_version(table))
    assert "c" in _schema_names(m)
    assert "c" not in m["column_mapping"].values()
    V.add_column(spark, table, "c", "bigint")
    # all NULL: the old 99s must not leak into the reborn column
    assert V.read_table(spark, table).filter(
        F.col("c").isNotNull()
    ).count() == 0


def test_add_column_rollback_and_overwrite(spark, table):
    V.add_column(spark, table, "z", "int")
    V.rollback(table, 1)
    assert "z" not in V.read_table(spark, table).columns
    V.add_column(spark, table, "w", "int")
    V.overwrite_table(
        spark.range(0, 5).select(F.col("id"), F.lit(1.0).alias("v")),
        table,
    )
    m = V._read_manifest(table, V.current_version(table))
    assert _schema_names(m) == ["id", "v"]
    assert sorted(V.read_table(spark, table).columns) == ["id", "v"]


def test_add_column_change_feed(spark, table):
    """CDF legs NULL-project declared-only columns under the TO
    version's schema."""
    V.add_column(spark, table, "q", "double")
    V.append_table(
        spark.range(300, 302).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2.0).alias("v"), F.lit(0.5).alias("q"),
        ),
        table,
    )
    ch = V.table_changes(spark, table, 1, V.current_version(table))
    assert "q" in ch.columns
    assert ch.filter(F.col("q") == 0.5).count() == 2


def test_add_column_state_travels_with_clone_and_wap(spark, table, tmp_path):
    """Review r10: a declared-only column must travel wherever the
    schema travels — a clone (CREATE BRANCH) of a table with one, and a
    WAP fast-forward publish of a stage that declared one."""
    from aws_etl_project2_fiap_spark.io import wap as W

    V.add_column(spark, table, "score", "decimal(10,2)")
    stage = str(tmp_path / "stage")
    V.clone_table(spark, table, stage)
    got = V.read_table(spark, stage)
    assert got.filter(F.col("score").isNull()).count() == 300

    # publish a stage that DECLARED a column while staged
    stage2 = str(tmp_path / "stage2")
    V.clone_table(spark, table, stage2)
    V.add_column(spark, stage2, "note", "string")
    W.publish_stage(spark, table, stage2)
    got = V.read_table(spark, table)
    assert "note" in got.columns
    assert got.filter(F.col("note").isNull()).count() == 300


def test_add_column_table_source_serves_declared_as_null(spark, table):
    """The versioned_table DataSource serves a declared-only column as
    NULL, as read_table does, with its physical/logical column lists
    positionally aligned (every other column keeps its values); real
    values show once data lands."""
    from aws_etl_project2_fiap_spark.streaming.table_source import (
        build_versioned_table_source,
    )

    spark.dataSource.register(build_versioned_table_source())
    V.rename_column(table, "v", "price")
    V.add_column(spark, table, "q", "double")
    df = spark.read.format("versioned_table").option("path", table).load()
    assert df.columns == ["id", "g", "price", "q"]
    assert df.schema == V.read_table(spark, table).schema
    assert sorted(
        tuple(r) for r in df.collect()
    ) == [(i, i % 3, i * 2.0, None) for i in range(300)]
    V.append_table(
        spark.range(300, 302).select(
            F.col("id"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2.0).alias("price"), F.lit(0.5).alias("q"),
        ),
        table,
    )
    df2 = spark.read.format("versioned_table").option("path", table).load()
    assert "q" in df2.columns
    assert df2.filter(F.col("q") == 0.5).count() == 2
