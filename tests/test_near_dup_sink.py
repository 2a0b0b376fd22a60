"""Streaming ingest gated by the persisted MinHash index
(streaming/sinks.near_dup_gated_sink + apply_near_dup_batch).

The invariants: novel docs land exactly once in BOTH the corpus table
and the signature index, near-dups are quarantined with their matched
corpus id, and every leg of the replay/crash matrix (both committed /
neither / crash between the two commits) converges to the same state.
"""

import os

import pytest
from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V
from aws_etl_project2_fiap_spark.operators.dedup import build_minhash_index
from aws_etl_project2_fiap_spark.streaming.sinks import (
    apply_near_dup_batch,
    near_dup_gated_sink,
)

DOC = "the quick brown fox jumps over the lazy dog near the river bank"
DOC2 = "completely different content about spark manifests and parquet files"
DOC3 = "a third unique document mentioning embeddings clusters and tokens"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def paths(tmp_path):
    return {
        "table": str(tmp_path / "corpus"),
        "index": str(tmp_path / "index"),
        "quarantine": str(tmp_path / "q"),
        "checkpoint": str(tmp_path / "ckpt"),
        "landing": str(tmp_path / "landing"),
    }


def _apply(spark, rows, batch_id, paths):
    apply_near_dup_batch(
        _df(spark, rows),
        batch_id,
        table_path=paths["table"],
        index_path=paths["index"],
        quarantine_path=paths["quarantine"],
    )


def test_seed_then_gate(spark, paths):
    _apply(spark, [(1, DOC), (2, DOC2)], 0, paths)
    assert V.read_table(spark, paths["table"]).count() == 2
    # batch 1: doc 10 re-delivers DOC verbatim (near-dup), doc 11 novel
    _apply(spark, [(10, DOC), (11, DOC3)], 1, paths)
    tbl = {r["doc_id"] for r in V.read_table(spark, paths["table"]).collect()}
    assert tbl == {1, 2, 11}
    q = spark.read.parquet(os.path.join(paths["quarantine"], "batch_1"))
    rows = q.collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 10
    assert rows[0]["dup_of"] == 1
    assert rows[0]["est_jaccard"] == 1.0
    # index holds signatures for exactly the corpus docs
    idx_ids = {
        r["id"] for r in V.read_table(spark, paths["index"]).collect()
    }
    assert idx_ids == {1, 2, 11}


def test_replayed_batch_is_noop(spark, paths):
    _apply(spark, [(1, DOC), (2, DOC2)], 0, paths)
    v_t = V.current_version(paths["table"])
    v_i = V.current_version(paths["index"])
    _apply(spark, [(1, DOC), (2, DOC2)], 0, paths)  # same batch id
    assert V.current_version(paths["table"]) == v_t
    assert V.current_version(paths["index"]) == v_i
    assert V.read_table(spark, paths["table"]).count() == 2


def test_crash_between_commits_completes_index_only(spark, paths):
    _apply(spark, [(1, DOC)], 0, paths)
    # simulate the crash window of batch 1: the corpus commit landed
    # (novel doc 5), the index append did not
    V.append_table(
        _df(spark, [(5, DOC3)]), paths["table"], extra={"batch_id": 1}
    )
    v_t = V.current_version(paths["table"])
    # replay of batch 1: original batch had a dup (id 6, DOC) + novel 5
    _apply(spark, [(5, DOC3), (6, DOC)], 1, paths)
    # table untouched (its half was committed), index completed with
    # exactly the table-committed novel rows — and the dup was NOT
    # re-quarantined nor treated as a dup of itself
    assert V.current_version(paths["table"]) == v_t
    idx = V.read_table(spark, paths["index"])
    idx_ids = {r["id"] for r in idx.collect()}
    assert idx_ids == {1, 5}
    hist = V.table_history(paths["index"])
    assert {h.get("batch_id") for h in hist} == {0, 1}
    # next delivery of DOC3 is now caught by the completed index
    _apply(spark, [(7, DOC3)], 2, paths)
    assert 7 not in {
        r["doc_id"] for r in V.read_table(spark, paths["table"]).collect()
    }


def test_within_batch_exact_dupes_collapse(spark, paths):
    _apply(spark, [(1, DOC), (2, DOC), (2, DOC2)], 0, paths)
    tbl = V.read_table(spark, paths["table"]).collect()
    texts = {r["text"] for r in tbl}
    assert DOC in texts and len(tbl) <= 2  # exact text + id dupes gone


def test_end_to_end_stream(spark, paths):
    # drop 1: seed docs; drop 2: one near-dup + one novel
    _df(spark, [(1, DOC), (2, DOC2)]).write.parquet(
        os.path.join(paths["landing"], "d1")
    )
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "100")
        .parquet(paths["landing"] + "/*")
    )
    q = near_dup_gated_sink(
        src,
        paths["table"],
        paths["index"],
        paths["checkpoint"],
        quarantine_path=paths["quarantine"],
    )
    q.awaitTermination(120)
    _df(spark, [(10, DOC), (11, DOC3)]).write.parquet(
        os.path.join(paths["landing"], "d2")
    )
    q2 = near_dup_gated_sink(
        spark.readStream.schema("doc_id long, text string")
        .parquet(paths["landing"] + "/*"),
        paths["table"],
        paths["index"],
        paths["checkpoint"],
        quarantine_path=paths["quarantine"],
    )
    q2.awaitTermination(120)
    tbl = {r["doc_id"] for r in V.read_table(spark, paths["table"]).collect()}
    assert tbl == {1, 2, 11}
    # exactly-once across checkpoint loss: wipe the checkpoint and
    # replay everything — committed batch ids block re-ingest
    import shutil

    shutil.rmtree(paths["checkpoint"])
    q3 = near_dup_gated_sink(
        spark.readStream.schema("doc_id long, text string")
        .parquet(paths["landing"] + "/*"),
        paths["table"],
        paths["index"],
        paths["checkpoint"],
        quarantine_path=paths["quarantine"],
    )
    q3.awaitTermination(120)
    assert {
        r["doc_id"] for r in V.read_table(spark, paths["table"]).collect()
    } == {1, 2, 11}


def test_crash_recovery_ignores_ids_from_earlier_batches(spark, paths):
    """Crash-window recovery derives the novel set from the batch's OWN
    table commit (its change-feed insert leg), never by semi-joining
    the batch against ALL table ids: a re-delivered row whose id was
    committed by an EARLIER batch must not have its signatures appended
    again (index drift from the corpus)."""
    _apply(spark, [(1, DOC), (2, DOC2)], 0, paths)
    idx_rows_for_1 = (
        V.read_table(spark, paths["index"]).filter(F.col("id") == 1).count()
    )
    assert idx_rows_for_1 > 0
    # batch 1's original run: doc 1 re-delivered verbatim (same id —
    # quarantined as a near-dup, NOT committed) + novel doc 5; the
    # table commit landed, the index append crashed
    V.append_table(
        _df(spark, [(5, DOC3)]), paths["table"], extra={"batch_id": 1}
    )
    _apply(spark, [(1, DOC), (5, DOC3)], 1, paths)  # replay
    idx = V.read_table(spark, paths["index"])
    assert {r["id"] for r in idx.collect()} == {1, 2, 5}
    assert (
        idx.filter(F.col("id") == 1).count() == idx_rows_for_1
    ), "recovery re-appended an earlier batch's signatures"


def test_index_build_race_lands_on_racer_index(spark, paths, monkeypatch):
    """Another writer builds the index between the batch's pointer
    check and its own build, which then raises FileExistsError: the
    batch appends its signatures on top of the racer's index, in one
    more commit that carries its batch id."""
    from aws_etl_project2_fiap_spark.operators import dedup

    real_build = dedup.build_minhash_index

    def racing_build(df, index_path, *a, **kw):
        monkeypatch.setattr(dedup, "build_minhash_index", real_build)
        real_build(_df(spark, [(50, DOC2)]), index_path)  # racer's v1
        return real_build(df, index_path, *a, **kw)

    monkeypatch.setattr(dedup, "build_minhash_index", racing_build)
    _apply(spark, [(1, DOC), (3, DOC3)], 0, paths)
    assert dedup.build_minhash_index is real_build  # the race fired
    tbl = {r["doc_id"] for r in V.read_table(spark, paths["table"]).collect()}
    assert tbl == {1, 3}
    idx = V.read_table(spark, paths["index"])
    assert {r["id"] for r in idx.collect()} == {1, 3, 50}
    assert V.current_version(paths["index"]) == 2
    assert V.version_of_batch(paths["index"], 0) == 2
