"""Property-based differential test of versioned-table semantics.

Hypothesis drives random op sequences (append / update / merge /
rollback) against BOTH the real table (io/versioned.py) and a trivial
in-memory model (dict id -> row). After every op the full read must
equal the model, and at the end every retained historical version must
equal the model's snapshot from when that version was committed — the
time-travel contract under arbitrary interleavings, not just the
hand-written scenarios in test_versioned.py.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from aws_etl_project2_fiap_spark.io import versioned as V


def _op():
    return st.one_of(
        st.tuples(st.just("append"), st.integers(0, 2)),
        st.tuples(st.just("update"), st.integers(0, 3)),
        st.tuples(st.just("merge"), st.integers(0, 3)),
        st.tuples(st.just("rollback"), st.just(0)),
        # deletes in all three physical modes + the DV purge — the
        # model can't tell them apart, which is exactly the claim
        st.tuples(st.just("delete_cow"), st.integers(0, 6)),
        st.tuples(st.just("delete_dv"), st.integers(0, 6)),
        st.tuples(st.just("delete_auto"), st.integers(0, 6)),
        st.tuples(st.just("reorg"), st.just(0)),
        # round-5 merge clauses: matched-delete (keys-only source),
        # conditional dict update, and the by-source retain sweep
        st.tuples(st.just("merge_delete"), st.integers(0, 4)),
        st.tuples(st.just("merge_cond"), st.integers(0, 2)),
        st.tuples(st.just("merge_bysrc"), st.integers(0, 2)),
    )


def _read_rows(spark, path, version=None):
    return {
        r["id"]: (r["g"], r["v"])
        for r in V.read_table(spark, path, version=version).collect()
    }


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op(), min_size=1, max_size=4))
def test_versioned_ops_match_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("vprop") / "tbl")
    base = spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 1.0).alias("v")
    )
    V.create_table(base.repartitionByRange(3, "g"), path)
    model = {i: (i % 3, float(i)) for i in range(30)}
    history = {1: dict(model)}
    next_id = 1000

    for kind, arg in ops:
        if kind == "append":
            rows = [(next_id + j, 5, -1.0) for j in range(arg + 1)]
            next_id += arg + 1
            df = spark.createDataFrame(rows, "id long, g long, v double")
            ver = V.append_table(df, path)
            model.update({r[0]: (r[1], r[2]) for r in rows})
        elif kind == "update":
            ver = V.update_table(
                spark, path, {"v": F.col("v") + 100}, F.col("g") == arg
            )["version"]
            model = {
                i: (g, v + 100 if g == arg else v)
                for i, (g, v) in model.items()
            }
            if ver in history:  # no-match update: no new version
                continue
        elif kind == "merge":
            # one existing id (if any in group arg) + one new key
            hit = [i for i, (g, _v) in sorted(model.items()) if g == arg][:1]
            rows = [(i, 7, -5.0) for i in hit] + [(next_id, 7, -5.0)]
            next_id += 1
            df = spark.createDataFrame(rows, "id long, g long, v double")
            ver = V.merge_table(spark, path, df, keys=["id"])["version"]
            model.update({r[0]: (r[1], r[2]) for r in rows})
        elif kind == "merge_delete":
            # keys-only WHEN MATCHED THEN DELETE (GDPR list shape):
            # listed keys may or may not exist; absent keys are no-ops
            hit = [i for i in sorted(model) if i % 5 == arg][:3]
            listed = hit + [999_999]  # one never-present key
            df = spark.createDataFrame([(i,) for i in listed], "id long")
            res = V.merge_table(
                spark, path, df, keys=["id"],
                when_matched="delete", insert_unmatched=False,
            )
            ver = res["version"]
            assert res["deleted"] == len(hit), kind
            for i in hit:
                model.pop(i)
        elif kind == "merge_cond":
            # WHEN MATCHED AND t.g == arg THEN SET v = t.v + 1000:
            # non-firing matched rows stay intact, one insert rides
            hit = sorted(model)[:4]
            rows = [(i, 7, -5.0) for i in hit] + [(next_id, 7, -5.0)]
            next_id += 1
            df = spark.createDataFrame(rows, "id long, g long, v double")
            res = V.merge_table(
                spark, path, df, keys=["id"],
                when_matched=[
                    (F.col("t.g") == arg, {"v": F.col("t.v") + 1000})
                ],
            )
            ver = res["version"]
            fired = [i for i in hit if model[i][0] == arg]
            assert res["updated"] == len(fired), kind
            assert res["inserted"] == 1, kind
            for i in fired:
                g, v = model[i]
                model[i] = (g, v + 1000)
            model[rows[-1][0]] = (7, -5.0)
        elif kind == "merge_bysrc":
            # retain sweep: WHEN NOT MATCHED BY SOURCE AND t.g == arg
            # THEN DELETE with a keys-only list and no matched clause
            keep = sorted(model)[:5]
            df = spark.createDataFrame([(i,) for i in keep], "id long")
            res = V.merge_table(
                spark, path, df, keys=["id"],
                when_matched=None, insert_unmatched=False,
                when_not_matched_by_source=[(F.col("t.g") == arg, "delete")],
            )
            ver = res["version"]
            swept = [
                i for i, (g, _v) in model.items()
                if g == arg and i not in set(keep)
            ]
            assert res["deleted"] == len(swept), kind
            for i in swept:
                model.pop(i)
            if ver in history:  # nothing swept: no new version
                continue
        elif kind.startswith("delete_"):
            mode = kind.split("_", 1)[1]
            res = V.delete_from(
                spark, path, F.col("id") % 7 == arg, mode=mode,
            )
            ver = res["version"]
            expected = len([i for i in model if i % 7 == arg])
            assert res["n_deleted"] == expected, kind
            model = {i: r for i, r in model.items() if i % 7 != arg}
            if ver in history:  # no-match delete: no new version
                continue
        elif kind == "reorg":
            ver = V.reorg_table(spark, path)["version"]
            if ver in history:  # nothing DV'd: no new version
                continue
        else:  # rollback to v1
            ver = V.rollback(path, 1)
            model = dict(history[1])
        history[ver] = dict(model)
        assert _read_rows(spark, path) == model, f"after {kind}({arg})"

    # the time-travel contract: every retained version == its snapshot
    for ver, snap in history.items():
        assert _read_rows(spark, path, version=ver) == snap, f"v{ver}"


# ---------------------------------------------------------------------
# Mixed-workload multi-writer stress (round-5): the commit CAS was
# stress-tested for racing APPENDS only; real tables see concurrent
# UPDATE + DELETE (dv and cow) + MERGE + OPTIMIZE + REORG. Hypothesis
# draws the op mix; each op instance targets its OWN disjoint id slice
# so the final state is deterministic regardless of interleaving — any
# divergence is a lost update, a resurrection, or metadata drift, never
# an ordering ambiguity.
# ---------------------------------------------------------------------

_MIXED_OPS = st.lists(
    st.sampled_from(
        ["update", "delete_dv", "delete_cow", "delete_auto",
         "merge", "append", "compact", "reorg"]
    ),
    min_size=3,
    max_size=5,
)


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MIXED_OPS)
def test_concurrent_mixed_writers_preserve_invariants(
    spark, tmp_path_factory, ops
):
    import threading

    path = str(tmp_path_factory.mktemp("mixed") / "tbl")
    n0 = 1000
    V.create_table(
        spark.range(0, n0)
        .select(F.col("id"), F.col("id").cast("double").alias("val"))
        .repartitionByRange(4, "id"),
        path,
    )
    expected = {i: float(i) for i in range(n0)}
    errors: list = []

    def run_with_retry(fn):
        for _ in range(80):
            try:
                fn()
                return
            except V.CommitConflict:
                continue
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)
                return
        errors.append(RuntimeError("writer starved"))

    workers = []
    for i, op in enumerate(ops):
        lo, hi = i * 100, i * 100 + 50  # disjoint slice per instance
        if op == "update":
            for k in range(lo, hi):
                expected[k] = -1.0
            fn = (lambda lo=lo, hi=hi: V.update_table(
                spark, path, {"val": F.lit(-1.0)},
                (F.col("id") >= lo) & (F.col("id") < hi)))
        elif op in ("delete_dv", "delete_cow", "delete_auto"):
            for k in range(lo, hi):
                expected.pop(k, None)
            mode = op.split("_")[1]
            fn = (lambda lo=lo, hi=hi, mode=mode: V.delete_from(
                spark, path,
                (F.col("id") >= lo) & (F.col("id") < hi), mode=mode))
        elif op == "merge":
            src_ids = list(range(lo, hi)) + list(
                range(10_000 + lo, 10_000 + lo + 10)
            )
            for k in src_ids:
                expected[k] = 777.0
            fn = (lambda src_ids=tuple(src_ids): V.merge_table(
                spark, path,
                spark.createDataFrame(
                    [(k, 777.0) for k in src_ids], "id long, val double"
                ),
                keys=["id"]))
        elif op == "append":
            new_ids = range(20_000 + i * 100, 20_000 + i * 100 + 25)
            for k in new_ids:
                expected[k] = 5.0
            fn = (lambda new_ids=tuple(new_ids): V.append_table(
                spark.createDataFrame(
                    [(k, 5.0) for k in new_ids], "id long, val double"
                ),
                path))
        elif op == "compact":
            fn = lambda: V.compact_table(spark, path, target_files=2)
        else:  # reorg
            fn = lambda: V.reorg_table(spark, path)
        workers.append(threading.Thread(target=run_with_retry, args=(fn,)))

    for th in workers:
        th.start()
    for th in workers:
        th.join()
    assert errors == [], errors

    # no lost update, no resurrection, nothing duplicated
    got = {
        r["id"]: r["val"] for r in V.read_table(spark, path).collect()
    }
    assert got == expected
    # metadata consistent with data: footer-count minus DV debt equals
    # the visible row count, and DESCRIBE runs clean
    assert V.table_count(path) == len(expected)
    detail = V.describe_table(path)
    assert detail["num_rows"] == len(expected)
    # every commit minted a distinct version (no clobbered manifests):
    # the log replays linearly to the current pointer
    cur = V.current_version(path)
    for v in range(1, cur + 1):
        V._read_manifest(path, v)


# ---------------------------------------------------------------------
# DV-debt property (round-6): interleave dv-mode deletes, auto-mode
# deletes (point and rewrite-forcing), OPTIMIZE, and REORG, asserting
# after EVERY op that (a) the visible rows stay model-exact (reads
# through the executor-side _dv_filter path) and (b) no file's DV debt
# reaches the auto bound (0.5 of physical rows) — pinning the
# threshold-ratchet arithmetic and the read-path refactor together.
# The dv-mode predicates are sparse by construction (mod-61 residues,
# ≤2 hits per 100-row file per op, ≤6 ops) so pure merge-on-read debt
# stacked on an auto-DV'd file stays under the bound too; auto enforces
# the bound for everything it touches; compaction/REORG must clear debt
# to zero.
# ---------------------------------------------------------------------

_DV_DEBT_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("del_dv"), st.integers(0, 60)),
        st.tuples(st.just("del_auto"), st.integers(0, 10)),
        st.tuples(st.just("del_auto_big"), st.integers(0, 3)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("reorg"), st.just(0)),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_DV_DEBT_OPS)
def test_dv_debt_bounded_and_reads_exact(spark, tmp_path_factory, ops):
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("dvdebt") / "tbl")
    n0 = 200
    V.create_table(
        spark.range(0, n0)
        .select(F.col("id"), F.col("id").cast("double").alias("v"))
        .repartitionByRange(4, "id"),
        path,
    )
    model = set(range(n0))

    def check(op):
        got = {
            r["id"]
            for r in V.read_table(spark, path).select("id").collect()
        }
        assert got == model, f"read drift after {op}"
        entries = V._read_manifest(path, V.current_version(path))["files"]
        for f in entries:
            if f.get("dv"):
                phys = pq.ParquetFile(f["path"]).metadata.num_rows
                assert f["dv"]["n"] < 0.5 * phys, (
                    f"DV debt at/over the auto bound after {op}: "
                    f"{f['path']} {f['dv']['n']}/{phys}"
                )

    for kind, arg in ops:
        if kind == "del_dv":
            V.delete_from(spark, path, F.col("id") % 61 == arg, mode="dv")
            model -= {i for i in model if i % 61 == arg}
        elif kind == "del_auto":
            V.delete_from(spark, path, F.col("id") % 11 == arg, mode="auto")
            model -= {i for i in model if i % 11 == arg}
        elif kind == "del_auto_big":
            # ~70% of an ORIGINAL file — whether auto rewrites or DVs
            # depends on the file layout of the moment (compaction
            # resizes files); the debt bound below is the invariant
            lo, hi = arg * 50, arg * 50 + 35
            V.delete_from(
                spark, path,
                (F.col("id") >= lo) & (F.col("id") < hi), mode="auto",
            )
            model -= {i for i in model if lo <= i < hi}
        elif kind == "compact":
            V.compact_table(spark, path, target_files=2)
            assert not any(
                f.get("dv")
                for f in V._read_manifest(
                    path, V.current_version(path)
                )["files"]
            ), "OPTIMIZE left DV debt behind"
        else:
            V.reorg_table(spark, path)
            assert not any(
                f.get("dv")
                for f in V._read_manifest(
                    path, V.current_version(path)
                )["files"]
            ), "REORG left DV debt behind"
        check((kind, arg))
