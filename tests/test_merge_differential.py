"""Multi-clause MERGE, differentially: ordered WHEN-clause lists run
through LakeSQL (parse tree -> merge_table) against a pure-Python row
model of Delta's semantics.

For each target row matched by the source, the first WHEN MATCHED
clause whose condition holds applies; for each unmatched source row,
the first WHEN NOT MATCHED clause; for each target row the source does
not match, the first WHEN NOT MATCHED BY SOURCE clause. A NULL
condition does not fire. Conditions read the target as well as the
source. Every statement is one commit, and its counts match the model.

One module-scoped target table is shallow-cloned per case (no data is
copied), so the cases cost one small merge each.
"""

from __future__ import annotations

import itertools

import pytest

from aws_etl_project2_fiap_spark.io import versioned as V
from aws_etl_project2_fiap_spark.lakesql import LakeSQL

COLS = ("k", "v", "tag", "g")


def _target_rows():
    # tag is NULL on every 7th key: conditions on it must not fire there
    return [
        (k, k * 1.0, None if k % 7 == 0 else "old", k % 4)
        for k in range(40)
    ]


def _source_rows():
    return [(k, k * 10.0, "new", k % 3) for k in range(20, 60)]


# (clause text, condition(t, s) -> bool, action(t, s) -> row | None);
# t/s are dicts (None for the absent side); conditions are written so
# that Python's value is False exactly where SQL's is FALSE or NULL
MATCHED = {
    "upd_tv": (
        "WHEN MATCHED AND t.v >= 25 AND s.k % 2 = 0 "
        "THEN UPDATE SET v = s.v + t.v",
        lambda t, s: t["v"] >= 25 and s["k"] % 2 == 0,
        lambda t, s: {**t, "v": s["v"] + t["v"]},
    ),
    "del_tag": (
        "WHEN MATCHED AND t.tag = 'old' AND s.k % 3 = 0 THEN DELETE",
        lambda t, s: t["tag"] == "old" and s["k"] % 3 == 0,
        lambda t, s: None,
    ),
    "upd_g": (
        "WHEN MATCHED AND s.g = t.g "
        "THEN UPDATE SET tag = 'same-g', g = s.g + 10",
        lambda t, s: s["g"] == t["g"],
        lambda t, s: {**t, "tag": "same-g", "g": s["g"] + 10},
    ),
}
MATCHED_LAST = {
    "star": (
        "WHEN MATCHED THEN UPDATE SET *",
        lambda t, s: True,
        lambda t, s: dict(s),
    ),
    "delete": (
        "WHEN MATCHED THEN DELETE",
        lambda t, s: True,
        lambda t, s: None,
    ),
}
NOT_MATCHED = {
    "ins_map": (
        "WHEN NOT MATCHED AND s.k % 4 = 0 "
        "THEN INSERT (k, v, tag) VALUES (s.k, s.v * 2, 'even4')",
        lambda t, s: s["k"] % 4 == 0,
        lambda t, s: {"k": s["k"], "v": s["v"] * 2, "tag": "even4",
                      "g": None},
    ),
    "ins_star": (
        "WHEN NOT MATCHED AND s.k % 5 = 0 THEN INSERT *",
        lambda t, s: s["k"] % 5 == 0,
        lambda t, s: dict(s),
    ),
    "ins_last": (
        "WHEN NOT MATCHED THEN INSERT (k, g) VALUES (s.k, -1)",
        lambda t, s: True,
        lambda t, s: {"k": s["k"], "v": None, "tag": None, "g": -1},
    ),
}
BY_SOURCE = {
    "bs_del": (
        "WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE",
        lambda t, s: t["k"] < 5,
        lambda t, s: None,
    ),
    "bs_upd": (
        "WHEN NOT MATCHED BY SOURCE AND t.tag = 'old' "
        "THEN UPDATE SET tag = 'orphan', v = t.v - 1",
        lambda t, s: t["tag"] == "old",
        lambda t, s: {**t, "tag": "orphan", "v": t["v"] - 1},
    ),
    "bs_last": (
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET g = t.g * 100",
        lambda t, s: True,
        lambda t, s: {**t, "g": t["g"] * 100},
    ),
}


def _last(names, unconditional):
    """Spark's parser requires a condition on every clause but the last
    of a kind: move the unconditional clause, if present, to the end."""
    return [n for n in names if n != unconditional] + (
        [unconditional] if unconditional in names else []
    )


def _cases():
    """Every ordering of the conditional MATCHED clauses, each with a
    different tail: an unconditional MATCHED clause or none, and a
    rotation of the NOT MATCHED and BY SOURCE lists."""
    nm, bs = list(NOT_MATCHED), list(BY_SOURCE)
    tails = [None, "star", "delete"]
    cases = []
    for i, order in enumerate(itertools.permutations(MATCHED)):
        r = i % len(nm)
        cases.append((
            list(order) + ([tails[i % 3]] if tails[i % 3] else []),
            _last((nm[r:] + nm[:r])[: 1 + i % 3], "ins_last"),
            _last((bs[r:] + bs[:r])[: 1 + (i + 1) % 3], "bs_last"),
        ))
    return cases


def _model(m, nm, bs):
    target = {r[0]: dict(zip(COLS, r)) for r in _target_rows()}
    source = {r[0]: dict(zip(COLS, r)) for r in _source_rows()}
    out, counts = {}, {"updated": 0, "deleted": 0, "inserted": 0}

    def first(clauses, t, s):
        for _sql, cond, action in clauses:
            if cond(t, s):
                return action
        return None

    for k, t in target.items():
        s = source.get(k)
        action = first(m if s else bs, t, s)
        if action is None:
            out[k] = t
            continue
        row = action(t, s)
        if row is None:
            counts["deleted"] += 1
        else:
            counts["updated"] += 1
            out[k] = row
    for k, s in source.items():
        if k in target:
            continue
        action = first(nm, None, s)
        if action is not None:
            counts["inserted"] += 1
            out[k] = action(None, s)
    rows = {k: tuple(r[c] for c in COLS) for k, r in out.items()}
    return rows, counts


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("merge_diff")
    schema = "k long, v double, tag string, g long"
    base, src = str(root / "base"), str(root / "src")
    V.create_table(
        spark.createDataFrame(_target_rows(), schema).repartition(3), base
    )
    V.create_table(spark.createDataFrame(_source_rows(), schema), src)
    return root, base, src


@pytest.mark.parametrize(
    "m, nm, bs", _cases(), ids=lambda c: "+".join(c) if c else "none"
)
def test_merge_clause_lists_match_row_model(spark, tables, m, nm, bs):
    root, base, src = tables
    clauses = (
        [MATCHED.get(n) or MATCHED_LAST[n] for n in m],
        [NOT_MATCHED[n] for n in nm],
        [BY_SOURCE[n] for n in bs],
    )
    tgt = str(root / "_".join(["t"] + m + nm + bs))
    V.clone_table(spark, base, tgt)
    lk = LakeSQL(spark, {"tgt": tgt, "src": src})
    res = lk.sql(
        "MERGE INTO tgt AS t USING src AS s ON t.k = s.k "
        + " ".join(c[0] for cl in clauses for c in cl)
    ).first()
    want_rows, want_counts = _model(*clauses)
    got = {
        r["k"]: tuple(r[c] for c in COLS)
        for r in V.read_table(spark, tgt).collect()
    }
    assert got == want_rows
    assert {k: int(res[k]) for k in want_counts} == want_counts
    assert V.current_version(tgt) == 2  # clone v1, the merge one commit
    assert V.current_version(base) == 1
