"""Incrementally-maintained aggregate materialized views over
versioned tables, refreshed from the change data feed.

The missing lakehouse verb after MERGE/CDF/time-travel: keep a
groupBy-aggregate of a mutating versioned table fresh WITHOUT
recomputing it — ``refresh()`` reads only ``table_changes`` between the
view's watermark and the source head (cost ∝ changed files, the CDF
guarantee) and folds the delta in.

Reference parity: the reference pipeline re-runs its aggregation job
over the full partition on every trigger (reference src recomputes each
day's aggregate from the raw table each run); here the same freshness
costs O(changed rows) regardless of table size.

Two refresh strategies, auto-selected per view:

- **delta** (every aggregate self-maintainable: sum / count / avg):
  the CDF rows fold algebraically — inserts add, deletes subtract
  (an UPDATE's rewritten-but-unchanged rows appear as delete+insert
  and cancel exactly). NO source read at all: a refresh after a
  point-delete on a 100 TB source touches the CDF's files and the
  view, nothing else.
- **scoped** (any min / max present: not self-maintainable under
  deletes): recompute ONLY the groups the CDF touched — the group list
  comes from the CDF, the source scan is semi-join-pruned to those
  groups (manifest stats / cluster layout prune files when the source
  is clustered by the group key), and vanished groups are deleted in
  the same merge.

Both land on the view (itself a versioned table) through
``merge_table``'s bounded-broadcast probe; the view's ``mv`` metadata
(source path, group keys, agg specs, source-version watermark) lives in
the manifest and rides the same state inheritance as the column
mapping, so history/rollback/clone see it.

State columns: each ``sum``/``count``/``min``/``max`` output is stored
under its own name; ``avg`` stores ``<name>__mvsum`` + ``<name>__mvcnt``
and derives on read (averages don't fold — sums and counts do); a
hidden ``__mv_cnt`` row-count detects groups whose last row left.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import versioned as V

_SELF_MAINTAINABLE = {"sum", "count", "avg"}
_SUPPORTED = {"sum", "count", "avg", "min", "max"}

# hidden row-count: present in every view so refresh can tell "group
# now empty → delete its row" from "group untouched"
_CNT = "__mv_cnt"

# merge_table's target and source aliases: a view column of either name
# makes every refresh merge's column references ambiguous
_MERGE_ALIASES = {"t", "s"}


class StaleDimensions(RuntimeError):
    """A star-schema view's dimension table advanced past the version
    pinned at create: the incremental fold would mix dim states."""


def _check_spec(group_by: list[str], aggs: dict) -> None:
    if not group_by:
        raise ValueError("group_by must name at least one column")
    for out, (fn, col) in aggs.items():
        if fn not in _SUPPORTED:
            raise ValueError(
                f"agg {out!r}: {fn!r} not in {sorted(_SUPPORTED)}"
            )
        if fn != "count" and col is None:
            raise ValueError(f"agg {out!r}: {fn} needs a source column")
        if out in group_by or out == _CNT or out.endswith(
            ("__mvsum", "__mvcnt", "__mvnn")
        ):
            raise ValueError(f"agg output name {out!r} is reserved")
    aliased = sorted(
        c for c in [*group_by, *aggs] if c.lower() in _MERGE_ALIASES
    )
    if aliased:
        raise ValueError(
            f"view column(s) {aliased} collide with the refresh merge's "
            f"target/source aliases {sorted(_MERGE_ALIASES)}; rename them"
        )


def _guard_reserved_cols(cols: list[str], what: str) -> None:
    """The view's state counters (``__mv_cnt``), the evolve probe's
    per-dim hit flags (``__mv_hit_{i}``), and the signed-leg marker
    (``__mv_sign``) all live in the ``__mv_`` prefix namespace. A fact
    or dim column with that prefix would make the evolve probe's left
    join ambiguous or silently corrupt the any-hit filter — reject at
    create AND at evolve (the source may have gained such a column
    since create), mirroring the reserved-name check ``_check_spec``
    applies to view outputs."""
    bad = sorted(c for c in cols if c.startswith("__mv"))
    if bad:
        raise ValueError(
            f"{what} column(s) {bad} collide with the materialized "
            f"view's reserved __mv* namespace (state counters / evolve "
            f"probe flags); rename them first"
        )


def _dec(col: str) -> Column:
    """Sums/averages fold through DECIMAL(28,6): float addition is
    order-dependent AND a delta-maintained float sum would accumulate
    a little error on EVERY refresh forever — decimal folding is exact,
    so the view never drifts from a recompute no matter how many
    incremental refreshes it has absorbed."""
    return F.col(col).cast("decimal(28,6)")


def _state_exprs(aggs: dict) -> list[Column]:
    """Aggregate expressions computing the view's STATE columns from
    source rows (used by create and by scoped recompute)."""
    exprs = [F.count(F.lit(1)).alias(_CNT)]
    for out, (fn, col) in aggs.items():
        if fn == "sum":
            exprs.append(F.sum(_dec(col)).alias(out))
            # non-null input count: SQL SUM of an all-NULL group is
            # NULL, not 0 — the delta fold's coalesce(...)+coalesce(...)
            # can't tell them apart, so the view derives NULL on read
            # whenever this counter says no non-null value ever arrived
            exprs.append(F.count(col).alias(f"{out}__mvnn"))
        elif fn == "count":
            exprs.append(
                (F.count(col) if col else F.count(F.lit(1))).alias(out)
            )
        elif fn == "avg":
            exprs.append(F.sum(_dec(col)).alias(f"{out}__mvsum"))
            exprs.append(F.count(col).alias(f"{out}__mvcnt"))
        elif fn == "min":
            exprs.append(F.min(col).alias(out))
        elif fn == "max":
            exprs.append(F.max(col).alias(out))
    return exprs


def _fold_clauses(state_cols: list[str]) -> dict:
    """``merge_table`` clauses folding a signed delta into the view
    state in one merge: a group whose count the delta takes to 0 or
    below is deleted (its last row left — the count is the truth; sums
    are exact zeros only for int aggregates), any other matched group
    adds the delta, and a new group inserts only when its count is
    above 0. No ``__mv_cnt`` = 0 row is ever written."""
    cnt = F.coalesce(F.col(f"t.{_CNT}"), F.lit(0)) + F.col(f"s.{_CNT}")
    add = {
        c: F.coalesce(F.col(f"t.{c}"), F.lit(0))
        + F.coalesce(F.col(f"s.{c}"), F.lit(0))
        for c in state_cols
    }
    return {
        "when_matched": [(cnt <= 0, "delete"), (None, add)],
        "insert_unmatched": [(F.col(f"s.{_CNT}") > 0, "insert")],
    }


def _recompute(
    src: DataFrame, touched: DataFrame, keys: list[str], aggs: dict
) -> DataFrame:
    """The touched groups' state recomputed from ``src``: one row per
    touched group, with NULL state (``__mv_cnt`` NULL) for a group no
    source row survives in — :func:`_recompute_clauses` deletes those
    in the same merge."""
    state = (
        src.join(touched, keys, "left_semi")
        .groupBy(*keys)
        .agg(*_state_exprs(aggs))
    )
    return touched.join(state, keys, "left")


def _recompute_clauses() -> dict:
    """``merge_table`` clauses replacing recomputed groups: a vanished
    group (NULL ``__mv_cnt``) is deleted, any other replaces its state
    row or, when new, inserts it."""
    gone = F.col(f"s.{_CNT}").isNull()
    return {
        "when_matched": [(gone, "delete"), (None, "replace")],
        "insert_unmatched": [(~gone, "insert")],
    }


def _delta_exprs(aggs: dict, sign: Column) -> list[Column]:
    """Aggregate expressions computing the CDF DELTA of every state
    column: inserts count +1, deletes −1 — sum/count fold by addition.
    Only called when every agg is self-maintainable."""
    exprs = [F.sum(sign).alias(_CNT)]
    for out, (fn, col) in aggs.items():
        if fn == "sum":
            exprs.append(
                F.sum(
                    F.when(F.col(col).isNotNull(), sign * _dec(col))
                ).alias(out)
            )
            exprs.append(
                F.sum(
                    F.when(F.col(col).isNotNull(), sign).otherwise(0)
                ).alias(f"{out}__mvnn")
            )
        elif fn == "count":
            exprs.append(
                F.sum(
                    sign if col is None
                    else F.when(F.col(col).isNotNull(), sign).otherwise(0)
                ).alias(out)
            )
        elif fn == "avg":
            nn = F.col(col).isNotNull()
            exprs.append(F.sum(F.when(nn, sign * _dec(col))).alias(
                f"{out}__mvsum"
            ))
            exprs.append(
                F.sum(F.when(nn, sign).otherwise(0)).alias(f"{out}__mvcnt")
            )
    return exprs


def _signed_delta(rows: DataFrame, keys: list[str], aggs: dict,
                  sign: Column) -> DataFrame:
    """The signed delta of ``rows`` (``sign`` +1 adds a row, −1 takes
    it away) per group, as view state columns. All-zero deltas drop
    (an UPDATE's unchanged rows cancel exactly: delete −x + insert +x):
    no reason to probe the view for groups whose net change is
    nothing. NULL-safe: a delta whose every term is NULL contributes
    nothing either."""
    delta = rows.groupBy(*keys).agg(*_delta_exprs(aggs, sign))
    nonzero = F.lit(False)
    for c in delta.columns:
        if c not in keys:
            nonzero = nonzero | (F.coalesce(F.col(c), F.lit(0)) != 0)
    return delta.filter(nonzero)


def _null_key_expr(keys: list[str]) -> Column:
    """TRUE where any group key is NULL (aggregated via F.max so
    :func:`_fold` reads it in the same collect as its row count — no
    extra Spark job per fold)."""
    cond = None
    for c in keys:
        cond = F.col(c).isNull() if cond is None else cond | F.col(c).isNull()
    return F.max(cond.cast("int"))


def _raise_null_keys(keys: list[str], what: str) -> None:
    raise ValueError(
        f"{what} contains NULL group key(s) {keys} — NULL group "
        f"keys are not maintainable through the MERGE probe; filter "
        f"or coalesce them in the source first, then "
        f"full_refresh_aggregate_view"
    )


def _lost_refresh(dst: str, frm: int, to: int) -> dict:
    """Another refresher claimed this CDF range first (its commit CAS
    beat ours): nothing was folded twice — report a no-op."""
    return {
        "strategy": "noop", "from_version": frm, "to_version": to,
        "view_version": V.current_version(dst), "groups_changed": 0,
    }


def _fold(
    spark: SparkSession,
    dst: str,
    view_v: int,
    new_meta: dict,
    keys: list[str],
    rows: DataFrame,
    what: str,
    operation: str,
    recompute: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[int, int]:
    """Commit one fold into the view ``dst`` as one commit CAS'd on
    ``view_v`` (the version its watermark was read from) that records
    ``new_meta``: every refresh and dimension evolution goes through
    here. ``rows`` is a signed delta (:func:`_signed_delta`) folded by
    addition, or — with ``recompute`` (touched groups → their state,
    :func:`_recompute`) — the touched-group list, whose groups are
    recomputed and replaced.

    ``rows`` is materialized once (the count, the merge's key profile,
    probe and join all re-read it, and its lineage is a change-feed
    scan), counted, and checked for NULL group keys (``what`` names it
    in the error: the MERGE probes join on SQL equality, where a
    NULL-keyed group could never be updated). An empty fold still
    advances the watermark in a metadata-only commit titled
    ``operation`` — and builds no recompute, so it reads no source
    rows. Returns ``(view_version, groups_changed)``; a lost CAS raises
    :class:`~versioned.CommitConflict` for the caller to resolve."""
    rows = rows.localCheckpoint(eager=True)
    stats = rows.agg(
        F.count(F.lit(1)).alias("n"), _null_key_expr(keys).alias("null_key")
    ).collect()[0]
    if stats["null_key"]:
        _raise_null_keys(keys, what)
    n = int(stats["n"])
    if n == 0:
        return V._commit(
            dst,
            V._read_manifest(dst, view_v)["files"],
            extra={"mv": new_meta},
            expect_version=view_v,
            operation=operation,
        ), 0
    if recompute is None:
        clauses = _fold_clauses([c for c in rows.columns if c not in keys])
    else:
        # materialized for the same reason as ``rows``; its lineage is
        # a source scan
        rows = recompute(rows).localCheckpoint(eager=True)
        clauses = _recompute_clauses()
    return V.merge_table(
        spark, dst, rows, keys, **clauses,
        extra={"mv": new_meta}, expect_version=view_v,
    )["version"], n


def _with_dims(spark: SparkSession, df: DataFrame, dims: list) -> DataFrame:
    """Join the fact rows to each pinned dimension (broadcast inner
    join on the dim's keys — the star-schema FK assumption: fact rows
    without a dim match fall out of the view, exactly as the defining
    join query would drop them)."""
    for d in dims or []:
        dim_df = V.read_table(spark, d["path"], version=d["version"])
        # a dim may GAIN a __mv* column after create (schema
        # evolution): guard on every join — create's joined-frame
        # check plus this covers each evolve/refresh leg, where a
        # colliding column would be clobbered by the signed-leg
        # marker instead of erroring (driver-side metadata, no IO)
        _guard_reserved_cols(
            dim_df.columns, f"the dimension {d['path']}"
        )
        # None = no projection requested (full dim); [] = project
        # join keys ONLY (the SQL layer qualified nothing but the
        # keys) — an empty list is a real projection, not falsy
        if d.get("select") is not None:
            dim_df = dim_df.select(
                *dict.fromkeys(list(d["keys"]) + list(d["select"]))
            )
        df = df.join(F.broadcast(dim_df), list(d["keys"]))
    return df


def create_aggregate_view(
    spark: SparkSession,
    source: str,
    dst: str,
    group_by: list[str],
    aggs: dict[str, tuple[str, str | None]],
    dims: list[dict] | None = None,
    bucket_by_key: int | None = 32,
) -> int:
    """CREATE MATERIALIZED VIEW dst AS SELECT group_by, aggs FROM
    source [JOIN dims...] GROUP BY group_by.

    ``aggs``: ``{output_name: (fn, source_col)}`` with fn one of
    sum / count / avg / min / max (``count`` with ``None`` counts
    rows). The initial state is one full aggregation of the source's
    CURRENT version (map-side partial — the only full-source read the
    view ever does); every later :func:`refresh` is incremental.

    ``dims``: optional star-schema dimensions —
    ``[{"path": table, "keys": [join cols], "select": [cols]}]`` —
    broadcast-inner-joined to the fact before grouping, so group keys
    and aggregate inputs may come from dim columns (revenue by nation,
    maintained incrementally). Each dim is PINNED at its current
    version: the delta fold is only correct while dims are immutable,
    so :func:`refresh_aggregate_view` refuses if a dim advanced
    (recreate the view or :func:`full_refresh_aggregate_view` to
    re-pin) — the honest contract, not silent staleness.

    ``bucket_by_key`` (default 32): the view's state is written
    bucket-clustered on the leading group key, so every refresh
    merge's probe prunes view files by BUCKET MEMBERSHIP — a
    few-group delta rewrites ~delta/N of a huge view instead of all
    of it. Min/max stats alone can't do this: a handful of random
    group keys spans nearly the whole key range, pruning nothing.
    ``None`` disables (tiny views where one file beats 32)."""
    aggs = {k: (fn, col) for k, (fn, col) in aggs.items()}
    _check_spec(group_by, aggs)
    dims = [
        {
            "path": d["path"],
            "keys": list(d["keys"]),
            "select": (
                None if d.get("select") is None else list(d["select"])
            ),
            "version": V.current_version(d["path"]),
        }
        for d in (dims or [])
    ]
    src_version = V.current_version(source)
    joined = _with_dims(
        spark,
        V.read_table(spark, source, version=src_version),
        dims,
    )
    _guard_reserved_cols(joined.columns, "the view's source/dim")
    state = joined.groupBy(*group_by).agg(*_state_exprs(aggs))
    # NULL group keys: the refresh MERGE probes join on SQL equality
    # (NULL matches nothing — the Delta MERGE caveat), so a NULL-keyed
    # group could never be updated, only duplicated. Reject up front
    # rather than drift silently later; every fold checks again, in
    # case the source gained NULL-keyed rows since.
    if state.agg(_null_key_expr(group_by).alias("x")).collect()[0]["x"]:
        _raise_null_keys(group_by, "the view's initial state")
    meta = {
        "source": source,
        "source_version": src_version,
        "group_by": list(group_by),
        "aggs": {k: [fn, col] for k, (fn, col) in aggs.items()},
        "dims": dims,
    }
    cluster = (
        [f"bucket({int(bucket_by_key)},{group_by[0]})"]
        if bucket_by_key
        else None
    )
    return V.create_table(
        state, dst, extra={"mv": meta}, cluster_by=cluster
    )


def view_meta(dst: str, version: int | None = None) -> dict:
    """The view's spec (group keys, aggs, source pin, dims) as of
    ``version`` (default: current). The spec is per-manifest state, so
    time travel reads each version under its OWN spec — a view whose
    aggregate list or dim set evolved replays its history correctly."""
    m = V._read_manifest(
        dst, V.current_version(dst) if version is None else version
    ).get("mv")
    if not m:
        raise ValueError(
            f"{dst} is not a materialized view"
            + (f" at v{version}" if version is not None else "")
        )
    return m


def _check_state_schema(
    dst: str, meta: dict, version: int | None = None
) -> None:
    """Pre-round-7 view state lacks the per-sum ``__mvnn`` counter;
    reading or folding it would fail with an opaque unresolved-column
    / schema-conflict error — point at the migration verb instead.
    The view's columns come from its manifest (no Spark job)."""
    cols = set(V.table_schema(dst, version).fieldNames())
    missing = [
        f"{out}__mvnn"
        for out, (fn, _c) in meta["aggs"].items()
        if fn == "sum" and f"{out}__mvnn" not in cols
    ]
    if missing:
        raise ValueError(
            f"view state predates the sum non-null counter (missing "
            f"{missing}); run full_refresh_aggregate_view once to "
            f"regenerate the state, then refresh incrementally as usual"
        )


def read_aggregate_view(
    spark: SparkSession, dst: str, version: int | None = None
) -> DataFrame:
    """The view's logical result: group keys + the declared aggregate
    outputs (avg derived from its sum/count state, internals hidden).
    ``version`` time-travels: the state AND the spec are read at that
    version (the spec is per-manifest, like a column mapping), so a
    view whose refresh history is retained replays any past result.

    Filters ``__mv_cnt > 0``: every fold now deletes a group whose
    last row left in the same merge that updates the rest, but views
    written before that (when the cleanup was a separate commit a
    crash could skip) may still hold zero-count state rows. Such a row
    is pure bookkeeping — a recompute would not emit the group — so
    the read hides it."""
    meta = view_meta(dst, version)
    _check_state_schema(dst, meta, version)
    df = V.read_table(spark, dst, version=version).filter(F.col(_CNT) > 0)
    cols: list[Column] = [F.col(c) for c in meta["group_by"]]
    for out, (fn, _col) in meta["aggs"].items():
        if fn == "avg":
            cols.append(
                (
                    F.col(f"{out}__mvsum")
                    / F.nullif(F.col(f"{out}__mvcnt"), F.lit(0))
                ).alias(out)
            )
        elif fn == "sum":
            # NULL-vs-0 exactness: the fold stores 0 for a group whose
            # inputs were all NULL; __mvnn says whether any non-null
            # value ever contributed, so the read derives SQL's NULL
            cols.append(
                F.when(
                    F.col(f"{out}__mvnn") > 0,
                    F.coalesce(F.col(out), F.lit(0).cast("decimal(28,6)")),
                ).alias(out)
            )
        else:
            cols.append(F.col(out))
    return df.select(*cols)


def full_refresh_aggregate_view(spark: SparkSession, dst: str) -> dict:
    """Recompute the view from scratch at the source's (and every
    dimension's) CURRENT version and re-pin the watermarks — the
    escape hatch when a pinned dimension changed (StaleDimensions) or
    an operator simply wants a clean slate. One overwrite commit; the
    old state stays time-travelable."""
    meta = view_meta(dst)
    aggs = {k: (fn, col) for k, (fn, col) in meta["aggs"].items()}
    dims = [
        {**d, "version": V.current_version(d["path"])}
        for d in (meta.get("dims") or [])
    ]
    to = V.current_version(meta["source"])
    state = (
        _with_dims(
            spark,
            V.read_table(spark, meta["source"], version=to),
            dims,
        )
        .groupBy(*meta["group_by"])
        .agg(*_state_exprs(aggs))
    )
    V.overwrite_table(state, dst)
    ver = V._commit(
        dst,
        V._read_manifest(dst, V.current_version(dst))["files"],
        extra={"mv": {**meta, "source_version": to, "dims": dims}},
        operation=f"FULL_REFRESH_MV(v{to})",
    )
    return {
        "strategy": "full", "from_version": meta["source_version"],
        "to_version": to, "view_version": ver,
        "groups_changed": -1,
    }


def refresh_aggregate_view(
    spark: SparkSession, dst: str, evolve_dims: bool = False
) -> dict:
    """REFRESH MATERIALIZED VIEW, incrementally.

    ``evolve_dims=True``: if any pinned dimension advanced, fold the
    dim change(s) first via :func:`evolve_dimensions`, then the fact
    delta — the one-verb form a scheduled refresher wants instead of
    catching :class:`StaleDimensions`. The result dict gains a
    ``"dims_evolved"`` count when an evolution ran.

    Reads ``table_changes(source, watermark, head)`` — cost ∝ files
    changed since the last refresh, NEVER table size — and folds it in:

    - all-self-maintainable views take the **delta** path: one
      aggregation of the CDF (signed: insert +, delete −) merged into
      the view state by addition in ONE merge; brand-new groups insert,
      groups whose ``__mv_cnt`` hits zero are deleted. The source is
      not read.
    - min/max views take the **scoped** path: the CDF contributes only
      its DISTINCT GROUP LIST; those groups are recomputed from the
      source head (semi-join-pruned scan) and merge-replaced; touched
      groups with no surviving rows are deleted in the same merge.

    Each fold is ONE view commit that also advances the watermark, so
    a crash leaves the view at its prior version and a rerun folds the
    same range again.

    Returns {"strategy", "from_version", "to_version", "view_version",
    "groups_changed"}; a no-op refresh (watermark == head) returns
    early with strategy "noop".

    Concurrency: exactly-once under racing refreshers. The watermark
    lives in the view's own manifest, and the refresh's one
    state-changing commit is a CAS on the view version the watermark
    was read from (``expect_version`` through ``merge_table``) — of two
    refreshers folding the same CDF range, exactly one commits; the
    loser's ``CommitConflict`` is absorbed into a no-op result, so a
    range can never fold twice. Sequential replays (a crashed loop
    restarting, a fresh checkpoint re-triggering old offsets) remain
    exactly-once for the same reason."""
    view_v = V.current_version(dst)
    meta = V._read_manifest(dst, view_v).get("mv")
    if not meta:
        raise ValueError(f"{dst} is not a materialized view")
    source = meta["source"]
    aggs = {k: (fn, col) for k, (fn, col) in meta["aggs"].items()}
    keys = list(meta["group_by"])
    dims = meta.get("dims") or []
    moved = [
        d["path"]
        for d in dims
        if V.current_version(d["path"]) != d["version"]
    ]
    if moved:
        if not evolve_dims:
            raise StaleDimensions(
                f"dimension(s) {moved} advanced past the view's pinned "
                f"version(s); the incremental fold would silently mix "
                f"dim states — run evolve_dimensions to fold the dim "
                f"change(s) incrementally (or pass evolve_dims=True), "
                f"or full_refresh_aggregate_view to re-pin from scratch"
            )
        ev = evolve_dimensions(spark, dst)
        # keep evolve_dims on the recursive call: a dim commit landing
        # DURING the evolution would otherwise re-raise StaleDimensions
        # — the exact failure the flag exists to prevent
        out = refresh_aggregate_view(spark, dst, evolve_dims=True)
        out["dims_evolved"] = (
            ev["dims_evolved"] + out.get("dims_evolved", 0)
        )
        out["groups_changed"] += ev["groups_changed"]
        if out["strategy"] == "noop" and (
            ev["groups_changed"] or ev["dims_evolved"]
        ):
            # a dim-only move still changed the view: don't report the
            # whole call as a no-op
            out["strategy"] = ev["strategy"]
        return out
    _check_state_schema(dst, meta, view_v)
    frm = meta["source_version"]
    to = V.current_version(source)
    if to == frm:
        return {
            "strategy": "noop", "from_version": frm, "to_version": to,
            "view_version": V.current_version(dst), "groups_changed": 0,
        }
    cdf = _with_dims(spark, V.table_changes(spark, source, frm, to), dims)
    if all(fn in _SELF_MAINTAINABLE for fn, _ in aggs.values()):
        strategy, recompute, what = "delta", None, "the CDF delta"
        rows = _signed_delta(
            cdf, keys, aggs,
            F.when(F.col("_change_type") == "insert", F.lit(1))
            .otherwise(F.lit(-1)),
        )
    else:
        # scoped: recompute only the touched groups from the source
        # head. (A source OPTIMIZE re-emits its rewritten files' rows in
        # the CDF, so compaction triggers recompute of those files'
        # groups — correct and bounded by the compacted bytes, but
        # schedule big compactions with that in mind.)
        strategy, what = "scoped", "the CDF's touched-group list"
        rows = cdf.select(*keys).distinct()

        def recompute(touched: DataFrame) -> DataFrame:
            src = V.read_table(spark, source, version=to)
            return _recompute(
                _with_dims(spark, src, dims), touched, keys, aggs
            )
    # exactly-once under racing refreshers: the fold CASes on the view
    # version the watermark was read from — the loser's conflict means
    # the OTHER refresher folded this range
    try:
        ver, n = _fold(
            spark, dst, view_v, {**meta, "source_version": to}, keys,
            rows, what, f"REFRESH_MV(v{frm}->v{to})", recompute,
        )
    except V.CommitConflict:
        if view_meta(dst)["source_version"] >= to:
            return _lost_refresh(dst, frm, to)
        raise
    return {
        "strategy": strategy, "from_version": frm, "to_version": to,
        "view_version": ver, "groups_changed": n,
    }


def _evolve_scoped_batched(
    spark: SparkSession,
    dst: str,
    meta: dict,
    aggs: dict,
    keys: list[str],
    dims: list[dict],
    moved: list[int],
    changed: dict,
    fact: DataFrame,
    affected_all: DataFrame,
    hit_cols: list[str],
    view_v: int,
) -> dict:
    """Scoped (min/max) dim evolution, ALL moved dims in one commit.
    ``view_v`` is the version ``meta`` was read from — the CAS target,
    so a commit racing in since the caller's snapshot conflicts loudly
    instead of being overwritten with legs derived from stale pins.

    The touched-group superset is the union, over every moved dim, of
    the affected rows' groups evaluated under the ALL-OLD dim versions
    and under the ALL-NEW versions: a group's value changes only if
    some row enters or leaves it, such a row carries a changed dim key
    (so it is in some dim's affected set), and its exact old/new group
    comes from evaluating that row under all-old / all-new — so the
    union covers every changing group, and recomputing a superset is
    always exact. Cost: the touched legs read the CHECKPOINTED
    affected subset (no fact IO), the recompute is the one extra fact
    probe — two fact scans per evolve call no matter how many dims
    moved, vs 1 + 2k for the per-dim fold this replaces. The single
    CAS'd commit re-pins every moved dim at once: a crash means
    nothing happened (retry redoes the evolution); vanished groups are
    deleted in the same commit."""
    old_dims = dims
    new_dims = [
        {**d, "version": changed[i][0]} if i in changed else dict(d)
        for i, d in enumerate(dims)
    ]
    touched = None
    for i in moved:
        affected = affected_all.filter(
            F.coalesce(F.col(f"__mv_hit_{i}"), F.lit(False))
        ).drop(*hit_cols)
        for dd in (old_dims, new_dims):
            lg = _with_dims(spark, affected, dd).select(*keys)
            touched = lg if touched is None else touched.unionByName(lg)
    try:
        ver, n = _fold(
            spark, dst, view_v, {**meta, "dims": new_dims}, keys,
            touched.distinct(), "the dim-evolution touched-group list",
            f"EVOLVE_MV_DIMS({len(moved)})",
            lambda t: _recompute(
                _with_dims(spark, fact, new_dims), t, keys, aggs
            ),
        )
    except V.CommitConflict:
        # lost the CAS: nothing of ours committed — restart from a
        # fresh snapshot (noop if the racer folded everything)
        return evolve_dimensions(spark, dst)
    return {
        "strategy": "scoped", "dims_evolved": len(moved),
        "groups_changed": n, "view_version": ver,
    }


def evolve_dimensions(spark: SparkSession, dst: str) -> dict:
    """Fold advanced DIMENSION versions into a star-schema view
    incrementally — the verb :class:`StaleDimensions` points at.

    For each dim that moved past its pinned version, the dim's own
    change feed identifies exactly which dim keys changed; only fact
    rows joining those keys can change the view. Cost ∝ (changed dim
    keys × their fact rows), never table or view size:

    - **delta views** (all aggs self-maintainable): the affected fact
      rows are re-joined twice — against the dim's OLD pinned version
      with sign −1 and its NEW version with sign +1 — and the signed
      union folds through the same algebra as a fact-CDF refresh. A
      dim UPDATE that moves a fact row between groups subtracts it
      from the old group and adds it to the new one in one merge; a
      dim-key DELETE removes its rows from the view (star-schema
      inner-join semantics); an INSERT admits previously-dropped fact
      rows.
    - **scoped views** (min/max present): the affected rows contribute
      only their DISTINCT group list (groups under the all-old dim
      versions ∪ groups under the all-new versions — a superset of
      every group whose membership changes); those groups are
      recomputed ONCE from the fact at the view's watermark joined to
      ALL dims at their new versions, and merge-replaced in a single
      CAS'd commit covering every moved dim; groups with no surviving
      rows are deleted in the same commit.

    The fact is read AT THE VIEW'S WATERMARK version — dim evolution
    and fact refresh are orthogonal folds; run
    :func:`refresh_aggregate_view` before/after for fact changes.
    Delta views fold each dim in its own commit that re-pins that
    dim's version, so a crash mid-way resumes exactly where it left
    (the same exactly-once watermark argument as refresh); scoped
    views fold all moved dims in ONE CAS'd commit, so a crash means
    nothing happened and the retry redoes the whole evolution —
    all-or-nothing rather than resumable, equally crash-safe. Dims
    whose CDF range is no longer derivable (vacuumed manifests) raise
    :class:`StaleDimensions` — full_refresh_aggregate_view remains the
    escape hatch.

    **One fact pass for all moved dims**: every moved dim's changed
    keys are broadcast LEFT-joined onto the fact in one stacked probe
    (per-dim hit flags), the any-hit rows are checkpointed, and each
    dim's signed legs are staged from that materialized delivery-sized
    subset — k moved dims cost ONE pruned fact scan for the legs, not
    k. Scoped views add exactly one more fact probe (the touched-group
    recompute must see the touched groups' UNAFFECTED rows too): two
    fact scans total per evolve call, regardless of how many dims
    moved.

    Returns {"strategy", "dims_evolved", "groups_changed",
    "view_version"}."""
    # version FIRST, meta FROM that manifest (same order as refresh):
    # reading meta from "current" and the CAS version later would open
    # a window where a racing evolver's commit lands in between — our
    # CAS would then succeed against the post-race version while our
    # legs were derived from the PRE-race dim pins, silently folding
    # the same dim delta twice. Every commit below CASes on view_v and
    # threads the returned version forward, so any foreign commit
    # between ours raises CommitConflict instead of double-folding.
    view_v = V.current_version(dst)
    meta = view_meta(dst, view_v)
    aggs = {k: (fn, col) for k, (fn, col) in meta["aggs"].items()}
    keys = list(meta["group_by"])
    dims = [dict(d) for d in (meta.get("dims") or [])]
    moved = [
        i for i, d in enumerate(dims)
        if V.current_version(d["path"]) != d["version"]
    ]
    if not moved:
        return {
            "strategy": "noop", "dims_evolved": 0, "groups_changed": 0,
            "view_version": V.current_version(dst),
        }
    delta_ok = all(fn in _SELF_MAINTAINABLE for fn, _ in aggs.values())
    src_watermark = meta["source_version"]
    fact = V.read_table(spark, meta["source"], version=src_watermark)
    # the source may have gained a __mv_-prefixed column since create
    # (schema evolution): it would collide with the probe's hit flags
    _guard_reserved_cols(fact.columns, "the view's fact source")
    # only fact rows joining a changed dim key can move the view; the
    # changed-key sets are delivery-sized (dim mutations), so the fact
    # is probed ONCE with all of them stacked as broadcast LEFT joins
    # (per-dim hit flags) and the any-hit subset checkpointed — the
    # fact scan is the only big IO, and it happens exactly once no
    # matter how many dims moved
    changed: dict[int, tuple[int, DataFrame]] = {}
    probe = fact
    hit_cols: list[str] = []
    for i in moved:
        d = dims[i]
        cur_v = V.current_version(d["path"])
        try:
            dim_cdf = V.table_changes(spark, d["path"], d["version"], cur_v)
        except (FileNotFoundError, OSError) as exc:
            raise StaleDimensions(
                f"dimension {d['path']} has no derivable change feed "
                f"v{d['version']}->v{cur_v} (vacuumed?); run "
                f"full_refresh_aggregate_view"
            ) from exc
        dkeys = list(d["keys"])
        ck = dim_cdf.select(*dkeys).distinct().localCheckpoint(eager=True)
        changed[i] = (cur_v, ck)
        hit = f"__mv_hit_{i}"
        probe = probe.join(
            F.broadcast(ck.withColumn(hit, F.lit(True))), dkeys, "left"
        )
        hit_cols.append(hit)
    any_hit = F.lit(False)
    for h in hit_cols:
        any_hit = any_hit | F.coalesce(F.col(h), F.lit(False))
    affected_all = probe.filter(any_hit).localCheckpoint(eager=True)
    if not delta_ok:
        return _evolve_scoped_batched(
            spark, dst, meta, aggs, keys, dims, moved, changed,
            fact, affected_all, hit_cols, view_v,
        )
    total_groups = 0
    total_folded = 0
    for i in moved:
        d = dims[i]
        cur_v, _ck = changed[i]  # keys already folded into the probe
        affected = affected_all.filter(
            F.coalesce(F.col(f"__mv_hit_{i}"), F.lit(False))
        ).drop(*hit_cols)

        def leg(dim_version: int, sign: int) -> DataFrame:
            dd = [dict(x) for x in dims]
            dd[i] = {**d, "version": dim_version}
            return _with_dims(spark, affected, dd).withColumn(
                "__mv_sign", F.lit(sign)
            )

        new_meta = {
            **meta,
            "dims": [
                {**x, "version": cur_v} if j == i else x
                for j, x in enumerate(dims)
            ],
        }
        signed = leg(d["version"], -1).unionByName(leg(cur_v, 1))
        # every commit CASes on OUR chain (view_v threads forward): a
        # foreign commit between our commits can never be folded over
        # with legs derived from the stale snapshot — losing the CAS
        # restarts the evolution from a FRESH snapshot instead (dims a
        # racer already folded become noops there; our own committed
        # per-dim folds are durable), the same lost-race convergence
        # refresh_aggregate_view has
        try:
            view_v, n = _fold(
                spark, dst, view_v, new_meta, keys,
                _signed_delta(signed, keys, aggs, F.col("__mv_sign")),
                "the dim-evolution delta",
                f"EVOLVE_MV_DIM({d['path']}@v{cur_v})",
            )
        except V.CommitConflict:
            rest = evolve_dimensions(spark, dst)
            return {
                # "noop" only if WE folded nothing and the restart had
                # nothing left (the racer did it all)
                "strategy": (
                    rest["strategy"]
                    if rest["strategy"] != "noop" or total_folded == 0
                    else "delta"
                ),
                "dims_evolved": total_folded + rest["dims_evolved"],
                "groups_changed": total_groups + rest["groups_changed"],
                "view_version": rest["view_version"],
            }
        total_groups += n
        total_folded += 1
        dims[i] = {**d, "version": cur_v}
        meta = new_meta
    return {
        "strategy": "delta",
        "dims_evolved": len(moved),
        "groups_changed": total_groups,
        "view_version": view_v,
    }
