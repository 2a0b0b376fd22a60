"""Write-audit-publish (WAP) on versioned tables: stage mutations on an
isolated branch table, audit them there, then publish atomically.

The Iceberg WAP / staging-branch shape, built from pieces the layer
already has:

- ``begin_stage`` = a SHALLOW CLONE (one manifest commit, zero data
  copied — the stage references the table's files) plus a copy of the
  table's CHECK constraints, so every staged write is audited by the
  same rules as a direct write;
- the stage is a full versioned table: append / overwrite / UPDATE /
  DELETE (cow or dv) / MERGE / OPTIMIZE all work, each writing new
  batch dirs under the STAGE's own ``_data`` — the production table's
  directory is never touched while staging;
- audits run against the stage with any reader (``read_table``,
  catalog queries, row-count / constraint / reconciliation checks);
- ``publish_stage`` MOVES the stage's new ``_data`` dirs into the
  table (directory renames — O(dirs), no data rewrite) and commits the
  stage's final file list onto the table with an optimistic CAS on the
  version recorded at ``begin_stage``. Readers see nothing until the
  pointer flips, then see everything.

Publish modes when the table advanced underneath the stage:

- ``"fail"`` (default): raise ``CommitConflict`` — the staged snapshot
  was derived from a stale base;
- ``"append"``: allowed only for an ADD-ONLY stage (every base file
  still present and un-DV'd in the stage — i.e. the stage only
  appended); the new entries are appended onto the table's CURRENT
  version, the append-vs-append analogue of Delta's conflict rules;
- ``"merge"``: file-level three-way reconcile (the Iceberg
  branch-merge shape) — a stage carrying deletes/DV mutations/compactions
  publishes onto a moved base as long as the file sets MUTATED by the
  two sides are disjoint; true overlap conflicts loudly.

Reference parity: the reference writes output partitions directly into
the serving location mid-job — a failed run leaves partial partitions
visible. Here a failed or abandoned stage is invisible garbage
(``abandon_stage`` deletes it), and publish is one pointer flip.

Retention hazard (the Iceberg branch-ref caveat, tested): a shallow
stage references the TABLE's files and pins no retention — vacuuming
the table past the stage's base version makes the stage unreadable
(loudly: missing files, never silently stale). Keep table retention ≥
the longest stage lifetime, or deep-clone for long-lived audits.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from . import versioned as V


def _data_root(path: str) -> str:
    return os.path.join(os.path.realpath(path), "_data")


def _intent_path(stage: str) -> str:
    return os.path.join(stage, "_publish_intent.json")


def begin_stage(spark: SparkSession, table: str, stage: str) -> int:
    """Open a staging branch of ``table`` at its current version.

    Shallow clone (metadata-only at any table size) + the table's
    CHECK constraints, so staged writes fail the same audits direct
    writes would. The base version is recorded in the clone's first
    manifest (``cloned_from`` / ``clone_version``) and checked at
    publish."""
    # clone_table copies the CHECK constraints with the manifest (since
    # r11 all clones do), so staged writes fail the same audits direct
    # writes would
    return V.clone_table(spark, table, stage, deep=False)


def abandon_stage(stage: str) -> None:
    """Drop a stage without publishing: everything it wrote lives
    under its own directory, so abandonment is one recursive delete —
    the production table never saw any of it.

    Safety: only a STAGE may be abandoned. Every ``begin_stage`` stage
    is a clone whose first manifest records ``cloned_from``; a plain
    versioned table's does not — pointing this (or the CLI's
    ``stage abandon``) at a production table must refuse, not delete
    the table."""
    first = V._read_manifest(stage, 1)  # raises if not a table at all
    if not first.get("cloned_from"):
        raise ValueError(
            f"{stage} is not a stage (its first manifest has no "
            f"cloned_from); refusing to delete what looks like a "
            f"production table — use drop/rmtree explicitly if you "
            f"really mean it"
        )
    marker = _intent_path(stage)
    if os.path.exists(marker):
        # a publish crashed mid-move against this stage: some of its
        # dirs may already sit under the PRODUCTION table's _data,
        # referenced by nothing. Deleting the stage now would destroy
        # the marker — the only record of which dirs are in flight —
        # stranding them as unrecoverable orphans (or, if the commit
        # actually landed, deleting the published table's data is the
        # publish's cleanup job, not abandon's)
        with open(marker) as fh:
            intent = json.load(fh)
        raise ValueError(
            f"stage {stage} has an interrupted publish against "
            f"{intent['table']!r}; retry publish_stage against that "
            f"table first (it reverts the half-move or finishes the "
            f"commit idempotently), then abandon"
        )
    shutil.rmtree(stage)


def _rewrite(entry: dict, src_prefix: str, dst_prefix: str) -> dict:
    """Deep-copy a manifest entry with every path under the stage's
    _data re-rooted to the table's (data file, bloom sidecars, DV
    sidecar — they all live inside the moved dirs)."""
    def fix(v):
        if isinstance(v, str) and v.startswith(src_prefix):
            return dst_prefix + v[len(src_prefix):]
        if isinstance(v, dict):
            return {k: fix(x) for k, x in v.items()}
        if isinstance(v, list):
            return [fix(x) for x in v]
        return v

    return {k: fix(v) for k, v in entry.items()}


def _touched_since(base_by_path: dict, side_by_path: dict) -> set[str]:
    """Paths a side MUTATED relative to the base: removed (rewritten,
    compacted, CoW-deleted) or DV-state-changed. Pure adds don't count
    — two sides may add concurrently without conflict."""
    removed = {p for p in base_by_path if p not in side_by_path}
    dv_mod = {
        p
        for p, f in base_by_path.items()
        if p in side_by_path
        and (f.get("dv") or {}) != (side_by_path[p].get("dv") or {})
    }
    return removed | dv_mod


def _dirs_under(entries: list, prefix: str) -> set[str]:
    """The ``_data`` children under ``prefix`` that manifest entries
    reference through ANY of their paths: batch dirs via ``path`` and
    blooms, DV sidecar dirs via ``dv.path`` (a DV-only stage's dirs are
    referenced solely there)."""
    out: set[str] = set()

    def walk(v):
        if isinstance(v, str) and v.startswith(prefix):
            out.add(v[len(prefix):].split(os.sep, 1)[0])
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)
        elif isinstance(v, list):
            for x in v:
                walk(x)

    walk(entries)
    return out


def _union_schema(table: str, cur_m: dict, stage: str, sm: dict) -> str:
    """The schema a publish onto a MOVED table commits: the table's
    current schema plus every column only the stage has (both sides
    share one column mapping here, so physical names line up). A name
    the two sides typed differently is a :class:`CommitConflict`."""
    fields = list(V._schema(cur_m, table).fields)
    types = {f.name: f.dataType.simpleString() for f in fields}
    for f in V._schema(sm, stage).fields:
        if f.name not in types:
            fields.append(f)
        elif types[f.name] != f.dataType.simpleString():
            raise V.CommitConflict(
                f"publish conflicts on column {f.name!r}: the table has "
                f"{types[f.name]}, the stage {f.dataType.simpleString()}"
                f" — re-stage"
            )
    return StructType(fields).json()


def _recover_interrupted_publish(
    table: str, stage: str, keep_stage: bool
) -> dict | None:
    """A prior ``publish_stage`` crashed between its move loop and its
    commit (or between commit and cleanup). The intent marker written
    before the first move records exactly which dirs were in flight,
    so a retry can tell the two crash sides apart instead of dying on
    a 'publish collision':

    - commit NOT found → the table never referenced the moved dirs;
      move them back under the stage and let the retry run fresh;
    - commit found (matched by the marker's unique ``publish_id`` in
      the manifest) → the publish actually succeeded; finish the
      skipped cleanup and return its result idempotently."""
    marker = _intent_path(stage)
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        intent = json.load(fh)
    if intent["table"] != os.path.realpath(table):
        # the in-flight publish targeted a DIFFERENT table: recovering
        # against this one would scan the wrong manifests, conclude
        # "not committed", destroy the marker, and strand the half-move
        raise ValueError(
            f"stage {stage} has an interrupted publish against "
            f"{intent['table']!r}; retry the publish against THAT "
            f"table (got {os.path.realpath(table)!r})"
        )
    src_prefix = _data_root(stage) + os.sep
    dst_prefix = _data_root(table) + os.sep
    cur = V.current_version(table)
    committed_v = None
    for v in range(intent["expect"] + 1, cur + 1):
        mp = os.path.join(V._manifest_dir(table), f"v{v}.json")
        try:
            with open(mp) as fh:
                if json.load(fh).get("publish_id") == intent["publish_id"]:
                    committed_v = v
                    break
        except FileNotFoundError:
            continue  # vacuumed version: fall through to the dir check
    if committed_v is None:
        # the publish_id may live in a vacuumed manifest: before
        # reverting, check whether the CURRENT manifest references any
        # of the intent's moved dirs — a referenced dir means the
        # publish committed (and was later vacuumed past); moving it
        # back would corrupt the live table
        referenced = _dirs_under(
            V._read_manifest(table, cur)["files"], dst_prefix
        )
        if any(d in referenced for d in intent["dirs"]):
            committed_v = cur
    if committed_v is None:
        for d in intent["dirs"]:
            src_d, dst_d = src_prefix + d, dst_prefix + d
            if os.path.exists(dst_d) and not os.path.exists(src_d):
                shutil.move(dst_d, src_d)
        os.remove(marker)
        return None
    os.remove(marker)
    if not keep_stage:
        shutil.rmtree(stage, ignore_errors=True)
    return {
        "version": committed_v,
        "published_entries": V._read_manifest(table, committed_v)[
            "n_files"
        ],
        "moved_dirs": len(intent["dirs"]),
        "mode": intent["mode"],
        "recovered": True,
    }


def publish_stage(
    spark: SparkSession,
    table: str,
    stage: str,
    mode: str = "fail",
    keep_stage: bool = False,
) -> dict:
    """Atomically publish a stage onto its base table.

    Physical cost: one directory rename per batch/DV dir the stage
    created (never a data rewrite, never a copy) + one manifest commit.
    Keep the stage on the same filesystem as the table: ``shutil.move``
    degrades to copy+delete across filesystems, turning the O(dirs)
    publish into an O(bytes) one.
    The commit is a CAS on the table version: if it loses, the moved
    dirs are moved back and ``CommitConflict`` propagates — the table
    is untouched either way. A publish-intent marker written before the
    first move makes a hard crash mid-publish recoverable: the next
    publish attempt reverts the half-move (or, if the commit actually
    landed, returns it idempotently) instead of failing on collision.

    Modes when the table advanced underneath the stage:

    - ``"fail"``: raise ``CommitConflict``;
    - ``"append"``: legal only for an add-only stage; replay the adds
      onto the table's current version;
    - ``"merge"``: file-level three-way reconcile (the Iceberg
      branch-merge shape). Legal when the file sets MUTATED by the two
      sides are disjoint: the stage's removes/DV-changes apply to
      files the table left untouched, the table's concurrent
      adds/removes/DV-changes are kept, both sides' adds land. True
      overlap (both sides rewrote or re-DV'd the same file) and any
      structural divergence (column mapping, cluster spec, partition
      spec changed by either side) conflict loudly.

    Both replay modes publish the union of the table's and the stage's
    schemas: a column either side appended is kept, and a column the
    two sides typed differently is a ``CommitConflict``.

    Returns {"version", "published_entries", "moved_dirs", "mode"}."""
    if mode not in ("fail", "append", "merge"):
        raise ValueError(
            f"mode must be 'fail', 'append' or 'merge', got {mode!r}"
        )
    recovered = _recover_interrupted_publish(table, stage, keep_stage)
    if recovered is not None:
        return recovered
    first = V._read_manifest(stage, 1)
    if os.path.realpath(first.get("cloned_from", "")) != os.path.realpath(
        table
    ):
        raise ValueError(
            f"{stage} is not a stage of {table} "
            f"(cloned_from={first.get('cloned_from')!r})"
        )
    base = first["clone_version"]
    sm = V._read_manifest(stage, V.current_version(stage))
    cur = V.current_version(table)
    src_prefix = _data_root(stage) + os.sep
    dst_prefix = _data_root(table) + os.sep

    if cur == base:
        published = sm["files"]
        extra = {
            # table state evolved IN the stage (schema evolution, a
            # rename, re-clustering, an ADD COLUMN) publishes with the
            # files
            "schema": sm.get("schema"),
            "column_mapping": sm.get("column_mapping"),
            "cluster_spec": sm.get("cluster_spec"),
        }
    elif mode == "fail":
        raise V.CommitConflict(
            f"{table} advanced v{base} -> v{cur} under the stage; "
            f"re-stage from the new version or publish mode='append' "
            f"(add-only stage) / mode='merge' (disjoint file sets)"
        )
    else:
        try:
            base_m = V._read_manifest(table, base)
        except FileNotFoundError as exc:
            # a vacuum on the production table dropped the stage's base
            # manifest: the three-way diff is no longer derivable —
            # conflict loudly rather than guess (and never resurrect
            # what the vacuum deleted)
            raise V.CommitConflict(
                f"{mode} publish needs {table}'s base manifest v{base} "
                f"but it was vacuumed; re-stage from the current version"
            ) from exc
        cur_m = V._read_manifest(table, cur)
        base_by_path = {f["path"]: f for f in base_m["files"]}
        stage_by_path = {f["path"]: f for f in sm["files"]}
        stage_touched = _touched_since(base_by_path, stage_by_path)
        # the schemas union: a column either side appended is no conflict
        extra = {"schema": _union_schema(table, cur_m, stage, sm)}
        added = [f for f in sm["files"] if f["path"] not in base_by_path]
    if cur != base and mode == "merge":
        # three-way reconcile over (base, stage, current): apply the
        # stage's per-file mutations onto the table's CURRENT file
        # list, conflicting only where both sides mutated the same file.
        # cluster_spec carries partition-spec evolution / hidden
        # partitioning state (alter_clustering)
        for key in ("column_mapping", "cluster_spec"):
            b = base_m.get(key)
            if sm.get(key) != b or cur_m.get(key) != b:
                raise V.CommitConflict(
                    f"merge publish requires {key} unchanged on both "
                    f"sides since v{base}; it diverged — re-stage"
                )
        table_touched = _touched_since(
            base_by_path, {f["path"]: f for f in cur_m["files"]}
        )
        overlap = stage_touched & table_touched
        if overlap:
            raise V.CommitConflict(
                f"merge publish conflicts on {len(overlap)} file(s) "
                f"mutated by BOTH the stage and the table since "
                f"v{base} (e.g. {sorted(overlap)[0]}); re-stage"
            )
        published = []
        for f in cur_m["files"]:
            p = f["path"]
            if p in stage_touched and p not in stage_by_path:
                continue  # table left it untouched; stage delete wins
            # a stage-touched file the stage kept carries its DV state
            published.append(stage_by_path[p] if p in stage_touched else f)
        published += added
    elif cur != base:
        # append mode: legal only if the stage is ADD-ONLY over its
        # base — every base file still referenced, byte-identical DV
        # state — so replaying the additions onto the newer table is
        # exactly an append
        if stage_touched:
            raise V.CommitConflict(
                f"stage is not add-only over v{base} ({len(stage_touched)}"
                f" base file(s) removed or DV-modified): append publish "
                f"would lose those mutations"
            )
        if sm.get("column_mapping") != base_m.get("column_mapping"):
            raise V.CommitConflict(
                "stage evolved the column mapping; append publish onto "
                "a moved base cannot reconcile schema state — re-stage"
            )
        published = cur_m["files"] + added

    # dirs the stage created: every _data child the published entries
    # reference under the stage
    dirs = _dirs_under(published, src_prefix)
    # intent marker BEFORE the first move: a hard crash anywhere in the
    # move loop / commit leaves a record of exactly which dirs were in
    # flight, so the next publish attempt recovers instead of colliding
    publish_id = uuid.uuid4().hex
    eff_mode = mode if cur != base else "exact"
    with open(_intent_path(stage), "w") as fh:
        json.dump(
            {
                "publish_id": publish_id,
                "table": os.path.realpath(table),
                "dirs": sorted(dirs),
                "expect": cur,
                "mode": eff_mode,
            },
            fh,
        )
    extra["publish_id"] = publish_id
    moved: list[tuple[str, str]] = []
    try:
        for d in sorted(dirs):
            src_d, dst_d = src_prefix + d, dst_prefix + d
            if os.path.exists(dst_d):
                raise FileExistsError(
                    f"publish collision on {dst_d} (uuid reuse?)"
                )
            shutil.move(src_d, dst_d)
            moved.append((src_d, dst_d))
        version = V._commit(
            table,
            [_rewrite(e, src_prefix, dst_prefix) for e in published],
            extra=extra,
            expect_version=cur,
            operation=f"PUBLISH({os.path.basename(stage.rstrip(os.sep))}"
            f"@v{base})",
        )
    except BaseException:
        # lose the race (or any move failure) → put the dirs back; the
        # table's manifest never referenced them, so it is untouched
        for src_d, dst_d in reversed(moved):
            if os.path.exists(dst_d) and not os.path.exists(src_d):
                shutil.move(dst_d, src_d)
        os.remove(_intent_path(stage))
        raise
    os.remove(_intent_path(stage))
    if not keep_stage:
        shutil.rmtree(stage, ignore_errors=True)
    return {
        "version": version,
        "published_entries": len(published),
        "moved_dirs": len(moved),
        "mode": eff_mode,
    }
