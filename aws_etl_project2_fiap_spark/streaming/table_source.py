"""Versioned table as a Structured Streaming SOURCE (the Delta
streaming-source pattern on io/versioned.py's manifest log).

``readStream.format("versioned_table").option("path", ...)`` turns a
lakehouse table into a live stream: each micro-batch delivers the rows
INSERTED since the last committed offset, where an offset is simply the
table VERSION — the engine owns replay and exactly-once, the source
only answers "rows between version A and B", which the manifest log
answers by FILE DIFF (cost ∝ files added, never table size or history
length). Reads are EXECUTOR-SIDE: the planner emits one input
partition per added file, so a snapshot or a wide backfill scales with
the cluster, not the driver.

Contracts (same as io/versioned.consume_changes, the batch consumer):

- first batch = the full snapshot at the then-current version;
- a copy-on-write UPDATE/MERGE re-emits the rows of its rewritten
  files (file-diff granularity — consumers keying on a unique id
  reconcile, Delta's ``ignoreChanges`` caveat);
- DELETE-only commits (including deletion-vector commits) deliver
  nothing on the default INSERT feed; ``option("feed", "cdc")``
  streams the full CHANGE feed instead — rows + ``_change_type`` +
  ``_commit_version``, deletes and rollback un-deletes included (the
  Delta ``readChangeFeed`` shape; the batch form is
  ``table_changes``). Snapshot/insert reads apply each file's DV;
- replay of a committed offset range is bit-stable while the manifests
  are retained; a range older than vacuum retention raises with the
  resync instruction.

WORKER-SHIPPING CONSTRAINT (why this module looks the way it does):
Spark pickles a registered Python DataSource class and unpickles it in
python worker processes that do NOT have this package on their path
(the round driver loads the repo by file path). cloudpickle only
serializes a class BY VALUE when it is not importable by qualname —
so the class is defined inside :func:`build_versioned_table_source`,
and every method touches ONLY stdlib + pyarrow + numpy +
``pyspark.sql.types`` (the manifest format is read inline with
json/os). Importing anything from this
package inside a method would silently re-introduce the
ModuleNotFoundError-on-worker failure class (empirically verified).
"""

from __future__ import annotations


def build_versioned_table_source():
    """Return the (by-value-picklable) DataSource class. Register with
    ``spark.dataSource.register(build_versioned_table_source())``."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    # -- self-contained manifest/DV helpers (stdlib + pyarrow only) ----

    def _current_version(path: str) -> int:
        import os

        with open(os.path.join(path, "_CURRENT")) as fh:
            return int(fh.read().strip())

    def _manifest(path: str, version: int) -> dict:
        import json
        import os

        mpath = os.path.join(path, "_manifests", f"v{version}.json")
        if not os.path.exists(mpath):
            raise ValueError(
                f"versioned_table source: v{version} of {path} predates "
                f"vacuum retention — restart with a fresh checkpoint "
                f"(full-snapshot resync)"
            )
        with open(mpath) as fh:
            m = json.load(fh)
        # delta-encoded commit (io/versioned._CHECKPOINT_EVERY): replay
        # {put, drop} onto the parent — same deterministic resolution
        # order as io/versioned._read_manifest, replicated here because
        # this closure must stay self-contained (executors can't import
        # the package under driver-path loading)
        delta = m.pop("delta", None)
        if delta is not None:
            base = _manifest(path, delta["base"])
            dropped = set(delta.get("drop", ()))
            put = {f["path"]: f for f in delta.get("put", ())}
            files = []
            for f in base["files"]:
                p = f["path"]
                if p in dropped:
                    continue
                files.append(put.pop(p, f))
            for f in delta.get("put", ()):
                if f["path"] in put:
                    files.append(put.pop(f["path"]))
            m["files"] = files
        return m

    def _manifest_files(path: str, version: int) -> list:
        return _manifest(path, version)["files"]

    def _inserted_entries(path: str, lo: int, hi: int) -> list:
        hi_files = _manifest_files(path, hi)
        if lo == 0:
            return hi_files
        lo_paths = {f["path"] for f in _manifest_files(path, lo)}
        return [f for f in hi_files if f["path"] not in lo_paths]

    def _entry_rows(entry: dict, columns: list):
        """One file's live rows as tuples (DV positions removed) —
        pyarrow read; runs on EXECUTORS. Honors the table's schema-
        evolution contract: a pre-evolution file simply lacks the newer
        columns, whose cells fill with NULL (as io/versioned's reads
        under the manifest schema do)."""
        import numpy as np
        import pyarrow.parquet as pq

        present = [
            c
            for c in columns
            if c in set(pq.read_schema(entry["path"]).names)
        ]
        tbl = pq.read_table(entry["path"], columns=present)
        dv = entry.get("dv")
        if dv:
            with open(dv["path"], "rb") as fh:
                pos = np.frombuffer(fh.read(), dtype="<i8")
            mask = np.ones(tbl.num_rows, dtype=bool)
            mask[pos[pos < tbl.num_rows]] = False
            tbl = tbl.filter(mask)
        n = tbl.num_rows
        data = {c: tbl.column(c).to_pylist() for c in present}
        cols = [data.get(c, [None] * n) for c in columns]
        yield from (zip(*cols) if cols else iter(()))

    def _dv_positions(entry):
        import numpy as np

        dv = entry.get("dv")
        if not dv:
            return np.array([], dtype="<i8")
        with open(dv["path"], "rb") as fh:
            return np.frombuffer(fh.read(), dtype="<i8")

    def _entry_rows_at(entry: dict, columns: list, positions: list):
        """One file's rows AT the given positions (no DV applied —
        the positions themselves are the DV delta being emitted)."""
        import numpy as np
        import pyarrow.parquet as pq

        present = [
            c
            for c in columns
            if c in set(pq.read_schema(entry["path"]).names)
        ]
        tbl = pq.read_table(entry["path"], columns=present)
        mask = np.zeros(tbl.num_rows, dtype=bool)
        pos = np.asarray(positions, dtype="int64")
        mask[pos[pos < tbl.num_rows]] = True
        tbl = tbl.filter(mask)
        n = tbl.num_rows
        data = {c: tbl.column(c).to_pylist() for c in present}
        cols = [data.get(c, [None] * n) for c in columns]
        yield from (zip(*cols) if cols else iter(()))

    def _cdc_parts(path: str, lo: int, hi: int) -> list:
        """CDC partition payloads for the version range (lo, hi] —
        the table_changes file-diff expressed as plain-dict partitions
        (worker-shippable): added files → insert, removed files →
        delete (as the FROM version saw them, its DV applied), DV
        growth on a common file → position-sliced deletes, DV shrink
        (rollback un-delete) → position-sliced inserts. _commit_version
        is the range END (micro-batches normally span one commit)."""
        import numpy as np

        hi_files = _manifest_files(path, hi)
        if lo == 0:
            return [
                {"kind": "insert", "entry": e, "v": hi} for e in hi_files
            ]
        lo_by = {f["path"]: f for f in _manifest_files(path, lo)}
        hi_by = {f["path"]: f for f in hi_files}
        parts = []
        for p in sorted(set(hi_by) - set(lo_by)):
            parts.append({"kind": "insert", "entry": hi_by[p], "v": hi})
        for p in sorted(set(lo_by) - set(hi_by)):
            parts.append({"kind": "delete", "entry": lo_by[p], "v": hi})
        for p in sorted(set(lo_by) & set(hi_by)):
            lo_pos = _dv_positions(lo_by[p])
            hi_pos = _dv_positions(hi_by[p])
            grown = np.setdiff1d(hi_pos, lo_pos)
            shrunk = np.setdiff1d(lo_pos, hi_pos)
            base = {k: v for k, v in hi_by[p].items() if k != "dv"}
            if grown.size:
                parts.append({
                    "kind": "delete", "entry": base,
                    "positions": grown.tolist(), "v": hi,
                })
            if shrunk.size:
                parts.append({
                    "kind": "insert", "entry": base,
                    "positions": shrunk.tolist(), "v": hi,
                })
        return parts

    def _columns(path: str, version=None) -> list:
        """The version's columns as (logical name, physical schema
        field JSON) pairs, from its manifest's ``schema`` under its
        column mapping — the schema io/versioned's reads use, so a
        column ADD COLUMN declared is served as NULL, as read_table
        serves it. ``version`` defaults to current; a time-travel
        batch read MUST pass the requested version, or columns added
        after it would leak into the schema."""
        import json

        v = _current_version(path) if version is None else int(version)
        m = _manifest(path, v)
        if "schema" not in m:
            raise ValueError(
                f"versioned_table source: v{v} of {path} records no "
                f"schema (a manifest from before schemas were recorded)"
            )
        fields = json.loads(m["schema"])["fields"]
        mapping = m.get("column_mapping")
        if not mapping:
            return [(f["name"], f) for f in fields]
        by = {f["name"]: f for f in fields}
        return [(log, by[phys]) for log, phys in mapping.items()]

    class _BatchReader(DataSourceReader):
        """Time-travel batch read through the source: the file list is
        resolved ONCE at plan time (snapshot isolation), one input
        partition per file (executor-parallel)."""

        def __init__(self, options, columns):
            path = options["path"]
            v = int(options.get("version") or _current_version(path))
            self.entries = _manifest_files(path, v)
            self.columns = columns

        def partitions(self):
            return [InputPartition(e) for e in self.entries]

        def read(self, partition):
            yield from _entry_rows(partition.value, self.columns)

    class _StreamReader(DataSourceStreamReader):
        """Offset = {"version": N} — the table's commit log IS the
        offset space, so source progress is auditable with `history`.
        partitions() plans one InputPartition per ADDED file; reads run
        on executors."""

        def __init__(self, options, columns):
            self.path = options["path"]
            self.columns = columns
            self.start_version = int(options.get("startversion", "0"))
            self.cdc = options.get("feed", "").lower() == "cdc"

        def initialOffset(self) -> dict:
            return {"version": self.start_version}

        def latestOffset(self) -> dict:
            return {"version": _current_version(self.path)}

        def partitions(self, start: dict, end: dict):
            lo, hi = start["version"], end["version"]
            if hi == lo:
                return []
            if self.cdc:
                return [
                    InputPartition(p)
                    for p in _cdc_parts(self.path, lo, hi)
                ]
            return [
                InputPartition(e)
                for e in _inserted_entries(self.path, lo, hi)
            ]

        def read(self, partition):
            v = partition.value
            if isinstance(v, dict) and "kind" in v:
                pos = v.get("positions")
                rows = (
                    _entry_rows_at(v["entry"], self.columns, pos)
                    if pos is not None
                    else _entry_rows(v["entry"], self.columns)
                )
                for r in rows:
                    yield (*r, v["kind"], v["v"])
            else:
                yield from _entry_rows(v, self.columns)

        def commit(self, end: dict) -> None:
            pass  # the checkpoint owns progress; nothing to reclaim

    class VersionedTableDataSource(DataSource):
        """``format("versioned_table")`` — a versioned table as a batch
        or streaming source. Options: ``path`` (required),
        ``startVersion`` (stream: first offset; 0 = snapshot-then-
        deltas), ``version`` (batch: time travel), ``feed``
        ("inserts" default; "cdc" streams the CHANGE feed — rows plus
        ``_change_type``/``_commit_version``, deletes included, the
        Delta readChangeFeed shape; pair with
        ``streaming.sinks.cdf_replica_sink`` for continuous
        replication)."""

        @classmethod
        def name(cls) -> str:
            return "versioned_table"

        def _batch_version(self):
            # batch time travel: schema AND columns resolve at the SAME
            # version the reader serves (None = current) — resolving at
            # current would expose later-added columns for old versions
            v = self.options.get("version")
            return int(v) if v else None

        def schema(self):
            # pyspark.sql.types is importable on workers (this package
            # is not)
            from pyspark.sql.types import StructType

            schema = StructType.fromJson({"type": "struct", "fields": [
                {**f, "name": log}
                for log, f in _columns(
                    self.options["path"], self._batch_version()
                )
            ]})
            if self.options.get("feed", "").lower() == "cdc":
                # the change feed rides two metadata columns: the rows
                # INSERTED and DELETED in each version range, reconciled
                # downstream on a key (delete+insert churn of a
                # rewritten file cancels for keyed consumers)
                schema = schema.add("_change_type", "string").add(
                    "_commit_version", "long"
                )
            return schema

        def _physical(self, version=None) -> list:
            return [
                f["name"] for _, f in _columns(self.options["path"], version)
            ]

        def reader(self, schema) -> DataSourceReader:
            if self.options.get("feed", "").lower() == "cdc":
                raise ValueError(
                    "feed=cdc is a STREAMING feed; for a batch change "
                    "feed use io.versioned.table_changes"
                )
            # readers receive PHYSICAL names (what the files store);
            # the schema above exposes the logical names in the same
            # order, so tuples line up
            return _BatchReader(
                self.options, self._physical(self._batch_version())
            )

        def streamReader(self, schema) -> DataSourceStreamReader:
            return _StreamReader(self.options, self._physical())

    return VersionedTableDataSource


# instantiated through the factory so cloudpickle ships it BY VALUE
# (qualname points into the factory's locals — never importable, so
# workers reconstruct it from the pickle instead of importing us)
VersionedTableDataSource = build_versioned_table_source()
