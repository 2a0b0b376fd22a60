"""Versioned parquet tables: manifest-based snapshots with time travel.

The K6 UPDATE path (io/update.py) rewrites + atomically swaps the whole
snapshot — correct, but history is gone and every UPDATE rewrites every
byte. This module keeps the SAME correctness contract while adding the
two properties a 100 TB lakehouse actually needs, using the core idea of
the open table formats (a log of immutable data files + a pointer):

- **file-level copy-on-write**: an UPDATE rewrites only the files that
  contain matched rows (`_metadata.file_path` identifies them); all
  other files are *referenced*, not copied, by the new manifest. A
  predicate that touches 0.1% of files costs 0.1% of the table, not a
  full rewrite.
- **time travel / snapshot isolation**: every version's manifest lists
  exactly the files that make it up, so any historical version stays
  readable (`read_table(..., version=n)`) until `vacuum` reclaims it,
  and an in-flight writer can never disturb a reader (readers resolve
  the `_CURRENT` pointer once; data files are immutable).

Layout under the table root::

    _data/b_<uuid>/part-*.parquet   immutable batch directories
    _manifests/v<N>.json            {"version": N, "files": [...],
                                     "schema": StructType JSON, ...}
    _CURRENT                        text file holding "N"

Each manifest records its version's PHYSICAL schema (every column a
live file may hold or an ADD COLUMN declared, first-appearance order,
nullable as the Parquet reader returns it), so every read passes it to
``spark.read.schema(...)`` and no reader infers a schema from data
files — the Delta log's ``metaData`` action on this log. Columns a
file lacks read as NULL.

Commit protocol: data files first, then the manifest, then an atomic
``os.replace`` of ``_CURRENT`` — a crash at any point leaves the
previous version intact (the half-written batch dir is unreferenced
garbage for ``vacuum``). Mutating commits (UPDATE/MERGE) carry an
optimistic-concurrency token: a writer whose snapshot went stale gets
:class:`CommitConflict` and must re-read + retry instead of silently
dropping the interleaved commit's files. Cross-host multi-writer CAS is
where a real deployment graduates to Delta/Iceberg — the reader/writer
API here is deliberately shaped so that swap is a sink change, not a
query change.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections import Counter

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .update import apply_update


import re as _re

_MANIFEST_RE = _re.compile(r"v\d+\.json")


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's snapshot read and
    its commit attempt (optimistic concurrency, Delta-style): the losing
    writer must re-read the new current version and retry its operation
    against it — blind retry could drop the other writer's changes."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _uri_to_path(uri: str) -> str:
    """Filesystem path from a `_metadata.file_path` URI. Spark returns
    percent-encoded URIs (file:/a/my%20table/part-0.parquet); manifests
    hold plain paths — unquote or every touched-file comparison in
    UPDATE/MERGE/DELETE silently misses under roots containing spaces,
    duplicating the rewritten rows."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


def _pointer(path: str) -> str:
    return os.path.join(path, "_CURRENT")


# ---------------------------------------------------------------------
# Column mapping (metadata-only RENAME / DROP — the Delta "column
# mapping" / Iceberg field-id idea on this log)
#
# A manifest may carry ``"column_mapping": {logical: physical}``.
# PHYSICAL names are frozen at first write and never change; a RENAME
# or DROP commits a new manifest with an updated mapping and the SAME
# file list — zero data IO on a 100 TB table. Readers project
# physical → logical after the scan; writers (append/update/merge/
# overwrite rewrites) translate logical → physical before writing, so
# every data file keeps the physical schema forever (an OVERWRITE too:
# a column its base maps keeps its physical name, so the change feed
# lines removed rows up with new ones). No mapping key
# (the common case) means identity — zero overhead on any path.
# Time travel reads each version under ITS OWN mapping (v1 before a
# rename shows the old name), because the mapping lives in the
# manifest, not a table-level sidecar.
# ---------------------------------------------------------------------


def _apply_mapping(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Physical → logical projection (keeps ``__file``/``__pos`` meta
    columns when present). Identity when the table has no mapping.
    ``df`` is read under the manifest's schema, so every physical name
    the mapping holds resolves — a column ADD COLUMN declared but no
    file carries yet reads as typed NULLs."""
    if not mapping:
        return df
    meta = [F.col(c) for c in ("__file", "__pos") if c in df.columns]
    return df.select(
        *[F.col(phys).alias(log) for log, phys in mapping.items()], *meta
    )


def _to_physical(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Logical → physical rename before a write, so data files keep the
    frozen physical schema. Columns of ``df`` not in the mapping pass
    through under their own name."""
    if not mapping:
        return df
    return df.select(
        *[
            F.col(c).alias(mapping[c]) if c in mapping else F.col(c)
            for c in df.columns
        ]
    )


def _phys_col(mapping: dict | None, col: str) -> str:
    """Physical name of a logical column (stats/bloom entries are keyed
    by physical names — they were computed from written files)."""
    return mapping[col] if mapping and col in mapping else col


def _mint_physical(c: str, taken: set) -> str:
    """Physical name for a NEW logical column joining a mapping. Every
    name in the manifest's schema is taken: live mapping values AND
    names ``drop_column`` retired, whose bytes persist in old files
    until rewrites age them out — reusing one would resurrect the
    dropped column's data in the new one."""
    return c if c not in taken else f"{c}_p{uuid.uuid4().hex[:6]}"


def _nullable(v):
    """A ``StructType.jsonValue()`` tree with every level nullable."""
    if isinstance(v, list):
        return [_nullable(x) for x in v]
    if not isinstance(v, dict):
        return v
    out = {k: x if k == "metadata" else _nullable(x) for k, x in v.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in out:
            out[k] = True
    return out


def _schema_json(schema: StructType) -> str:
    """The manifest form of a batch schema: nullable at every level,
    the types the Parquet reader returns for the written files."""
    return StructType.fromJson(_nullable(schema.jsonValue())).json()


def _schema(m: dict, path: str) -> StructType:
    """The version's physical schema, from its manifest."""
    if "schema" not in m:
        raise ValueError(
            f"v{m.get('version')} of {path} records no schema: the "
            f"manifest predates schema-carrying manifests; re-create the "
            f"table from a read of that version"
        )
    return StructType.fromJson(json.loads(m["schema"]))


def _logical(m: dict, path: str) -> StructType:
    """The version's logical schema: its physical schema under its
    column mapping (mapping order), or the physical schema itself."""
    schema = _schema(m, path)
    mapping = m.get("column_mapping")
    if not mapping:
        return schema
    by = {f.name: f for f in schema.fields}
    return StructType([
        StructField(log, by[phys].dataType, True, by[phys].metadata)
        for log, phys in mapping.items()
    ])


def table_schema(path: str, version: int | None = None) -> StructType:
    """The version's logical schema (default: current), from its
    manifest alone — no Spark job."""
    v = current_version(path) if version is None else version
    return _logical(_read_manifest(path, v), path)


def current_version(path: str) -> int:
    with open(_pointer(path)) as fh:
        return int(fh.read().strip())


# Every Nth commit writes a FULL file-list manifest (a checkpoint); the
# commits between encode only the delta vs their parent ({put, drop}).
# Rationale at 100 TB: a snapshot manifest is O(table files) — at ~200
# bytes/entry a million-file table pays ~200 MB of manifest WRITE per
# commit, so a busy table writes more log than data. A delta commit is
# O(touched files) — a streaming append or a pruned MERGE writes a few
# hundred bytes — while the bounded chain (< _CHECKPOINT_EVERY tiny
# driver-side JSON reads, in practice one OS page each) keeps
# resolution O(1)-ish. The same economics as Delta's JSON-actions +
# parquet-checkpoint log, without a new file format.
_CHECKPOINT_EVERY = 16


def _read_manifest(path: str, version: int) -> dict:
    """Manifest of ``version`` with ``files`` fully RESOLVED: a delta
    manifest replays {put, drop} onto its parent (recursively, bounded
    by the checkpoint interval). Resolution is deterministic — base
    order is preserved, changed entries are replaced in place, new
    files append in put order — so repeated reads (and the streaming
    source's executor-side replica of this logic) see identical file
    lists."""
    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as fh:
        m = json.load(fh)
    delta = m.pop("delta", None)
    if delta is not None:
        base = _read_manifest(path, delta["base"])
        dropped = set(delta.get("drop", ()))
        put = {f["path"]: f for f in delta.get("put", ())}
        files = []
        for f in base["files"]:
            p = f["path"]
            if p in dropped:
                continue
            files.append(put.pop(p, f))
        for f in delta.get("put", ()):
            if f["path"] in put:  # genuinely new file (not a replacement)
                files.append(put.pop(f["path"]))
        m["files"] = files
    return m


def _stat_key(v):
    """Canonical JSON-encodable form of a stats value or probe value.
    date/datetime map to ISO-8601 strings — lexicographic order equals
    chronological order, so [min, max] comparisons against equally
    canonicalized probes stay exact. Everything else passes through."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # tz-aware values (pyarrow reports TIMESTAMP_MICROS stats as
        # UTC-aware) normalize to UTC-naive FIRST: a raw isoformat()
        # would append "+00:00", which compares lexicographically
        # GREATER than an equal naive/string probe and would wrongly
        # prune a file whose min equals the inclusive upper bound
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # sep=" " matches the SQL-typical string form; a "T"-separated
        # ISO string would compare lexicographically wrong against
        # space-separated probes (ord("T") > ord(" ")) and turn a safe
        # non-prune into a wrong prune
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _file_stats(fpath: str) -> dict:
    """Per-column [min, max] from the parquet footer (primitive,
    JSON-encodable columns only; date/timestamp as ISO strings) —
    collected once at write time so the read path can skip files
    without opening them. The same metadata the open table formats
    keep in their logs."""
    import math

    import pyarrow.parquet as pq

    meta = pq.read_metadata(fpath)
    lo: dict = {}
    hi: dict = {}
    # A column is usable only if EVERY row group reports min/max for it:
    # a row group without stats (e.g. a float group containing NaN gets
    # none from the writer) holds rows of unknown range, so merging only
    # the *other* groups' ranges would understate the file's true range
    # and let prunable()/read_table(between=...) skip in-range rows.
    # Conservative rule: any statless/undecodable group poisons the
    # column for this file (kept, never pruned on that column).
    bad: set = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested — no file-level pruning
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            try:
                mn, mx = _stat_key(st.min), _stat_key(st.max)
            except Exception:
                # pyarrow can't DECODE some physical types' stats
                # (e.g. decimal raises ArrowNotImplementedError) —
                # same conservative rule as a statless group
                bad.add(name)
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    bad.add(name)
                    continue
            if not isinstance(mn, (int, float, str, bool)):
                bad.add(name)
                continue
            if isinstance(mn, float) and not (
                math.isfinite(mn) and math.isfinite(mx)
            ):
                bad.add(name)  # NaN/inf bounds don't order — unusable
                continue
            lo[name] = mn if name not in lo else min(lo[name], mn)
            hi[name] = mx if name not in hi else max(hi[name], mx)
    return {c: [lo[c], hi[c]] for c in lo if c not in bad}


def _null_cols(fpath: str) -> list[str]:
    """Top-level columns with ≥1 NULL (or unknown null_count) in the
    file — parquet min/max stats EXCLUDE nulls, so any whole-file
    decision keyed on min==max must also know whether NULL rows hide
    beside that single value. Unknown counts conservatively report as
    nullable."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(fpath)
    out: set = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            if "." in col.path_in_schema:
                continue
            st = col.statistics
            if st is None or st.null_count is None or st.null_count > 0:
                out.add(col.path_in_schema)
    return sorted(out)




# -- per-file Bloom indexes (equality-predicate file skipping) ---------
#
# min/max footer stats prune RANGE predicates, but an equality probe on
# a high-cardinality unclustered key (user_id = 123) overlaps almost
# every file's [min, max]. Delta's answer is a per-file Bloom filter
# index; same here: at write time each indexed column's distinct values
# hash into a small bitmap stored NEXT TO the data file (<file>.bloom.
# <col>, not inside the manifest — manifests stay O(files) tiny), and a
# point read drops every file whose bitmap provably lacks the value.
# No false negatives by construction; false positives only cost a scan
# of one extra file, and the exact filter still applies. Vacuum
# reclaims blooms with their batch dirs (same directory).

_BLOOM_HASHES = 7
# merge-probe bloom pruning collects the source's distinct key values
# to the driver; when the source has more distinct keys than this the
# collect is skipped entirely (the probe scan absorbs the cost) —
# deliveries, not tables, fit under it
_MERGE_BLOOM_PROBE_CAP = 100_000
# merge's semi/anti key probes hint F.broadcast only while the source
# is delivery-sized (its row count, from the same aggregate that finds
# duplicate keys) — past the cap the hint is dropped and AQE picks the
# join, so a table-sized merge source (e.g. a replica re-sync) can
# never force a table-sized broadcast the optimizer would refuse
_MERGE_BROADCAST_CAP = 2_000_000
# two independent 16-byte hash keys for pandas' vectorized SipHash —
# the double-hashing scheme h1 + i*h2 derives all k probe positions
_BLOOM_K1 = "spark-graft-blm1"
_BLOOM_K2 = "spark-graft-blm2"


def _bloom_hash_pair(values):
    """Vectorized (h1, h2) for a batch of keys. Keys canonicalize to
    their str() form with NO type tag: Spark's equality casts across
    types ('77' = 77 matches), so a typed encoding would produce FALSE
    NEGATIVES on type-mismatched probes — the one failure mode a bloom
    must never have. The untyped collision (int 77 vs string '77'
    hashing alike) is only ever a false POSITIVE: one extra file
    scanned, exact filter still applies. pandas.util.hash_array is the
    hasher — deterministic for a fixed hash_key, cython-vectorized
    (the per-key hashlib loop this replaced indexed 6 M rows in ~23 s;
    this form does it in ~2 s). uint64 wrap-around is fine: both the
    write side and the probe side compute identically."""
    import numpy as np
    import pandas as pd

    if isinstance(values, np.ndarray) and values.dtype == object:
        arr = values  # already canonical str objects (write path)
    else:
        arr = np.array([str(v) for v in values], dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_BLOOM_K1)
    h2 = pd.util.hash_array(arr, hash_key=_BLOOM_K2) | np.uint64(1)
    return h1, h2


def _write_bloom(fpath: str, col: str, bits_per_key: int = 10) -> str | None:
    """Build <file>.bloom.<col> from the parquet file's column values
    (driver-side read of ONE just-written local column — the write path
    already owns this IO). Returns the bloom path, or None for
    unsupported (float/bool) columns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col_arr = pq.read_table(fpath, columns=[col]).column(col)
    typ = col_arr.type
    if (
        pa.types.is_floating(typ)
        or pa.types.is_boolean(typ)
        or pa.types.is_nested(typ)
    ):
        return None  # ambiguous text forms / cast edges: not indexable
    uniq = pc.unique(col_arr.combine_chunks()).drop_null()
    n_keys = len(uniq)
    m_bits = max(64, bits_per_key * max(n_keys, 1))
    bitmap = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    if n_keys:
        # vectorized canonical str() forms: arrow unique -> numpy ->
        # astype(str) (C loop) matches Python str() for ints/strings
        vals_np = uniq.to_numpy(zero_copy_only=False)
        keys = vals_np.astype(str).astype(object)
        h1, h2 = _bloom_hash_pair(keys)
        steps = np.arange(_BLOOM_HASHES, dtype=np.uint64)
        pos = (h1[:, None] + steps[None, :] * h2[:, None]) % np.uint64(m_bits)
        pos = pos.ravel()
        np.bitwise_or.at(
            bitmap, (pos // 8).astype(np.int64),
            (np.uint8(1) << (pos % 8).astype(np.uint8)),
        )
    bpath = f"{fpath}.bloom.{col}"
    with open(bpath, "wb") as fh:
        fh.write(int(m_bits).to_bytes(8, "big"))
        fh.write(bitmap.tobytes())
    return bpath


def _bloom_might_contain(bpath: str, value) -> bool:
    with open(bpath, "rb") as fh:
        m_bits = int.from_bytes(fh.read(8), "big")
        bitmap = fh.read()
    h1, h2 = _bloom_hash_pair([value])
    # Python-int arithmetic emulating the writer's uint64 wrap: mixing
    # numpy uint64 scalars with Python ints silently promotes to
    # float64 (precision loss -> wrong positions), and Python ints
    # alone never wrap — both would desync from the vectorized writer
    hh1, hh2 = int(h1[0]), int(h2[0])
    for i in range(_BLOOM_HASHES):
        pos = ((hh1 + i * hh2) & 0xFFFFFFFFFFFFFFFF) % m_bits
        if not (bitmap[pos // 8] >> (pos % 8)) & 1:
            return False
    return True



def _indexed_cols(entries: list) -> list[str]:
    """Bloom-indexed columns across a set of manifest entries — so a
    copy-on-write rewrite re-indexes what the files it replaces had
    (point-read pruning survives UPDATE/MERGE/DELETE)."""
    cols: set[str] = set()
    for f in entries:
        cols.update(f.get("blooms", {}))
    return sorted(cols)


def prunable_eq_any(files: list, col: str, values) -> tuple[list, list]:
    """Split manifest entries into (kept, skipped) for ``col IN
    (values)``: a file is skipped iff its bloom for ``col`` rules out
    EVERY value. The merge-probe complement to :func:`prunable_eq` —
    one vectorized (h1, h2) batch over all values, then per file a
    numpy AND-fold over the hash positions, so cost is
    O(files × values) bitmap lookups with no per-value Python loop.
    Files without a bloom are conservatively kept; float/bool/NULL
    values (unindexable, see prunable_eq) keep everything."""
    import numpy as np

    vals = list(values)
    if not vals or any(
        v is None or isinstance(v, (float, bool)) for v in vals
    ):
        return list(files), []
    h1, h2 = _bloom_hash_pair(vals)
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64)
    kept, skipped = [], []
    for f in files:
        bpath = f.get("blooms", {}).get(col)
        if not (bpath and os.path.exists(bpath)):
            kept.append(f)
            continue
        with open(bpath, "rb") as fh:
            m_bits = np.uint64(int.from_bytes(fh.read(8), "big"))
            bitmap = np.frombuffer(fh.read(), dtype=np.uint8)
        present = np.ones(len(vals), dtype=bool)
        for i in range(_BLOOM_HASHES):
            pos = (h1 + np.uint64(i) * h2) % m_bits
            present &= (
                (bitmap[(pos // np.uint64(8)).astype(np.int64)]
                 >> (pos % np.uint64(8)).astype(np.uint8)) & 1
            ).astype(bool)
            if not present.any():
                break
        (kept if present.any() else skipped).append(f)
    return kept, skipped


def prunable_bucket(files: list, col: str, value) -> tuple[list, list]:
    """Bucket-membership pruning for an equality probe: drop every
    file whose recorded bucket set (written under a ``bucket(N,col)``
    cluster spec) provably excludes ``value``'s bucket. Files without
    bucket metadata (pre-evolution layouts, CoW rewrites) are KEPT —
    pruning is only ever an optimization, never a correctness risk.
    NULL-source rows can't match an eq probe, so the non-null
    membership sets are sufficient."""
    kept, skipped = [], []
    for f in files:
        drop = False
        for key, members in (f.get("buckets") or {}).items():
            kind, w, src = _parse_spec_col(key)
            if kind != "bucket" or src != col:
                continue
            b = _bucket_of(
                value, w, (f.get("bucket_dtypes") or {}).get(key)
            )
            if b is not None and b not in members:
                drop = True
                break
        (skipped if drop else kept).append(f)
    return kept, skipped


def prunable_bucket_any(files: list, col: str, values) -> tuple[list, list]:
    """Batch form of :func:`prunable_bucket` (the merge-probe shape):
    drop every file whose recorded bucket set excludes EVERY probe
    value's bucket. One driver-side hash per (value, width) — bounded
    by the same cap as the bloom probe. Any probe value the driver
    can't hash byte-identically disables pruning entirely (kept files
    are always safe)."""
    memo: dict[tuple[int, str | None], set | None] = {}

    def _vbuckets(w: int, dtype: str | None) -> set | None:
        if (w, dtype) not in memo:
            bs: set | None = set()
            for v in values:
                b = _bucket_of(v, w, dtype)
                if b is None:
                    bs = None  # unhashable probe type → no pruning
                    break
                bs.add(b)
            memo[(w, dtype)] = bs
        return memo[(w, dtype)]

    kept, skipped = [], []
    for f in files:
        drop = False
        for key, members in (f.get("buckets") or {}).items():
            kind, w, src = _parse_spec_col(key)
            if kind != "bucket" or src != col:
                continue
            vb = _vbuckets(w, (f.get("bucket_dtypes") or {}).get(key))
            if vb is not None and not (vb & set(members)):
                drop = True
                break
        (skipped if drop else kept).append(f)
    return kept, skipped


def prunable_eq(files: list, col: str, value) -> tuple[list, list]:
    """Split manifest entries into (kept, skipped) for ``col = value``:
    a file is skipped iff it carries a bloom for ``col`` that rules the
    value out. Files without a bloom (pre-index commits, float columns)
    are conservatively kept. NULL probes keep everything (`= NULL` is
    never true; the caller's exact filter handles it)."""
    if value is None or isinstance(value, (float, bool)):
        return list(files), []  # unindexable probe types: keep all
    kept, skipped = [], []
    for f in files:
        bpath = f.get("blooms", {}).get(col)
        if bpath and os.path.exists(bpath) and not _bloom_might_contain(
            bpath, value
        ):
            skipped.append(f)
        else:
            kept.append(f)
    return kept, skipped


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read deletes)
#
# A DV is a sidecar of deleted ROW POSITIONS for one immutable data file
# (parquet `_metadata.row_index` is stable because data files are never
# rewritten in place). A DV delete commits O(deleted rows) bytes instead
# of rewriting the touched files — the Delta-3/Iceberg-v2 position-delete
# idea. Production formats use roaring bitmaps; a sorted int64 array has
# the same O(deleted) size for the selective deletes DVs are FOR — the
# `mode="auto"` path rewrites any file whose deleted fraction crosses
# ``rewrite_threshold``, so a DV never grows past that bound and the
# merge-on-read anti-join stays broadcast-sized.
# ---------------------------------------------------------------------------


def _norm_file_path() -> Column:
    """`_metadata.file_path` (a percent-encoded URI: file:/a/b%20c) as
    the plain filesystem path manifests store — the JVM-side mirror of
    :func:`_uri_to_path`, so DV pair joins and touched-file discovery
    never leave codegen."""
    # url_decode is form-urlencoded ('+' -> space), but a literal '+'
    # in a URI path is NOT an encoded space — pre-escape it so paths
    # containing '+' keep matching their manifest entries (the Python
    # side's urllib.unquote leaves '+' alone)
    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(F.col("_metadata.file_path"), "^[a-z]+:/*", "/"),
            "\\+",
            "%2B",
        )
    )


def _write_dv(path: str, positions) -> dict:
    """Persist sorted deleted positions for one data file; returns the
    manifest ``dv`` dict. Lives in its own `_data/dv_*` dir so vacuum
    treats DV generations exactly like batch dirs (superseded DVs are
    reclaimed when no retained manifest references them)."""
    import numpy as np

    arr = np.asarray(sorted(set(int(p) for p in positions)), dtype="<i8")
    dv_dir = os.path.join(path, "_data", f"dv_{uuid.uuid4().hex[:12]}")
    os.makedirs(dv_dir, exist_ok=True)
    dvpath = os.path.join(dv_dir, f"{uuid.uuid4().hex[:8]}.dv")
    with open(dvpath, "wb") as fh:
        fh.write(arr.tobytes())
    return {"path": dvpath, "n": int(arr.size)}


def _read_dv(dvpath: str):
    import numpy as np

    with open(dvpath, "rb") as fh:
        return np.frombuffer(fh.read(), dtype="<i8")


def _write_dvs_distributed(
    spark: SparkSession,
    positions: DataFrame,
    path: str,
    existing_dv: dict[str, str],
) -> list:
    """Write one DV sidecar per touched file from EXECUTOR tasks.

    ``positions`` is a (``__file``, ``__pos``) DataFrame of matched
    rows. One ``applyInPandas`` task per file groups its positions,
    unions them with the file's existing DV (read executor-side from
    ``existing_dv[file]`` — sidecars live on the same shared storage as
    the data files), and writes the new sidecar in the byte-identical
    format of :func:`_write_dv` (sorted distinct little-endian int64).
    The driver receives only {file, dv_path, n, n_new} — O(touched
    files), never O(deleted rows): cluster-side cost scales with the
    delete, driver cost with the file count, the shape Delta writes its
    DVs in. Returns the collected rows."""
    dv_root = os.path.join(path, "_data", f"dv_{uuid.uuid4().hex[:12]}")
    os.makedirs(dv_root, exist_ok=True)
    bc = spark.sparkContext.broadcast(dict(existing_dv))

    def _write_one(key, pdf):
        import os as _os
        import uuid as _uuid

        import numpy as np
        import pandas as pd

        fpath = key[0]
        pos = pdf["__pos"].to_numpy(dtype="int64")
        n_new = int(pos.size)
        old = bc.value.get(fpath)
        if old:
            with open(old, "rb") as fh:
                pos = np.concatenate(
                    [pos, np.frombuffer(fh.read(), dtype="<i8")]
                )
        arr = np.unique(pos.astype("<i8"))
        dvp = _os.path.join(dv_root, f"{_uuid.uuid4().hex[:8]}.dv")
        with open(dvp, "wb") as fh:
            fh.write(arr.tobytes())
        return pd.DataFrame(
            {
                "file": [fpath],
                "dv_path": [dvp],
                "n": [int(arr.size)],
                "n_new": [n_new],
            }
        )

    return (
        positions.groupBy("__file")
        .applyInPandas(
            _write_one, "file string, dv_path string, n long, n_new long"
        )
        .collect()
    )


# DV read strategy cap: below this many TOTAL deleted positions, the
# read applies DVs with a broadcast anti-join (pure JVM codegen — the
# driver loads ≤ cap×8 bytes of positions, same bounded-broadcast
# budget as _MERGE_BROADCAST_CAP); above it, positions stay
# executor-side via the Arrow mapInPandas path (_dv_filter). Measured
# at sf0.1 (16 DV-carrying files, ~9k positions): anti-join 0.59 s vs
# Arrow path 0.96 s warm — the Python-worker round trip is the tax.
_DV_ANTI_JOIN_CAP = 2_000_000


def _dv_anti_join(
    spark: SparkSession, df: DataFrame, dvd: list
) -> DataFrame:
    """Apply deletion vectors as a broadcast LEFT ANTI join on
    (__file, __pos): the whole filter stays inside whole-stage codegen
    (no Python workers on the read path). Only called when the total
    deleted-position count is ≤ :data:`_DV_ANTI_JOIN_CAP`, so the
    driver-side sidecar load is bounded at ~16 MB."""
    import numpy as np
    import pandas as pd

    frames = [
        pd.DataFrame({
            "__file": f["path"],
            "__pos": np.asarray(_read_dv(f["dv"]["path"])),
        })
        for f in dvd
    ]
    dv_df = spark.createDataFrame(pd.concat(frames))
    return df.join(F.broadcast(dv_df), ["__file", "__pos"], "left_anti")


def _dv_filter(df: DataFrame, dv_map: dict[str, str]) -> DataFrame:
    """Apply deletion vectors EXECUTOR-SIDE: each Arrow batch of the
    DV-carrying leg looks up its file's sidecar path in the broadcast
    ``{file → dv_path}`` map — O(DV-carrying files) driver bytes, never
    O(deleted rows) — loads the sorted-int64 sidecar INSIDE the scan
    task (memoized per sidecar within the worker), and drops deleted
    positions with a vectorized ``np.isin``. The read-side mirror of
    :func:`_write_dvs_distributed`: the driver handles only the file
    map; deleted-position bytes move executor-side, per file, exactly
    where Delta/Iceberg readers apply their position deletes. ``df``
    must carry ``__file``/``__pos`` and is returned schema-unchanged."""
    bc = df.sparkSession.sparkContext.broadcast(dict(dv_map))

    def _filter(batches):
        import numpy as np

        cache: dict = {}
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            files = pdf["__file"].to_numpy()
            mask = np.ones(len(pdf), dtype=bool)
            for fpath in np.unique(files):
                dvp = bc.value.get(fpath)
                if not dvp:
                    continue
                dv = cache.get(dvp)
                if dv is None:
                    with open(dvp, "rb") as fh:
                        dv = np.frombuffer(fh.read(), dtype="<i8")
                    cache[dvp] = dv
                sel = files == fpath
                mask[sel] &= ~np.isin(
                    pdf["__pos"].to_numpy("int64")[sel], dv
                )
            yield pdf if mask.all() else pdf[mask]

    return df.mapInPandas(_filter, df.schema)


def _scan(
    spark: SparkSession,
    entries: list,
    schema: StructType,
    keep_meta: bool = False,
) -> DataFrame:
    """The one snapshot scan every read AND mutation path goes through:
    parquet read of the entries' files under ``schema`` (the manifest's
    physical schema — no inference job; a column a file lacks reads as
    NULL) with their deletion vectors applied (merge-on-read). With no
    entries it is an empty frame of ``schema``. With no DVs this is a
    plain scan — zero overhead. With DVs, the DV-carrying leg routes
    through :func:`_dv_anti_join` or :func:`_dv_filter`; driver-side
    work is O(DV files) past the anti-join cap, never O(deleted rows).

    ``keep_meta=True`` retains ``__file`` (manifest-normalized path) and
    ``__pos`` (row index) for the copy-on-write discovery scans — which
    MUST be DV-aware or UPDATE/MERGE/DELETE would match, count, and
    resurrect rows that are already deleted.

    Read-path cost model: only the DV-CARRYING files pay the
    merge-on-read tax — clean files go through a separate plain scan
    and the two legs union, so a point delete that DV'd 3 of 10,000
    files adds the metadata projection + per-file sidecar filter to 3
    files' rows and nothing else. The same split applies under
    ``keep_meta`` (both legs project the meta columns; only the DV leg
    takes the DV filter)."""
    if not entries:
        out = spark.createDataFrame([], schema)
        if keep_meta:
            out = out.withColumns({
                "__file": F.lit(None).cast("string"),
                "__pos": F.lit(None).cast("long"),
            })
        return out
    reader = spark.read.schema(schema)
    dvd = [f for f in entries if f.get("dv")]
    if not dvd and not keep_meta:
        return reader.parquet(*_paths(entries))

    def _with_meta(subset):
        return (
            reader.parquet(*_paths(subset))
            .withColumn("__file", _norm_file_path())
            .withColumn("__pos", F.col("_metadata.row_index"))
        )

    def _apply_dvs(df_meta):
        # bounded DVs → codegen anti-join; unbounded → executor-side
        # Arrow filter (driver never loads O(deleted rows) past the cap)
        total = sum(f["dv"].get("n", _DV_ANTI_JOIN_CAP + 1) for f in dvd)
        if total <= _DV_ANTI_JOIN_CAP:
            return _dv_anti_join(spark, df_meta, dvd)
        return _dv_filter(
            df_meta, {f["path"]: f["dv"]["path"] for f in dvd}
        )

    clean = [f for f in entries if not f.get("dv")]
    if keep_meta:
        out = _apply_dvs(_with_meta(dvd)) if dvd else None
        if clean:
            cdf = _with_meta(clean)
            out = cdf if out is None else cdf.unionByName(out)
        return out
    out = _apply_dvs(_with_meta(dvd)).drop("__file", "__pos")
    if clean:
        out = reader.parquet(*_paths(clean)).unionByName(out)
    return out


def _live_counts(entries: list) -> dict[str, int]:
    """Physical row count minus DV size per file (footer metadata only
    — no data read): the denominators for ``mode="auto"``'s per-file
    DV-vs-rewrite decision."""
    import pyarrow.parquet as pq

    out = {}
    for f in entries:
        n = pq.ParquetFile(f["path"]).metadata.num_rows
        out[f["path"]] = n - f.get("dv", {}).get("n", 0)
    return out


# ---------------------------------------------------------------------------
# Cluster-spec transforms (Iceberg hidden partitioning): a spec column
# is either a plain column name (identity) or a transform over one —
# "year(ts)" / "month(ts)" / "day(ts)" / "hour(ts)" (monotonic date
# truncations), "truncate(N,col)" (floor-to-width), "bucket(N,col)"
# (portable md5 hash bucket). Monotonic transforms need NO extra
# metadata: clustering on month(ts) makes each file's RAW ts [min,max]
# month-tight, so the existing stats pruning answers raw-column
# predicates — the user filters on ts, never on a partition column
# (Iceberg's core pitch). bucket() is not monotonic, so each
# bucket-clustered file records the bucket values it contains and
# read_table(eq=...) prunes by membership — point reads on a 100 TB
# bucket-clustered key touch 1/N of the files with zero index bytes.

_TRANSFORM_RE = _re.compile(
    r"^\s*(year|month|day|hour)\s*\(\s*([A-Za-z_][\w.]*)\s*\)\s*$"
    r"|^\s*(truncate|bucket)\s*\(\s*(\d+)\s*,\s*([A-Za-z_][\w.]*)\s*\)\s*$"
)


def _parse_spec_col(s: str) -> tuple[str, int | None, str]:
    """'month(ts)' -> ("month", None, "ts"); 'bucket(8,k)' ->
    ("bucket", 8, "k"); a bare name -> ("identity", None, name)."""
    m = _TRANSFORM_RE.match(s)
    if not m:
        return ("identity", None, s)
    if m.group(1):
        return (m.group(1), None, m.group(2))
    return (m.group(3), int(m.group(4)), m.group(5))


def _format_spec_col(kind: str, n: int | None, col: str) -> str:
    if kind == "identity":
        return col
    if n is None:
        return f"{kind}({col})"
    return f"{kind}({n},{col})"


def _spec_source_col(s: str) -> str:
    """The raw column a spec entry reads (itself for identity)."""
    return _parse_spec_col(s)[2]


def _phys_spec_col(mapping: dict | None, s: str) -> str:
    """Rewrite a spec entry's SOURCE column logical→physical."""
    kind, n, col = _parse_spec_col(s)
    return _format_spec_col(kind, n, _phys_col(mapping, col))


# integer Spark dtypes whose CAST-to-string matches Python str(int)
_BUCKET_INT_DTYPES = {"tinyint", "smallint", "int", "bigint"}


def _bucket_of(value, n: int, dtype: str | None = None) -> int | None:
    """Driver-side twin of the bucket() expression — byte-identical to
    the Spark side (md5 of the CAST-to-string value, first 8 hex chars
    as an int, mod n) so manifest bucket membership can prune an eq
    probe without a false prune. Returns None (no pruning) unless the
    probe VALUE's Python type provably renders identically to Spark's
    cast-to-string of the COLUMN's ``dtype`` — membership was recorded
    from the column's rendering, so an int probe against a DOUBLE
    column (Spark spells ``5.0``, Python ``5``) would hash into the
    wrong bucket and falsely prune the matching file. ``dtype`` comes
    from the manifest's per-file ``bucket_dtypes`` (recorded at write
    time); unknown dtype disables pruning, never correctness."""
    import datetime as _dt
    import hashlib

    if dtype is None or isinstance(value, bool) or value is None:
        return None
    if isinstance(value, (_dt.datetime,)):
        return None  # cast-to-string spells vary (tz, micros) — skip
    if isinstance(value, _dt.date):
        if dtype != "date":
            return None
        s = value.isoformat()
    elif isinstance(value, int):
        if dtype not in _BUCKET_INT_DTYPES:
            return None
        s = str(value)
    elif isinstance(value, str):
        if dtype != "string":
            return None
        s = value
    else:
        return None  # float/decimal renderings differ — never risk it
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def _transform_expr(kind: str, n: int | None, col: str, dtype: str | None):
    """The Spark Column computing a spec transform of ``col``."""
    c = F.col(col)
    if kind == "identity":
        return c
    if kind in ("year", "month", "hour"):
        return F.date_trunc(kind, c)
    if kind == "day":
        return F.to_date(c)
    if kind == "truncate":
        if dtype == "string":
            return F.substring(c, 1, int(n))
        return (F.floor(c / F.lit(int(n))) * int(n)).cast(dtype or "long")
    if kind == "bucket":
        # portable hash (md5, not Murmur3): reproducible across
        # engines and sessions — the same trick corpus.assign_shards
        # uses; _bucket_of is the driver-side twin
        return (
            F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
            .cast("long") % int(n)
        ).cast("int")
    raise ValueError(f"unknown spec transform {kind!r}")


def _apply_spec_layout(df: DataFrame, spec_cols: list[str], n: int):
    """Range-cluster ``df`` on the spec columns' transform values (raw
    source column as secondary sort, so each file's raw [min, max] is
    tight WITHIN its truncation — what makes raw-column predicates
    prunable without any partition column: hidden partitioning)."""
    dtypes = dict(df.dtypes)
    sort_cols, tmp = [], []
    work = df
    for i, s in enumerate(spec_cols):
        kind, w, src = _parse_spec_col(s)
        if kind == "identity":
            sort_cols.append(F.col(src))
            continue
        name = f"__spec_{i}"
        while name in work.columns:
            name += "_"
        work = work.withColumn(
            name, _transform_expr(kind, w, src, dtypes.get(src))
        )
        tmp.append(name)
        sort_cols.extend([F.col(name), F.col(src)])
    work = work.repartitionByRange(int(n), *sort_cols).sortWithinPartitions(
        *sort_cols
    )
    return work.drop(*tmp) if tmp else work


def _batch_bucket_sets(
    df: DataFrame, paths: list[str], bucket_specs: list[tuple[str, int, str]]
) -> dict[str, dict[str, list[int]]]:
    """Per-file bucket membership for the batch just written from
    ``df``: one scan of the NEW files only (never the table), reading
    only the bucket source columns. bucket() is not monotonic, so
    min/max stats can't prune it — membership lists can, exactly (a
    bucket-clustered file holds ~1 bucket). collect is O(new files ×
    buckets/file): bounded by the batch, not the table."""
    raw = _scan(df.sparkSession, [{"path": p} for p in paths], df.schema)
    sel = [_norm_file_path().alias("__f")]
    aggs = []
    for j, (_, w, src) in enumerate(bucket_specs):
        sel.append(_transform_expr("bucket", w, src, None).alias(f"__b{j}"))
        aggs.append(F.collect_set(f"__b{j}").alias(f"__b{j}"))
    rows = raw.select(*sel).groupBy("__f").agg(*aggs).collect()
    # record each bucket source column's dtype next to the membership:
    # the driver-side probe hash is only sound when the probe value's
    # rendering matches this dtype's cast-to-string (see _bucket_of)
    batch_dtypes = dict(df.dtypes)
    dtypes = {
        key: batch_dtypes.get(src)
        for key, _, src in bucket_specs
        if batch_dtypes.get(src) is not None
    }
    return {
        r["__f"]: (
            {
                key: sorted(r[f"__b{j}"])
                for j, (key, _, _) in enumerate(bucket_specs)
            },
            dtypes,
        )
        for r in rows
    }


def _write_batch(
    df: DataFrame,
    path: str,
    bloom_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    num_files: int | None = None,
    spec_id: int | None = None,
) -> list[dict]:
    """Write df as a new immutable batch dir; return one manifest entry
    per file: {"path", "stats": {col: [min, max]}, "blooms": {col:
    bloom_path}} (blooms only for ``bloom_cols``).

    ``cluster_by`` range-partitions + sorts the batch on those columns
    before writing, so each file's footer [min, max] is TIGHT on them —
    the layout that turns manifest-stats pruning (and partition
    overwrite's whole-file drops) from best-effort into near-exact.

    ``spec_id`` tags each entry with the cluster-spec generation it was
    laid out under (partition evolution bookkeeping: DESCRIBE reports
    how many files still carry an older layout; reads never need the
    tag — manifest stats prune regardless of layout)."""
    if cluster_by:
        n = num_files or df.sparkSession.sparkContext.defaultParallelism
        df = _apply_spec_layout(df, list(cluster_by), int(n))
    batch = os.path.join(path, "_data", f"b_{uuid.uuid4().hex[:12]}")
    df.write.mode("error").parquet(batch)
    paths = sorted(
        os.path.join(batch, f)
        for f in os.listdir(batch)
        if f.endswith(".parquet")
    )
    bucket_specs = [
        (_format_spec_col(kind, w, src), w, src)
        for s in (cluster_by or [])
        for kind, w, src in [_parse_spec_col(s)]
        if kind == "bucket"
    ]
    buckets_by_file = (
        _batch_bucket_sets(df, paths, bucket_specs) if bucket_specs else {}
    )
    entries = []
    for p in paths:
        entry = {"path": p, "stats": _file_stats(p),
                 "null_cols": _null_cols(p)}
        if spec_id is not None:
            entry["spec_id"] = spec_id
        if p in buckets_by_file:
            entry["buckets"], entry["bucket_dtypes"] = buckets_by_file[p]
        blooms = {}
        for col in bloom_cols or []:
            bpath = _write_bloom(p, col)
            if bpath:
                blooms[col] = bpath
        if blooms:
            entry["blooms"] = blooms
        entries.append(entry)
    return entries


def _paths(files: list) -> list[str]:
    """File paths from manifest entries (dicts with stats)."""
    return [f["path"] for f in files]


def _commit(
    path: str,
    files: list[str],
    extra: dict | None = None,
    expect_version: int | None = None,
    operation: str | None = None,
) -> int:
    """Write the next manifest, then atomically flip the pointer.
    ``extra`` lands in the manifest verbatim (e.g. a streaming
    batch_id for replay detection); ``operation`` tags the commit with
    the mutation that produced it (DESCRIBE HISTORY surface).

    Table STATE keys — ``schema`` (the physical schema, as
    ``StructType.json()``), ``column_mapping``, ``cluster_spec``,
    ``mv`` and the clone identity — are inherited from the previous
    manifest unless ``extra`` sets them; a value of None clears one.
    Creates and overwrites set ``schema`` from their batch, writers
    that may add columns set it through :func:`_grow`, ADD COLUMN
    appends a field, and rollback/clone/publish carry their source's.

    ``expect_version`` is the optimistic-concurrency token: the version
    this writer's snapshot was read from. If another commit moved the
    pointer since, raise :class:`CommitConflict` instead of silently
    clobbering that writer's files out of the new manifest.

    The manifest CREATE is the commit's CAS: ``open(..., "x")`` is
    atomic on POSIX, so of two writers racing the same version number
    exactly one creates v{N}.json — the pointer-read check alone leaves
    a window where both pass and the second ``json.dump`` would
    silently clobber the first (a lost commit; caught by the threaded
    stress test). The loser gets :class:`CommitConflict` and re-reads.
    A writer crashing between manifest create and pointer flip leaves
    an orphan v{N}.json that blocks version N — the documented repair
    (same class as Delta's incomplete-commit cleanup) is to delete the
    orphan or point ``_CURRENT`` at it. Multi-writer across hosts is
    where Delta/Iceberg's log CAS takes over."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    try:
        version = current_version(path) + 1
    except FileNotFoundError:
        version = 1
    if expect_version is not None and version != expect_version + 1:
        raise CommitConflict(
            f"table {path} moved to v{version - 1} while this writer "
            f"worked from v{expect_version}; re-read and retry"
        )
    extra = dict(extra or {})
    prev_manifest = (
        _read_manifest(path, version - 1) if version > 1 else {}
    )
    # "mv": materialized-view metadata (io/matview.py) — rides the same
    # inheritance so intermediate commits of a multi-step refresh
    # (merge + zero-group delete) keep the view's watermark intact
    # cloned_from/clone_version identify a WAP stage: inheriting them
    # means a stage stays identifiable from its CURRENT manifest even
    # after vacuum drops v1 (branch reads resolve against current)
    for state_key in (
        "schema", "column_mapping", "cluster_spec", "mv",
        "cloned_from", "clone_version",
    ):
        if state_key not in extra:
            prev = prev_manifest.get(state_key)
            if prev is not None:
                extra[state_key] = prev
        elif extra[state_key] is None:
            del extra[state_key]
    if operation is not None:
        extra.setdefault("operation", operation)
    manifest = {"version": version, "n_files": len(files), **extra}
    # delta-encode between checkpoints: O(touched files) commit bytes
    # instead of O(table files) — see _CHECKPOINT_EVERY. Checkpoint
    # versions (and v1, and anything whose parent is unreadable) stay
    # full snapshots so every chain resolves within one interval.
    delta = None
    if version > 1 and version % _CHECKPOINT_EVERY != 0:
        parent_files = prev_manifest.get("files")
        if parent_files is not None:
            old_by = {f["path"]: f for f in parent_files}
            new_paths = {f["path"] for f in files}
            put = [f for f in files if old_by.get(f["path"]) != f]
            drop = [p for p in old_by if p not in new_paths]
            if len(put) + len(drop) < len(files):
                delta = {"base": version - 1, "put": put, "drop": drop}
    if delta is not None:
        manifest["delta"] = delta
    else:
        manifest["files"] = files
    mpath = os.path.join(_manifest_dir(path), f"v{version}.json")
    # tmp lives OUTSIDE _manifests: every consumer listdirs that dir and
    # json-parses what it finds — a half-written tmp there would crash
    # committed_batch_ids/version_at and vacuum could delete an
    # in-flight writer's tmp (same filesystem, so os.link still works)
    tmp_manifest = os.path.join(path, f"_tmp_manifest_{uuid.uuid4().hex[:8]}")
    with open(tmp_manifest, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp_manifest, mpath)  # atomic create-if-absent (CAS)
    except FileExistsError:
        os.remove(tmp_manifest)
        raise CommitConflict(
            f"another writer committed v{version} of {path} first; "
            f"re-read and retry"
        ) from None
    finally:
        if os.path.exists(tmp_manifest):
            os.remove(tmp_manifest)
    tmp = _pointer(path) + f".tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, _pointer(path))  # POSIX-atomic: readers see old or new
    return version


class ConstraintViolation(ValueError):
    """A write's rows break one or more of the table's CHECK
    constraints; nothing was committed."""


def _constraints_path(path: str) -> str:
    return os.path.join(path, "_constraints.json")


def table_constraints(path: str) -> dict[str, str]:
    """The table's CHECK constraints: {name: sql_boolean_expr}."""
    try:
        with open(_constraints_path(path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _save_constraints(path: str, cons: dict[str, str]) -> None:
    tmp = _constraints_path(path) + f".tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(cons, fh)
    os.replace(tmp, _constraints_path(path))


def _enforce_constraints(
    df: DataFrame, path: str, cons: dict[str, str] | None = None
) -> None:
    """Verify ``df`` (the rows a commit is about to introduce) against
    the table's CHECK constraints in ONE aggregation pass — O(rules)
    state, cost one scan of the DELTA, never the table. SQL CHECK
    semantics: a row passes when the expression is TRUE or NULL
    (unknown is not a violation — unlike the stricter expectations
    gate in operators/quality.py, which is the right tool when unknown
    must fail). Raises :class:`ConstraintViolation` with per-rule
    counts; the caller commits nothing."""
    if cons is None:
        cons = table_constraints(path)
    if not cons:
        return
    row = df.agg(
        *[
            F.count_if(~F.coalesce(F.expr(e), F.lit(True))).alias(n)
            for n, e in cons.items()
        ]
    ).collect()[0]
    bad = {n: int(row[n]) for n in cons if row[n]}
    if bad:
        raise ConstraintViolation(
            f"write to {path} violates CHECK constraint(s) "
            f"{ {n: f'{c} rows' for n, c in bad.items()} } — "
            f"{ {n: cons[n] for n in bad} }"
        )


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> None:
    """Attach a named CHECK constraint (a SQL boolean expression over
    the table's columns). The EXISTING data is validated first — one
    scan, like Delta's ADD CONSTRAINT — so a constraint can never be
    born already broken; every subsequent append/overwrite/merge/update
    validates its delta before committing."""
    if not name or not expr:
        raise ValueError("add_constraint needs a non-empty name and expr")
    current = table_constraints(path)
    # validate ONLY the new rule against existing data (the current
    # rules already held at their own add/commit time) — WITHOUT
    # touching the constraints file: a typo'd column raises
    # AnalysisException here and must leave the rule set untouched,
    # and concurrent writers keep enforcing the existing rules
    _enforce_constraints(read_table(spark, path), path, {name: expr})
    _save_constraints(path, {**current, name: expr})


def drop_constraint(path: str, name: str) -> None:
    cons = table_constraints(path)
    cons.pop(name, None)
    _save_constraints(path, cons)


def create_table(
    df: DataFrame,
    path: str,
    extra: dict | None = None,
    bloom_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    num_files: int | None = None,
    constraints: dict[str, str] | None = None,
) -> int:
    """Create version 1 from ``df``. Fails if the table exists.
    ``bloom_cols`` adds per-file Bloom indexes for equality skipping;
    ``cluster_by`` writes the batch range-clustered on those columns
    (tight per-file stats → manifest pruning + whole-file partition
    overwrites) AND records it as the table's CLUSTER SPEC — later
    appends/overwrites/compactions lay their files out under it by
    default, and :func:`alter_clustering` evolves it metadata-only;
    ``constraints`` attaches CHECK constraints ({name: sql_bool_expr})
    validated against ``df`` and every later write."""
    if os.path.exists(_pointer(path)):
        raise FileExistsError(f"versioned table already exists at {path}")
    os.makedirs(path, exist_ok=True)
    if constraints:
        _enforce_constraints(df, path, dict(constraints))
        _save_constraints(path, dict(constraints))
    extra = {**(extra or {}), "schema": _schema_json(df.schema)}
    spec_id = None
    if cluster_by:
        cluster_by = [
            _format_spec_col(*_parse_spec_col(c)) for c in cluster_by
        ]
        extra["cluster_spec"] = {"spec_id": 1, "cols": list(cluster_by)}
        spec_id = 1
    return _commit(
        path,
        _write_batch(df, path, bloom_cols, cluster_by, num_files,
                     spec_id=spec_id),
        extra, operation="CREATE",
    )


class SchemaConflict(ValueError):
    """An incoming batch's column types contradict the table's — the
    write was rejected BEFORE any file landed. Without this gate a
    type-flipped write succeeds and then poisons every later read (the
    manifest schema could hold only one of the two types). Delta
    enforces the same rule at write time."""


def _grow(m: dict, path: str, fields: list) -> dict:
    """The one schema gate of every write that adds columns or rows to
    an existing table (append, partition overwrite, UPDATE, MERGE, ADD
    COLUMN): the incoming logical ``fields`` checked against version
    ``m``'s schema from the manifest alone — no Spark job, before any
    file lands.

    - a same-named column with a DIFFERENT type raises
      :class:`SchemaConflict`;
    - an omitted column passes (it reads as NULL for the new rows);
    - a NEW column is appended to the schema — under a column mapping
      with a physical name no live or dropped column holds
      (:func:`_mint_physical`).

    Returns the ``schema`` / ``column_mapping`` state the commit must
    set (empty when the schema is unchanged)."""
    schema = _schema(m, path)
    mapping = m.get("column_mapping")
    have = {
        f.name: f.dataType.simpleString() for f in _logical(m, path).fields
    }
    conflicts = {
        f.name: (have[f.name], f.dataType.simpleString())
        for f in fields
        if f.name in have and have[f.name] != f.dataType.simpleString()
    }
    if conflicts:
        detail = ", ".join(
            f"{c}: table={a} incoming={b}"
            for c, (a, b) in sorted(conflicts.items())
        )
        raise SchemaConflict(
            f"write to {path} rejected — column type conflicts would "
            f"poison every subsequent read: {detail}. Cast the batch to "
            f"the table's types (or rename the column) and retry."
        )
    new = [f for f in fields if f.name not in have]
    if not new:
        return {}
    state = {}
    if mapping:
        mapping = dict(mapping)
        taken = set(schema.fieldNames())
        for f in new:
            mapping[f.name] = _mint_physical(f.name, taken)
            taken.add(mapping[f.name])
        state["column_mapping"] = mapping
    state["schema"] = _schema_json(StructType(schema.fields + [
        StructField(_phys_col(mapping, f.name), f.dataType, True, f.metadata)
        for f in new
    ]))
    return state


def _evolve(df: DataFrame, m: dict, path: str) -> tuple[DataFrame, dict]:
    """:func:`_grow` for a batch: returns ``df`` under physical names
    and the state its commit must set."""
    state = _grow(m, path, df.schema.fields)
    mapping = state.get("column_mapping", m.get("column_mapping"))
    return _to_physical(df, mapping), state


def append_table(
    df: DataFrame,
    path: str,
    extra: dict | None = None,
    bloom_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    num_files: int | None = None,
) -> int:
    """Append-only commit: new batch files + every current file.

    Carries the optimistic-concurrency token from the snapshot read: an
    append planned against v(N) while an UPDATE/DELETE committed v(N+1)
    would otherwise resurrect the files that commit removed (lost
    update). On :class:`CommitConflict`, re-read and retry — the batch
    files already written are reusable garbage at worst.

    Schema contract (:func:`_grow`): new/omitted columns are fine
    (additive drift); a type-conflicting column raises
    :class:`SchemaConflict` before anything is written.

    Layout: with no explicit ``cluster_by`` the batch is laid out under
    the table's current cluster spec (when the batch carries every spec
    column) and its files are tagged with the spec id — partition
    evolution's steady state: every NEW file lands in the CURRENT
    layout while old files stay readable under theirs."""
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    phys, state = _evolve(df, manifest, path)
    _enforce_constraints(df, path)
    files = manifest["files"]
    mapping = state.get("column_mapping", manifest.get("column_mapping"))
    spec = manifest.get("cluster_spec")
    spec_id = None
    if spec and spec.get("cols"):
        if cluster_by is None:
            if all(
                _spec_source_col(c) in df.columns for c in spec["cols"]
            ):
                cluster_by = list(spec["cols"])
                spec_id = spec["spec_id"]
                if num_files is None:
                    # spec-defaulted layout must not EXPAND the batch:
                    # a streaming micro-batch arriving in 1-2 partitions
                    # would otherwise range-shuffle into
                    # defaultParallelism tiny files per commit
                    num_files = df.rdd.getNumPartitions()
        elif list(cluster_by) == list(spec["cols"]):
            spec_id = spec["spec_id"]
    if mapping:
        bloom_cols = [mapping.get(c, c) for c in (bloom_cols or [])] or None
        cluster_by = [
            _phys_spec_col(mapping, c) for c in (cluster_by or [])
        ] or None
    return _commit(
        path,
        files + _write_batch(phys, path, bloom_cols, cluster_by, num_files,
                             spec_id=spec_id),
        {**(extra or {}), **state},
        expect_version=base_version,
        operation="APPEND",
    )


def overwrite_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    part_col: str,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Dynamic partition overwrite on a versioned table: replace exactly
    the ``part_col`` values present in ``df`` (the K1 overwrite-by-day
    contract — idempotent daily re-loads — at the lakehouse layer, with
    history retained).

    File-level mechanics, driven by the manifest's write-time stats:

    - files whose [min, max] can't contain any incoming value are
      REFERENCED untouched (zero IO);
    - files fully inside the incoming value set (min == max == a value —
      the common case under a ``cluster_by=[part_col]`` layout) are
      DROPPED whole, no read;
    - straddling files (unclustered layouts, or stats-less columns) are
      rewritten keeping only rows OUTSIDE the incoming values — the
      DV-aware scan, so prior merge-on-read deletes survive;
    - the incoming data lands as its own batch, clustered on
      ``part_col`` so the NEXT overwrite of these partitions drops
      whole files instead of rewriting.

    The distinct-value collect is bounded by the delivery's partition
    count (a day-grain reload is 1, a backfill dozens — never rows).
    Same optimistic-concurrency token as every other mutation. Returns
    {"version", "partitions", "files_dropped", "files_rewritten",
    "files_reused"}."""
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    phys, state = _evolve(df, manifest, path)
    _enforce_constraints(df, path)
    files = manifest["files"]
    mapping = state.get("column_mapping", manifest.get("column_mapping"))
    values = [r[0] for r in df.select(part_col).distinct().collect()]
    phys_part = _phys_col(mapping, part_col)
    if any(v is None for v in values):
        raise ValueError(
            f"overwrite_partitions: NULL in partition column {part_col!r}"
        )
    keys = {_stat_key(v) for v in values}
    untouched, dropped, straddle = [], [], []
    for f in files:
        st = f.get("stats", {}).get(phys_part)
        # parquet min/max EXCLUDE nulls: a file whose every non-null row
        # is one overwritten value may still hold NULL-partition rows,
        # which are NOT being overwritten — whole-file decisions need
        # the write-time null census (absent in old manifests →
        # conservative straddle rewrite)
        no_nulls = "null_cols" in f and phys_part not in f["null_cols"]
        # non-overlap → referenced untouched regardless of nulls (its
        # NULL rows aren't overwritten and the file isn't replaced)
        if st is not None and not any(st[0] <= k <= st[1] for k in keys):
            untouched.append(f)
        elif st is not None and no_nulls and st[0] == st[1] and st[0] in keys:
            dropped.append(f)
        else:
            straddle.append(f)
    new_entries: list[dict] = []
    if straddle:
        # NULL-partition rows in a straddling file are NOT being
        # overwritten (incoming NULLs are rejected above) — keep them;
        # bare ~isin would drop them under three-valued logic
        # physical-level rewrite: straddle files are filtered on the
        # PHYSICAL partition column and re-written unchanged otherwise
        kept = _scan(spark, straddle, _schema(manifest, path)).filter(
            F.col(phys_part).isNull() | ~F.col(phys_part).isin(values)
        )
        re_index = _indexed_cols(straddle)
        new_entries += _write_batch(kept, path, re_index or None)
    spec = manifest.get("cluster_spec")
    new_entries += _write_batch(
        phys, path,
        [_phys_col(mapping, c) for c in (bloom_cols or [])] or None,
        cluster_by=[phys_part],
        num_files=max(len(values), 1),
        # part_col-clustered batches satisfy the table spec only when
        # the spec IS [part_col]
        spec_id=(
            spec["spec_id"]
            if spec and list(spec.get("cols", [])) == [part_col]
            else None
        ),
    )
    version = _commit(
        path, untouched + new_entries, extra=state,
        expect_version=base_version, operation="OVERWRITE_PARTITIONS",
    )
    return {
        "version": version,
        "partitions": len(values),
        "files_dropped": len(dropped),
        "files_rewritten": len(straddle),
        "files_reused": len(untouched),
    }


def committed_batch_ids(path: str) -> set[int]:
    """Streaming batch_ids recorded by retained manifests — the replay
    guard for the versioned streaming sink. O(versions retained) tiny
    JSON reads, driver-side; vacuum bounds retention (a replayed batch
    is always recent, well inside any sane keep_last)."""
    ids: set[int] = set()
    for fname in os.listdir(_manifest_dir(path)):
        if not _MANIFEST_RE.fullmatch(fname):
            continue  # stray tmp/foreign files are not manifests
        with open(os.path.join(_manifest_dir(path), fname)) as fh:
            m = json.load(fh)
        if "batch_id" in m:
            ids.add(m["batch_id"])
    return ids


def version_of_batch(path: str, batch_id: int) -> int | None:
    """The version whose commit recorded this streaming ``batch_id``
    (the inverse of :func:`committed_batch_ids`), or None when no
    retained manifest carries it. Same O(versions retained) tiny-JSON
    cost and vacuum-retention contract: a replayed batch is recent, so
    its commit is always inside any sane retention window."""
    for fname in os.listdir(_manifest_dir(path)):
        if not _MANIFEST_RE.fullmatch(fname):
            continue
        with open(os.path.join(_manifest_dir(path), fname)) as fh:
            m = json.load(fh)
        if m.get("batch_id") == batch_id:
            return m["version"]
    return None


def prunable(files: list, col: str, lo, hi) -> tuple[list, list]:
    """Split manifest entries into (kept, skipped) for the predicate
    ``col BETWEEN lo AND hi`` using write-time footer stats: a file is
    skipped iff its [min, max] cannot overlap [lo, hi]. Files without
    stats for ``col`` are conservatively kept."""
    kept, skipped = [], []
    lo, hi = _stat_key(lo), _stat_key(hi)
    for f in files:
        st = f.get("stats", {}).get(col)
        if st is not None and (st[0] > hi or st[1] < lo):
            skipped.append(f)
        else:
            kept.append(f)
    return kept, skipped


def overwrite_table(df: DataFrame, path: str) -> int:
    """Full-overwrite commit (previous versions remain readable).
    Overwrite replaces every row by intent, so it can't *lose* data to
    a concurrent commit — but it still carries the token so two racing
    writers can't both mint the same version number (the second manifest
    write would clobber the first's JSON).

    The new version's schema is ``df``'s (the new version references
    only the new files, so no old column — live, dropped or declared
    — survives). Under a column mapping the mapping is rebuilt over
    ``df``'s columns: a column the base version maps keeps its
    physical name (physical names never change, so the change feed
    across the overwrite lines old rows up with new ones), and a new
    column gets a name no column of the base schema holds. Time travel
    still reads each old version under its own schema and mapping."""
    _enforce_constraints(df, path)
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    mapping = manifest.get("column_mapping")
    extra = {}
    if mapping:
        taken = set(_schema(manifest, path).fieldNames())
        mapping = {
            c: mapping.get(c) or _mint_physical(c, taken) for c in df.columns
        }
        extra["column_mapping"] = mapping
    phys = _to_physical(df, mapping)
    extra["schema"] = _schema_json(phys.schema)
    # the cluster spec survives an overwrite (it describes the table's
    # intended layout, not any one version's files) — the new data is
    # laid out under it when it carries every spec column
    spec = manifest.get("cluster_spec")
    cluster_by, spec_id = None, None
    if spec and spec.get("cols") and all(
        _spec_source_col(c) in df.columns for c in spec["cols"]
    ):
        cluster_by = [_phys_spec_col(mapping, c) for c in spec["cols"]]
        spec_id = spec["spec_id"]
    return _commit(
        path,
        _write_batch(phys, path, cluster_by=cluster_by, spec_id=spec_id),
        extra=extra,
        expect_version=base_version,
        operation="OVERWRITE",
    )


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    between: tuple[str, object, object] | None = None,
    eq: tuple[str, object] | None = None,
) -> DataFrame:
    """Read a version (default: current). The file list is resolved
    once, driver-side, from the manifest — a concurrent commit can't
    shift the snapshot under the query.

    ``between=(col, lo, hi)`` enables MANIFEST-LEVEL data skipping: the
    write-time footer stats drop every file whose [min, max] can't
    overlap [lo, hi] before Spark plans a single task, and the exact
    BETWEEN filter is still applied (and scan-pushed) on the survivors
    — the same two-tier pruning Delta/Iceberg perform from their logs.
    With a z-ordered or range-partitioned layout a selective predicate
    prunes all but O(matching) files."""
    v = current_version(path) if version is None else version
    m = _read_manifest(path, v)
    files = m["files"]
    mapping = m.get("column_mapping")  # stats/blooms key PHYSICAL names
    if eq is not None:
        # Bloom-index point-read: drop every file whose per-file bloom
        # provably lacks the value (no false negatives; the exact
        # filter below removes bloom false positives). Range stats
        # can't do this on a high-cardinality unclustered key.
        # Bucket-clustered layouts: membership pruning drops ~ (N-1)/N
        # of the files.
        col, value = eq
        files, _ = prunable_eq(files, _phys_col(mapping, col), value)
        files, _ = prunable_bucket(files, _phys_col(mapping, col), value)
    # one (col, lo, hi) or a list of them — conjunctive pruning: every
    # predicate independently drops non-overlapping files
    preds = (
        [] if between is None
        else [between] if isinstance(between, tuple) else list(between)
    )
    for col, lo, hi in preds:
        files, _ = prunable(files, _phys_col(mapping, col), lo, hi)
    # a version (or a predicate) with no files left reads as 0 rows
    # with the version's columns; _scan also applies deletion vectors
    out = _apply_mapping(_scan(spark, files, _schema(m, path)), mapping)
    if eq is not None:
        out = out.filter(F.col(eq[0]) == F.lit(eq[1]))
    for col, lo, hi in preds:
        out = out.filter(F.col(col).between(lo, hi))
    return out


def update_table(
    spark: SparkSession,
    path: str,
    set_cols: dict[str, Column],
    where: Column,
) -> dict:
    """UPDATE ... SET ... WHERE with file-level copy-on-write.

    1. One metadata-augmented scan finds the FILES containing matched
       rows (`_metadata.file_path` — no extra column materialized in
       the output).
    2. Only those files are re-read, projected through the K6
       conditional update, and written as a new batch.
    3. The new manifest = (current files − touched) + new batch;
       pointer flip is atomic.

    At 100 TB with any locality between the predicate and the file
    layout (date-partitioned writes, z-ordered clustering — both are
    this engine's write paths), touched ≪ total and the UPDATE cost is
    proportional to the touched slice. Worst case (predicate hits every
    file) degrades to exactly the K6 full rewrite, never worse.
    Returns {"version", "n_matched", "files_touched", "files_reused"}.
    """
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    files = manifest["files"]
    mapping = manifest.get("column_mapping")
    schema = _schema(manifest, path)
    # ONE discovery scan yields both the touched-file set and the match
    # count: per-file partial counts collapse to file-cardinality rows.
    # _scan applies deletion vectors and pre-normalizes the file path,
    # so already-deleted rows can neither match nor be resurrected.
    # The mapping projection makes the predicate's LOGICAL names work.
    df = _apply_mapping(_scan(spark, files, schema, keep_meta=True), mapping)
    per_file = df.filter(where).groupBy("__file").count().collect()
    touched = [r["__file"] for r in per_file]
    n_matched = sum(r["count"] for r in per_file)
    if not touched:
        return {
            "version": current_version(path),
            "n_matched": 0,
            "files_touched": 0,
            "files_reused": len(files),
        }
    touched_set = set(touched)
    untouched = [f for f in files if f["path"] not in touched_set]
    touched_entries = [f for f in files if f["path"] in touched_set]
    rewritten = apply_update(
        _apply_mapping(_scan(spark, touched_entries, schema), mapping),
        set_cols,
        where,
    )
    # a SET that changes a column's type is a SchemaConflict; the
    # UPDATE may also write constraint-breaking values — both checked
    # on the rewritten (touched-files-only) slice before anything lands
    phys, state = _evolve(rewritten, manifest, path)
    _enforce_constraints(rewritten, path)
    re_index = _indexed_cols(touched_entries)
    new_files = untouched + _write_batch(phys, path, re_index or None)
    version = _commit(
        path, new_files, extra=state, expect_version=base_version,
        operation="UPDATE",
    )
    return {
        "version": version,
        "n_matched": n_matched,
        "files_touched": len(touched),
        "files_reused": len(untouched),
    }


def rollback(path: str, version: int) -> int:
    """Re-commit an old version's file list as the new current version
    (history stays linear; nothing is deleted). The target version's
    schema and column mapping are restored with it (None clears a
    later rename; the schema matters when rolling back past an
    OVERWRITE — the old files' dropped columns return with the old
    file list, so their names stay taken)."""
    base_version = current_version(path)
    m = _read_manifest(path, version)
    return _commit(
        path,
        m["files"],
        extra={
            "schema": m.get("schema"),
            "column_mapping": m.get("column_mapping"),
            "cluster_spec": m.get("cluster_spec"),
            # a rolled-back materialized view must also carry the OLD
            # source-version watermark, or its next refresh would skip
            # the CDF range it just un-applied
            "mv": m.get("mv"),
        },
        expect_version=base_version,
        operation=f"ROLLBACK(v{version})",
    )


def table_mapping(path: str, version: int | None = None) -> dict | None:
    """The version's column mapping {logical: physical}, or None when
    logical == physical (no rename/drop ever committed)."""
    v = current_version(path) if version is None else version
    return _read_manifest(path, v).get("column_mapping")


def table_cluster_spec(path: str, version: int | None = None) -> dict | None:
    """The version's cluster spec {"spec_id": N, "cols": [logical]},
    or None if clustering was never declared. ``cols == []`` means the
    table was explicitly un-clustered (the spec id keeps advancing so
    file tags stay unambiguous across re-clusterings)."""
    v = current_version(path) if version is None else version
    return _read_manifest(path, v).get("cluster_spec")


def alter_clustering(path: str, cluster_by: list[str] | None) -> int:
    """ALTER TABLE ... CLUSTER BY — partition-spec evolution,
    METADATA-ONLY: commits the same file list with a new cluster spec
    (spec id bumped); zero data IO at any table size, exactly Iceberg's
    partition-spec evolution shape. Existing files keep the layout (and
    ``spec_id`` tag) they were written under and stay fully readable —
    manifest min/max pruning never depended on the layout, it just
    prunes less on files whose stats are loose on the new columns, the
    same graceful degradation Iceberg accepts for pre-evolution files.
    Every write AFTER this commit lays its files out under the new
    spec; :func:`compact_table` migrates old files forward
    incrementally. ``cluster_by=None`` (or ``[]``) un-clusters.

    Spec columns may be TRANSFORMS (hidden partitioning): "year(ts)" /
    "month(ts)" / "day(ts)" / "hour(ts)", "truncate(N,col)",
    "bucket(N,col)". Users keep filtering on the RAW column — monotonic
    transforms prune through ordinary min/max stats; bucket-clustered
    files record their bucket membership so ``read_table(eq=...)``
    prunes to ~1/N of the files with zero index bytes.

    Time travel reads each version under its own spec (the spec is
    per-manifest state, like the column mapping)."""
    base_version = current_version(path)
    m = _read_manifest(path, base_version)
    # canonicalize ("bucket( 8 , k )" -> "bucket(8,k)") so spec
    # comparisons and per-file bucket keys are byte-stable
    cols = [
        _format_spec_col(*_parse_spec_col(c)) for c in (cluster_by or [])
    ]
    logical = set(_logical(m, path).fieldNames())
    missing = [c for c in cols if _spec_source_col(c) not in logical]
    if missing:
        raise ValueError(
            f"alter_clustering: no column(s) {missing} in "
            f"{sorted(logical)}"
        )
    prev = m.get("cluster_spec")
    if prev is not None and list(prev.get("cols", [])) == cols:
        return base_version  # no-op: already this spec
    if prev is None and not cols:
        return base_version  # un-clustering a never-clustered table
    spec_id = (prev["spec_id"] + 1) if prev else 1
    return _commit(
        path,
        m["files"],
        extra={"cluster_spec": {"spec_id": spec_id, "cols": cols}},
        expect_version=base_version,
        operation=f"CLUSTER_BY({', '.join(cols) or 'NONE'})",
    )


def rename_column(path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN — METADATA-ONLY: commits the same
    file list with an updated column mapping; zero data IO at any
    table size. Readers of this and later versions see ``new``;
    earlier versions keep showing ``old`` (the mapping is part of each
    manifest). Constraints referencing the old name are rejected —
    rename or drop them first."""
    base_version = current_version(path)
    m = _read_manifest(path, base_version)
    mapping = m.get("column_mapping") or {
        c: c for c in _schema(m, path).fieldNames()
    }
    if old not in mapping:
        raise ValueError(f"no column {old!r} in {sorted(mapping)}")
    if new in mapping:
        raise ValueError(f"column {new!r} already exists")
    for cname, expr in table_constraints(path).items():
        if old in expr:
            raise ValueError(
                f"constraint {cname!r} ({expr}) references {old!r}; "
                f"drop or rewrite it before renaming"
            )
    new_mapping = {
        (new if k == old else k): v for k, v in mapping.items()
    }
    extra = {"column_mapping": new_mapping}
    # the cluster spec names LOGICAL columns: a rename relabels the
    # spec in place (same spec_id — the physical layout is unchanged,
    # exactly Iceberg renaming a partition source column)
    spec = m.get("cluster_spec")
    if spec and any(
        _spec_source_col(c) == old for c in spec.get("cols", [])
    ):
        def _relabel(s: str) -> str:
            kind, w, src = _parse_spec_col(s)
            return _format_spec_col(kind, w, new if src == old else src)

        extra["cluster_spec"] = {
            "spec_id": spec["spec_id"],
            "cols": [_relabel(c) for c in spec["cols"]],
        }
    return _commit(
        path,
        m["files"],
        extra=extra,
        expect_version=base_version,
        operation=f"RENAME_COLUMN({old}->{new})",
    )


def drop_column(path: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN — METADATA-ONLY: the column leaves
    the mapping (readers stop seeing it); the physical bytes remain in
    existing files until natural rewrites (compaction, CoW mutations)
    age them out — exactly Delta's drop-with-column-mapping shape.
    The physical name STAYS in the manifest's schema, so no later
    column can take it and resurrect the dropped bytes (the GDPR
    failure mode); a full OVERWRITE frees it. Earlier versions still
    show the column (time travel)."""
    base_version = current_version(path)
    m = _read_manifest(path, base_version)
    mapping = m.get("column_mapping") or {
        c: c for c in _schema(m, path).fieldNames()
    }
    if col not in mapping:
        raise ValueError(f"no column {col!r} in {sorted(mapping)}")
    if len(mapping) == 1:
        raise ValueError("cannot drop the last visible column")
    for cname, expr in table_constraints(path).items():
        if col in expr:
            raise ValueError(
                f"constraint {cname!r} ({expr}) references {col!r}; "
                f"drop it before dropping the column"
            )
    extra = {
        "column_mapping": {k: v for k, v in mapping.items() if k != col}
    }
    # dropping a clustering column EVOLVES the spec (col removed, spec
    # id bumped): future writes stop laying out on a column readers can
    # no longer see. Iceberg makes you drop the partition field first;
    # auto-evolving keeps the single-call ergonomics and the history
    # records both operations.
    spec = m.get("cluster_spec")
    if spec and any(
        _spec_source_col(c) == col for c in spec.get("cols", [])
    ):
        extra["cluster_spec"] = {
            "spec_id": spec["spec_id"] + 1,
            "cols": [
                c for c in spec["cols"] if _spec_source_col(c) != col
            ],
        }
    return _commit(
        path,
        m["files"],
        extra=extra,
        expect_version=base_version,
        operation=f"DROP_COLUMN({col})",
    )


def add_column(
    spark: SparkSession, path: str, col: str, dtype: str
) -> int:
    """ALTER TABLE ... ADD COLUMN — METADATA-ONLY, completing the
    column-ops triad with :func:`rename_column` / :func:`drop_column`:
    commits the same file list with the column appended to the
    manifest's schema (under a column mapping, with a freshly minted
    physical name); zero data IO at any table size. Reads serve the
    column as typed NULLs until data exists — no file carries it, and
    the Parquet reader NULL-fills a schema column a file lacks; the
    first append/rewrite carrying it writes real bytes. Later writes
    are type-checked against the DECLARED type (:func:`_grow`).
    Earlier versions don't show the column (time travel — the schema
    is per-manifest state, like the mapping). ``dtype`` is any Spark
    DDL type string (``bigint``, ``decimal(12,2)``,
    ``array<double>``); it is parsed/normalized via Spark's DDL type
    parser so a typo fails HERE, not on some later read. The parser
    sees ONLY a datatype grammar — never a SQL statement — so a
    whitelist-passing injection like ``'INT) AS c FROM range(10'``
    fails loud instead of normalizing silently (ADVICE r10)."""
    if not _re.fullmatch(r"[A-Za-z0-9_<>(),.: ]+", dtype):
        raise ValueError(f"suspicious type string {dtype!r}")
    try:
        # parse through the PUBLIC DDL surface (ADVICE r11: the private
        # _parse_datatype_string binding), as a single wrapped field —
        # "__c <dtype>" must yield exactly ONE field, which rejects
        # bare DDL schema lists ("a int, b string") structurally
        # instead of via the r11 startswith("struct") special case,
        # and struct<...> columns come through as that field's type
        parsed = StructType.fromDDL(f"__c {dtype}")
        if not isinstance(parsed, StructType) or len(parsed.fields) != 1:
            raise ValueError("a DDL schema list, not a single datatype")
        # fromDDL accepts a field-level "NOT NULL" suffix the old
        # parser rejected; silently recording the column as nullable
        # would drop the user's constraint (review r12) — refuse it
        # (added columns are typed-NULL projections until data exists,
        # so NOT NULL cannot be honored here anyway)
        if not parsed.fields[0].nullable:
            raise ValueError(
                "NOT NULL is not supported for added columns (they "
                "read as typed NULLs until data is written)"
            )
        col_type = parsed.fields[0].dataType
    except Exception as exc:
        raise ValueError(
            f"cannot parse column type {dtype!r}: {exc}"
        ) from None
    normalized = col_type.simpleString()
    base_version = current_version(path)
    m = _read_manifest(path, base_version)
    if col in _logical(m, path).fieldNames():
        raise ValueError(f"column {col!r} already exists")
    return _commit(
        path,
        m["files"],
        extra=_grow(m, path, [StructField(col, col_type)]),
        expect_version=base_version,
        operation=f"ADD_COLUMN({col} {normalized})",
    )


def vacuum(
    path: str, keep_last: int = 2, keep_seconds: float | None = None
) -> list[str]:
    """Delete batch dirs unreferenced by the retained manifests (and
    drop the older manifests). Retention is the UNION of two policies —
    the ``keep_last`` most recent versions AND (with ``keep_seconds``)
    every version committed within that window (manifest mtime, set by
    the atomic commit) — so a time-travel/CDF consumer is guaranteed a
    horizon in wall-clock terms, not just commit counts, no matter how
    bursty the commit rate. Returns removed dirs. Safe order:
    referenced set is computed from the manifests KEPT, so a crash
    mid-vacuum only leaves garbage, never dangling manifests."""
    import time

    current = current_version(path)
    keep = [v for v in range(current - keep_last + 1, current + 1) if v >= 1]
    if keep_seconds is not None:
        cutoff = time.time() - keep_seconds
        for fname in os.listdir(_manifest_dir(path)):
            if not _MANIFEST_RE.fullmatch(fname):
                continue
            v = int(fname[1:].split(".")[0])
            mtime = os.stat(
                os.path.join(_manifest_dir(path), fname)
            ).st_mtime
            if mtime >= cutoff and v not in keep:
                keep.append(v)
        keep.sort()
    # a retained DELTA manifest whose base chain is about to be dropped
    # must be materialized to a full snapshot FIRST (resolve while the
    # chain still exists, rewrite atomically). mtime is restored after
    # the rewrite — it is the commit timestamp version_at()/retention
    # key on, and materialization is not a new commit.
    keep_set = set(keep)
    for v in keep:
        mpath = os.path.join(_manifest_dir(path), f"v{v}.json")
        with open(mpath) as fh:
            raw = json.load(fh)
        if "delta" in raw and raw["delta"]["base"] not in keep_set:
            full = _read_manifest(path, v)  # resolves via the old chain
            st_ = os.stat(mpath)
            tmp = mpath + f".tmp_{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(full, fh)
            os.replace(tmp, mpath)
            os.utime(mpath, (st_.st_atime, st_.st_mtime))
    referenced: set[str] = set()
    for v in keep:
        for f in _read_manifest(path, v)["files"]:
            referenced.add(os.path.dirname(f["path"]))
            if f.get("dv"):
                referenced.add(os.path.dirname(f["dv"]["path"]))
    data_root = os.path.join(path, "_data")
    removed = []
    for b in sorted(os.listdir(data_root)):
        full = os.path.join(data_root, b)
        if full not in referenced:
            shutil.rmtree(full)
            removed.append(full)
    for fname in os.listdir(_manifest_dir(path)):
        if not _MANIFEST_RE.fullmatch(fname):
            continue
        v = int(fname[1:].split(".")[0])
        if v not in keep:
            os.remove(os.path.join(_manifest_dir(path), fname))
    return removed


def _source_profile(source: DataFrame, keys: list[str]) -> dict:
    """Everything a MERGE checks about its source, from ONE aggregate
    over the per-key counts (the source's lineage runs once):
    ``rows``, ``distinct_keys``, ``dup`` (one duplicated key as a
    ``{key: value}`` dict, or None — two NULL-key rows group together
    and count as a duplicate), ``null_key`` (any key column NULL) and
    ``envelope`` (each key's ``(min, max)``, NULL keys ignored; both
    None for an empty source). Shared by :func:`merge_table` and
    :func:`merge_probe_plan`."""
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    row = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.sum("__n").alias("__rows"),
            F.count(F.lit(1)).alias("__distinct"),
            F.max("__n").alias("__max_n"),
            F.max_by(F.struct(*keys), "__n").alias("__dup"),
            F.max(null_key).alias("__null_key"),
            *[
                c
                for i, k in enumerate(keys)
                for c in (
                    F.min(k).alias(f"__lo{i}"), F.max(k).alias(f"__hi{i}")
                )
            ],
        )
        .collect()[0]
    )
    return {
        "rows": int(row["__rows"] or 0),
        "distinct_keys": int(row["__distinct"]),
        "dup": (
            dict(zip(keys, row["__dup"])) if (row["__max_n"] or 0) > 1
            else None
        ),
        "null_key": bool(row["__null_key"]),
        "envelope": [
            (row[f"__lo{i}"], row[f"__hi{i}"]) for i in range(len(keys))
        ],
    }


def _probe_keys(
    source: DataFrame, keys: list[str], rows: int
) -> tuple[DataFrame, bool]:
    """The merge probes' build side: the source's key columns, hinted
    ``F.broadcast`` only while the source's profiled row count proves
    it delivery-sized. Past :data:`_MERGE_BROADCAST_CAP` the hint is
    dropped and AQE sizes the join itself, so a table-sized merge
    source (``replicate_table`` re-syncs, bulk backfills) can never
    force a broadcast the optimizer would refuse. Returns
    ``(probe_df, hinted)`` so EXPLAIN can report the strategy."""
    probe = source.select(*keys)
    if rows <= _MERGE_BROADCAST_CAP:
        return F.broadcast(probe), True
    return probe, False


def _prune_probe_entries(
    source: DataFrame,
    files: list,
    mapping: dict | None,
    keys: list[str],
    profile: dict,
) -> tuple[list, dict]:
    """The merge probe's FILE pruning, shared by :func:`merge_table`
    and :func:`merge_probe_plan` (EXPLAIN MERGE): returns the
    surviving manifest entries plus per-stage counters.

    Stage 1 — stats envelope (the Delta MERGE scan-pruning idea): a
    file whose write-time [min, max] for ANY merge key cannot
    intersect the source's key envelope can hold no match — the
    envelope comes from the :func:`_source_profile` aggregate, and
    those files drop BEFORE the probe scan. A delivery keyed into a
    narrow range of a range-partitioned/z-ordered table probes (and
    rewrites) only the files it can touch; the envelope is useless for
    scattered keys and the probe then degrades gracefully to the full
    scan.

    Stage 2 — bloom-index + bucket-membership pruning catch what the
    envelope can't: SCATTERED keys. For each key column that is
    bloom-indexed or bucket-clustered (hidden partitioning), collect
    the source's distinct values — only while the profile's distinct
    key count is within :data:`_MERGE_BLOOM_PROBE_CAP` (a key tuple
    has at least as many distinct values as any one key, so the
    collect stays bounded; past the cap the probe scan absorbs it) —
    then drop every file whose bucket set misses ALL of the values'
    buckets (free — manifest-only) and every file whose bloom rules
    out ALL of them."""
    probe_entries = files
    for k, (lo, hi) in zip(keys, profile["envelope"]):
        if lo is None:
            continue  # empty source: nothing prunes, probe finds 0
        probe_entries = prunable(
            probe_entries, _phys_col(mapping, k), lo, hi
        )[0]
    after_stats = len(probe_entries)
    # not delivery-sized: skip the value collects, stay cheap
    bounded = profile["distinct_keys"] <= _MERGE_BLOOM_PROBE_CAP
    for k in keys if bounded else []:
        pcol = _phys_col(mapping, k)
        has_bloom = any(
            f.get("blooms", {}).get(pcol) for f in probe_entries
        )
        has_bucket = any(
            _parse_spec_col(bk)[0] == "bucket"
            and _parse_spec_col(bk)[2] == pcol
            for f in probe_entries
            for bk in f.get("buckets", {})
        )
        if not (has_bloom or has_bucket):
            continue
        vals = [r[0] for r in source.select(k).distinct().collect()]
        if has_bucket:
            probe_entries = prunable_bucket_any(
                probe_entries, pcol, vals
            )[0]
        if has_bloom:
            probe_entries = prunable_eq_any(probe_entries, pcol, vals)[0]
    return probe_entries, {
        "files_total": len(files),
        "files_after_stats": after_stats,
        "files_after_index": len(probe_entries),
    }


def merge_probe_plan(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    has_by_source_clause: bool = False,
) -> dict:
    """Dry-run the MERGE probe phase (the plan EXPLAIN MERGE shows):
    runs the same pruning + semi-probe :func:`merge_table` would —
    stats envelope, bucket membership, per-file blooms, then the
    (broadcast when delivery-sized) key semi-probe — WITHOUT mutating
    anything, and reports how far each stage narrowed the rewrite.
    The null-merge-key guard merge_table enforces reads the same one
    source aggregate (:func:`_source_profile`) here, and is REPORTED
    (``source_null_keys``) rather than raised, so EXPLAIN
    can show the full plan while flagging that the real MERGE would
    reject this source. Duplicate-key and WHEN-clause validation
    remain execution-time only (they need the clause dict, which
    EXPLAIN doesn't carry).

    Returns ``{"table_version", "files_total", "files_after_stats",
    "files_after_index", "files_matched", "files_reused",
    "probe_strategy", "by_source_anti_probe", "source_null_keys"}`` —
    ``files_matched`` is the files-to-touch estimate for the matched
    clause (exact for the current table state; a by-source clause
    would add its anti-probe's files on top, flagged by
    ``by_source_anti_probe``)."""
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    files = manifest["files"]
    mapping = manifest.get("column_mapping")
    profile = _source_profile(source, keys)
    probe_entries, counts = _prune_probe_entries(
        source, files, mapping, keys, profile
    )
    probe_src, is_broadcast = _probe_keys(source, keys, profile["rows"])
    if probe_entries:
        touched = (
            _apply_mapping(
                _scan(
                    spark, probe_entries, _schema(manifest, path),
                    keep_meta=True,
                ),
                mapping,
            )
            .join(probe_src, keys, "semi")
            .select("__file")
            .distinct()
            .count()
        )
    else:
        touched = 0
    return {
        "table_version": base_version,
        **counts,
        "files_matched": int(touched),
        "files_reused": counts["files_total"] - int(touched),
        "probe_strategy": (
            "broadcast-semi" if is_broadcast else "shuffle-semi"
        ),
        "by_source_anti_probe": bool(has_by_source_clause),
        "source_null_keys": profile["null_key"],
    }


def mutation_probe_plan(
    spark: SparkSession, path: str, where: Column
) -> dict:
    """Dry-run the discovery phase of UPDATE/DELETE (the plan EXPLAIN
    UPDATE / EXPLAIN DELETE shows): the same one metadata-augmented
    scan :func:`update_table` / ``delete_from`` run to find which
    FILES hold matched rows — reported without mutating anything, so a
    user can see how confined the rewrite (CoW) or the DV sidecar set
    (merge-on-read) would be before running the statement.

    Returns ``{"table_version", "files_total", "files_matched",
    "files_reused", "rows_matched"}``."""
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    files = manifest["files"]
    mapping = manifest.get("column_mapping")
    df = _apply_mapping(
        _scan(spark, files, _schema(manifest, path), keep_meta=True),
        mapping,
    )
    per_file = df.filter(where).groupBy("__file").count().collect()
    return {
        "table_version": base_version,
        "files_total": len(files),
        "files_matched": len(per_file),
        "files_reused": len(files) - len(per_file),
        "rows_matched": int(sum(r["count"] for r in per_file)),
    }


_MERGE_ACTIONS = {
    "when_matched": ("replace", "delete"),
    "insert_unmatched": ("insert",),
    "when_not_matched_by_source": ("delete",),
}


def _merge_clauses(label: str, spec) -> list[tuple[Column | None, object]]:
    """One WHEN-clause argument of :func:`merge_table` as its ordered
    ``[(condition | None, action)]`` list: a bare action is one
    unconditional clause, ``None``/``False`` is none, and
    ``insert_unmatched=True`` is one ``"insert"``. As in Spark's
    parser, only the last clause may omit its condition (a clause
    after it could never fire)."""
    if spec is None or spec is False:
        return []
    if spec is True and label == "insert_unmatched":
        return [(None, "insert")]
    clauses = spec if isinstance(spec, list) else [(None, spec)]
    names = _MERGE_ACTIONS[label]
    for i, clause in enumerate(clauses):
        cond, action = (
            clause if isinstance(clause, tuple) and len(clause) == 2
            else (None, None)
        )
        if not (
            (cond is None or isinstance(cond, Column))
            and (isinstance(action, dict)
                 or (isinstance(action, str) and action in names))
        ):
            raise ValueError(
                f"{label} must be "
                f"{', '.join(repr(n) for n in names)}, a {{col: Column}} "
                f"dict, None, or a list of (condition | None, action) "
                f"clauses, got {spec!r}"
            )
        if cond is None and i < len(clauses) - 1:
            raise ValueError(
                f"only the last {label} clause may omit its condition"
            )
    return clauses


def merge_table(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str | dict | list | None = "replace",
    insert_unmatched: bool | list = True,
    when_not_matched_by_source: str | dict | list | None = None,
    extra: dict | None = None,
    schema_evolution: bool = False,
    expect_version: int | None = None,
) -> dict:
    """MERGE INTO a versioned table: file-level copy-on-write, ordered
    WHEN-clause lists, one pass and one commit.

    Each clause argument takes a bare action or an ordered list of
    ``(condition | None, action)`` clauses. On each row the FIRST
    clause whose condition holds applies, as in Spark's
    ``MergeIntoTable`` and Delta; a NULL condition does not fire (SQL
    three-valued logic), and only the last clause of a list may omit
    its condition. Conditions and values are Columns over the ``t``
    (target) and ``s`` (source) aliases.

    ``when_matched`` (``WHEN MATCHED [AND cond] THEN``):

    - ``"replace"`` (default): the source row replaces the target row
      (``UPDATE SET *``);
    - ``"delete"``: the target row is deleted;
    - a dict ``{col: Column}``: the listed columns update (expressions
      may read both sides — ``F.col("s.amount") + F.col("t.amount")``);
      unlisted columns keep their target values;
    - ``None``: no matched clause — matched rows keep their values.

    ``insert_unmatched`` (``WHEN NOT MATCHED [AND cond] THEN INSERT``):
    ``True`` inserts the source row whole (``INSERT *``), ``False``
    inserts nothing; a list takes ``"insert"`` or a ``{col: Column}``
    map over the ``s`` alias (``INSERT (cols) VALUES (...)``; unlisted
    columns are NULL).

    ``when_not_matched_by_source`` (``WHEN NOT MATCHED BY SOURCE``):
    acts on target rows whose key has no source match (a NULL key
    included: it matches nothing; a target row no clause fires on is
    kept as it is) — ``"delete"``
    or a ``{col: Column}`` update whose expressions see only the ``t``
    alias. With ``when_matched="replace"`` it is the full-snapshot
    sync; with a keys-only source and ``when_matched=None`` it is a
    retain-list sweep (delete everything NOT on the list).

    The source must carry the merge keys. Its columns must equal the
    target's only when a clause reads whole source rows (``"replace"``
    or ``"insert"``); column maps may read any source column.
    ``schema_evolution=True`` (Delta autoMerge) lets the source carry
    NEW columns — they join the table (NULL for rows in untouched/old
    files) — and omit target columns (kept on update, NULL on
    insert). Under a column mapping, new logical columns mint
    non-colliding physical names, same rule as ``append_table``. A
    clause whose values change a column's type raises
    :class:`SchemaConflict` before any file lands.

    ``expect_version``: optimistic-concurrency token for callers whose
    source was DERIVED from a specific table version (a matview fold):
    if the table moved past it, raise :class:`CommitConflict` before
    any work, on top of the commit-time CAS.

    Physical plan:

    1. one aggregate over the source's per-key counts
       (:func:`_source_profile`) finds its row count, a duplicate or
       NULL key (either rejects the source before any probe), and the
       merge-key envelope; the envelope prunes files whose write-time
       min/max stats cannot intersect it, bucket membership and
       per-file blooms prune scattered keys, and the surviving files
       take a semi-probe for actual key matches (a BROADCAST probe
       when the source is delivery-sized; files whose matches fire no
       clause are still rewritten byte-identically — the probe sees
       keys, not conditions). A by-source clause adds an anti-probe for
       files holding a row some by-source clause fires on (conditions
       applied in the probe, so a stats-prunable condition confines
       the rewrite; an unconditional by-source clause is a
       full-table-shape rewrite, as in Delta);
    2. only those files are re-read and full-outer-joined with the
       source. One column records which clause fired on each row; the
       drops, the new values and the counts (``DataFrame.observe`` on
       the write, so counting runs no job of its own) come from it;
    3. manifest = (current − touched files) + merged batch; the pointer
       flip is atomic, so the statement is one commit.

    A delivery whose keys cluster into few files costs O(matched files
    + delivery), never a table rewrite. Unique-key source enforced (a
    dup key would fan out). Returns {"version", "files_touched",
    "files_reused", "files_probed", "updated", "deleted", "inserted"}
    — by-source actions fold into "updated" / "deleted" by kind.
    """
    matched_cl = _merge_clauses("when_matched", when_matched)
    insert_cl = _merge_clauses("insert_unmatched", insert_unmatched)
    by_source_cl = _merge_clauses(
        "when_not_matched_by_source", when_not_matched_by_source
    )
    if not (matched_cl or insert_cl or by_source_cl):
        raise ValueError("merge with no clauses would be a no-op")
    base_version = current_version(path)
    if expect_version is not None and base_version != expect_version:
        raise CommitConflict(
            f"table {path} moved to v{base_version} while this merge's "
            f"source was derived from v{expect_version}; re-derive and "
            f"retry"
        )
    manifest = _read_manifest(path, base_version)
    files = manifest["files"]
    mapping = manifest.get("column_mapping")
    schema = _schema(manifest, path)
    t_names = _logical(manifest, path).fieldNames()
    miss = [k for k in keys if k not in source.columns]
    if miss:
        raise ValueError(f"source lacks merge key(s) {miss}")
    new_cols: list[str] = []
    if schema_evolution:
        new_cols = [c for c in source.columns if c not in t_names]
    elif any(
        a in ("replace", "insert")
        for _, a in matched_cl + insert_cl if isinstance(a, str)
    ) and sorted(source.columns) != sorted(t_names):
        raise ValueError(
            f"source columns {source.columns} != target {t_names}"
        )
    out_cols = t_names + new_cols
    for label, clauses, what, allowed in (
        ("when_matched", matched_cl, "updates unknown/key",
         set(out_cols) - set(keys)),
        ("insert_unmatched", insert_cl, "inserts unknown", set(out_cols)),
        ("when_not_matched_by_source", by_source_cl, "updates unknown/key",
         set(out_cols) - set(keys)),
    ):
        for _, a in clauses:
            bad = set(a) - allowed if isinstance(a, dict) else None
            if bad:
                raise ValueError(f"{label} {what} columns {sorted(bad)}")
    profile = _source_profile(source, keys)
    if profile["dup"]:
        raise ValueError(
            f"merge source has duplicate merge keys, e.g. "
            f"{profile['dup']} — dedup (keep_latest) first"
        )
    # NULL merge keys never equi-join: such a source row could never
    # match, so every rerun would insert it again. Reject up front, same
    # as the dup check.
    if profile["null_key"]:
        raise ValueError(
            f"merge source has NULL in merge key(s) {keys} — NULL keys "
            f"never match; filter or fill them before merging"
        )

    probe_entries, _prune_counts = _prune_probe_entries(
        source, files, mapping, keys, profile
    )
    probe_src, _ = _probe_keys(source, keys, profile["rows"])
    touched: set[str] = set()
    if probe_entries:
        touched = {
            r["__file"]
            for r in _apply_mapping(
                _scan(spark, probe_entries, schema, keep_meta=True), mapping
            ).join(probe_src, keys, "semi").select("__file")
            .distinct().collect()
        }
    if by_source_cl:
        # anti-probe: files holding any target row a by-source clause
        # FIRES on — the conditions filter inside the probe, so a
        # selective (stats-prunable) condition confines the rewrite to
        # the files it can actually touch
        anti = _apply_mapping(
            _scan(spark, files, schema, keep_meta=True), mapping
        ).alias("t").join(probe_src, keys, "anti")
        if all(c is not None for c, _ in by_source_cl):
            fires = F.lit(False)
            for c, _ in by_source_cl:
                fires = fires | F.coalesce(c, F.lit(False))
            anti = anti.filter(fires)
        touched |= {
            r["__file"] for r in anti.select("__file").distinct().collect()
        }

    untouched = [f for f in files if f["path"] not in touched]
    touched_entries = [f for f in files if f["path"] in touched]
    scoped = _apply_mapping(_scan(spark, touched_entries, schema), mapping)

    t_cols, s_cols = set(t_names), set(source.columns)
    # which side a joined row has comes from marker columns, not key
    # nullness: a target row with a NULL key is still a target row
    joined = scoped.withColumn("__t", F.lit(True)).alias("t").join(
        source.withColumn("__s", F.lit(True)).alias("s"), keys, "full_outer"
    )
    s_present = F.col("__s").isNotNull()
    t_present = F.col("__t").isNotNull()
    # what "replace" and "insert" write: every source column the table
    # has; a target-only column keeps its value on update and is NULL
    # on insert (the target side is absent)
    whole_row = {
        c: F.col(f"s.{c}") for c in out_cols if c not in keys and c in s_cols
    }
    fired = None  # index of the first clause that fires on the row
    values: list[dict] = []  # per clause: {column: new value}
    kinds: dict[str, list[int]] = {}  # count name -> clause indexes
    for present, clauses, insert in (
        (s_present & t_present, matched_cl, False),
        (s_present & ~t_present, insert_cl, True),
        (t_present & ~s_present, by_source_cl, False),
    ):
        for cond, a in clauses:
            i = len(values)
            hit = present if cond is None else (
                present & F.coalesce(cond, F.lit(False))
            )
            fired = F.when(hit, i) if fired is None else fired.when(hit, i)
            if a == "delete":
                values.append({})
                kinds.setdefault("deleted", []).append(i)
                continue
            if isinstance(a, str):
                values.append(whole_row)
            elif insert:
                values.append({c: a.get(c, F.lit(None)) for c in out_cols})
            else:
                values.append(a)
            kinds.setdefault("inserted" if insert else "updated", []).append(i)
    clause = F.col("__clause")
    counts = Observation()
    joined = joined.withColumn("__clause", fired).observe(
        counts,
        *[F.count_if(clause.isin(ix)).alias(k) for k, ix in kinds.items()],
    )
    # a target row no clause fires on stays as it is; a source row no
    # clause fires on is not inserted
    keep = clause.isNotNull() | t_present
    if "deleted" in kinds:
        keep = F.coalesce(~clause.isin(kinds["deleted"]), t_present)

    def _merged_col(c):
        if c in keys:
            e = F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}"))
        else:
            # a schema-evolution NEW column has no target side yet
            e = F.col(f"t.{c}") if c in t_cols else F.lit(None)
        for i, new in enumerate(values):
            if c in new:
                e = F.when(clause == i, new[c]).otherwise(e)
        return e.alias(c)

    merged = joined.filter(keep).select(*[_merged_col(c) for c in out_cols])
    # a clause that changes a column's type is a SchemaConflict; an
    # evolution column joins the schema (and the mapping)
    phys, state = _evolve(merged, manifest, path)
    _enforce_constraints(merged, path)
    re_index = _indexed_cols(touched_entries)
    version = _commit(
        path,
        untouched + _write_batch(phys, path, re_index or None),
        extra={**(extra or {}), **state},
        expect_version=base_version,
        operation="MERGE",
    )
    n = counts.get
    return {
        "version": version,
        "files_touched": len(touched),
        "files_reused": len(untouched),
        "files_probed": len(probe_entries),
        "updated": int(n.get("updated", 0)),
        "deleted": int(n.get("deleted", 0)),
        "inserted": int(n.get("inserted", 0)),
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    zorder_by: list[str] | None = None,
    small_only_bytes: int | None = None,
    bloom_cols: list[str] | None = None,
) -> dict:
    """OPTIMIZE: rewrite the current version into fewer, larger,
    optionally z-order-clustered files — as a NEW commit, so readers of
    the old version are undisturbed and the compaction is rollback-able.

    With ``zorder_by`` the rewrite routes through
    :func:`~aws_etl_project2_fiap_spark.io.parquet.write_zordered`'s
    ordering (quantile-rank bit-interleaved Morton layout), which makes
    the manifest's per-file min/max TIGHT on every clustered column —
    multiplying what ``read_table(between=...)`` can skip. The
    compaction itself is one scan + one write; at 100 TB run it
    per-partition-prefix, not table-wide, exactly like OPTIMIZE.

    ``small_only_bytes`` makes the OPTIMIZE INCREMENTAL — the shape a
    streaming-ingested table actually needs: only files under the
    threshold (the per-micro-batch dribble) are read and merged; files
    already at target size are manifest-referenced untouched. Cost ∝
    small bytes, not table size, so it can run after every few commits
    forever. Ignores ``zorder_by`` (global clustering needs the full
    rewrite; run the full form occasionally).

    ``bloom_cols`` re-indexes the rewritten files (point-read skipping
    survives the compaction)."""
    from .parquet import zorder_value

    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    files = manifest["files"]
    mapping = manifest.get("column_mapping")
    schema = _schema(manifest, path)
    if small_only_bytes is not None:
        small = [f for f in files if os.path.getsize(f["path"]) < small_only_bytes]
        big = [f for f in files if os.path.getsize(f["path"]) >= small_only_bytes]
        if len(small) < 2:
            return {"version": base_version, "files": len(files),
                    "compacted": 0}
        total = sum(os.path.getsize(f["path"]) for f in small)
        n = max(1, -(-total // max(small_only_bytes, 1)))
        # _scan applies any deletion vectors, so compacting small files
        # also purges their DVs (the rewritten batch carries none)
        merged = _scan(spark, small, schema)
        # incremental compaction migrates the merged dribble to the
        # CURRENT cluster spec when it can (the extra shuffle is over
        # small bytes only); files missing a spec column stay as-is
        spec = manifest.get("cluster_spec")
        spec_id, spec_cluster = None, None
        spec_phys = [
            _phys_spec_col(mapping, c) for c in (spec or {}).get("cols", [])
        ]
        if spec_phys and all(
            _spec_source_col(c) in merged.columns for c in spec_phys
        ):
            spec_cluster, spec_id = spec_phys, spec["spec_id"]
        else:
            merged = merged.coalesce(int(n))
        version = _commit(
            path,
            big
            + _write_batch(
                merged, path,
                [_phys_col(mapping, c) for c in (bloom_cols or [])] or None,
                cluster_by=spec_cluster,
                num_files=int(n),
                spec_id=spec_id,
            ),
            expect_version=base_version,
            operation="OPTIMIZE",
        )
        return {"version": version,
                "files": len(_read_manifest(path, version)["files"]),
                "compacted": len(small)}
    # PHYSICAL-level rewrite (mapping untouched, logical view identical):
    # scanning without the mapping projection keeps the frozen physical
    # schema in the rewritten files, same as reorg
    df = _scan(spark, files, schema)
    zorder_by = [_phys_col(mapping, c) for c in (zorder_by or [])] or None
    bloom_cols = [_phys_col(mapping, c) for c in (bloom_cols or [])] or None
    n = target_files or max(1, len(files) // 4)
    spec = manifest.get("cluster_spec")
    spec_phys = [
        _phys_spec_col(mapping, c) for c in (spec or {}).get("cols", [])
    ]
    spec_id, spec_cluster = None, None
    if zorder_by:
        zcol = "__zv__"
        while zcol in df.columns:
            zcol += "_"
        df = (
            df.withColumn(zcol, zorder_value(df, zorder_by))
            .repartitionByRange(n, F.col(zcol))
            .sortWithinPartitions(zcol)
            .drop(zcol)
        )
    elif spec_phys and all(
        _spec_source_col(c) in df.columns for c in spec_phys
    ):
        # no explicit z-order: the full rewrite MIGRATES every file to
        # the table's current cluster spec — the incremental half of
        # partition evolution (alter_clustering flips the spec
        # metadata-only; OPTIMIZE moves the old-spec files forward)
        spec_cluster, spec_id = spec_phys, spec["spec_id"]
    else:
        df = df.coalesce(n)
    # token from the snapshot read: OPTIMIZE that raced an UPDATE/DELETE
    # must not resurrect the pre-update files it compacted
    version = _commit(
        path,
        _write_batch(df, path, bloom_cols, cluster_by=spec_cluster,
                     num_files=n, spec_id=spec_id),
        expect_version=base_version, operation="OPTIMIZE",
    )
    return {
        "version": version,
        "files": len(_read_manifest(path, version)["files"]),
    }


def describe_table(path: str) -> dict:
    """DESCRIBE DETAIL from metadata alone (no Spark job): current
    version, file/byte counts, live rows, DV debt, indexes,
    constraints, retained history span."""
    v = current_version(path)
    manifest = _read_manifest(path, v)
    files = manifest["files"]
    versions = sorted(
        int(f[1:].split(".")[0])
        for f in os.listdir(_manifest_dir(path))
        if _MANIFEST_RE.fullmatch(f)
    )
    bloom_cols = _indexed_cols(files)
    return {
        "path": path,
        "version": v,
        "num_files": len(files),
        "total_bytes": sum(os.path.getsize(f["path"]) for f in files),
        "num_rows": table_count(path, version=v),
        "files_with_dv": sum(1 for f in files if f.get("dv")),
        "dv_deleted_rows": sum(f.get("dv", {}).get("n", 0) for f in files),
        "bloom_indexed_cols": bloom_cols,
        "column_mapping": manifest.get("column_mapping"),
        "cluster_spec": manifest.get("cluster_spec"),
        # partition-evolution migration progress: files still laid out
        # under an older spec (or none) show under their own tag;
        # compact_table moves them to the current spec
        "files_by_spec": dict(
            sorted(
                Counter(
                    f.get("spec_id") for f in files
                ).items(),
                key=lambda kv: (kv[0] is None, kv[0]),
            )
        ),
        "constraints": table_constraints(path),
        "retained_versions": [versions[0], versions[-1]] if versions else [],
    }


def reorg_table(
    spark: SparkSession, path: str, min_dv_fraction: float = 0.0
) -> dict:
    """REORG ... APPLY (PURGE): physically rewrite ONLY the files
    carrying deletion vectors (optionally only those whose deleted
    fraction is ≥ ``min_dv_fraction``), dropping their DVs; every
    clean file is referenced untouched. The targeted maintenance
    companion to :func:`compact_table` — cost ∝ DV'd bytes, so it can
    run on a schedule forever while merge-on-read deletes accumulate.
    Returns {"version", "files_purged", "files_reused"}."""
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    files = manifest["files"]
    live = None
    targets = []
    for f in files:
        if not f.get("dv"):
            continue
        if min_dv_fraction > 0:
            if live is None:
                live = _live_counts([x for x in files if x.get("dv")])
            total = live[f["path"]] + f["dv"]["n"]
            if f["dv"]["n"] < min_dv_fraction * max(total, 1):
                continue
        targets.append(f)
    if not targets:
        return {"version": base_version, "files_purged": 0,
                "files_reused": len(files)}
    target_paths = {f["path"] for f in targets}
    untouched = [f for f in files if f["path"] not in target_paths]
    rewritten = _scan(spark, targets, _schema(manifest, path))
    re_index = _indexed_cols(targets)
    version = _commit(
        path, untouched + _write_batch(rewritten, path, re_index or None),
        expect_version=base_version, operation="REORG",
    )
    return {
        "version": version,
        "files_purged": len(targets),
        "files_reused": len(untouched),
    }


def delete_from(
    spark: SparkSession,
    path: str,
    where: Column,
    mode: str = "cow",
    rewrite_threshold: float = 0.5,
) -> dict:
    """DELETE ... WHERE. Three physical strategies, one SQL semantics
    (rows where the predicate is NULL survive, as in SQL DELETE):

    - ``mode="cow"`` (default): file-level copy-on-write — files
      containing matched rows are rewritten WITHOUT them; untouched
      files are referenced. Right for bulk deletes (retention sweeps)
      where most of a touched file goes.
    - ``mode="dv"``: merge-on-read — the commit writes only a deletion
      vector (sorted row positions) per touched file; no data file is
      rewritten. A GDPR point delete on a 100 TB table commits KILOBYTES
      instead of rescanning/rewriting files. Sidecars are written from
      EXECUTOR tasks (one per touched file); the driver handles only
      O(touched files) records, so a broad predicate in dv mode costs
      cluster time, never driver memory. Readers load the positions
      on the driver and drop them with a broadcast anti-join while
      the snapshot's DVs hold at most ``_DV_ANTI_JOIN_CAP`` positions
      in total; past that cap each scan task loads its own file's
      sidecar instead (:func:`_scan`). The next compaction (or a cow
      delete/update of the same files) physically purges them.
    - ``mode="auto"``: per-file decision, the way Delta chooses —
      a file gets a DV only while its CUMULATIVE deleted fraction
      (existing DV + this delete, over physical rows) stays below
      ``rewrite_threshold``; past it the file is rewritten (with its
      DV applied). The bound is against physical rows precisely so
      repeated just-under-threshold deletes cannot ratchet a DV toward
      100% of a file — total DV debt stays < threshold of the table,
      keeping the merge-on-read join broadcast-sized.

    Same discovery scan, commit protocol, and optimistic-concurrency
    token as :func:`update_table`; discovery is DV-aware, so re-deleting
    already-deleted rows matches nothing. Returns {"version",
    "n_deleted", "files_touched", "files_reused", "files_dv",
    "files_rewritten"}."""
    if mode not in ("cow", "dv", "auto"):
        raise ValueError(f"mode must be cow|dv|auto, got {mode!r}")
    base_version = current_version(path)
    manifest = _read_manifest(path, base_version)
    files = manifest["files"]
    mapping = manifest.get("column_mapping")
    schema = _schema(manifest, path)
    df = _apply_mapping(_scan(spark, files, schema, keep_meta=True), mapping)
    dv_rows = None  # executor-written sidecar records (O(files) each)
    if mode == "dv":
        # ONE distributed pass: the discovery scan's matched positions
        # group by file into executor tasks that write the sidecars
        # (_write_dvs_distributed) — the matched rows never leave the
        # cluster; the driver receives only {file, dv_path, n, n_new}
        # rows, so even an accidentally-broad dv-mode predicate costs
        # the driver O(touched files), not O(deleted rows)
        dv_rows = _write_dvs_distributed(
            spark,
            df.filter(where).select("__file", "__pos"),
            path,
            {
                f["path"]: f["dv"]["path"]
                for f in files
                if f.get("dv")
            },
        )
        per_file = {r["file"]: int(r["n_new"]) for r in dv_rows}
    else:
        per_file = {
            r["__file"]: r["count"]
            for r in df.filter(where).groupBy("__file").count().collect()
        }
    n_deleted = sum(per_file.values())
    if not per_file:
        return {
            "version": base_version,
            "n_deleted": 0,
            "files_touched": 0,
            "files_reused": len(files),
            "files_dv": 0,
            "files_rewritten": 0,
        }
    touched_entries = [f for f in files if f["path"] in per_file]
    untouched = [f for f in files if f["path"] not in per_file]
    if mode == "cow":
        dv_targets, rw_targets = [], touched_entries
    elif mode == "dv":
        dv_targets, rw_targets = touched_entries, []
    else:
        live = _live_counts(touched_entries)
        dv_targets = [
            f
            for f in touched_entries
            # cumulative DV fraction of PHYSICAL rows: existing debt +
            # this delete; live+dv["n"] reconstructs the physical count
            if per_file[f["path"]] + f.get("dv", {}).get("n", 0)
            < rewrite_threshold
            * max(live[f["path"]] + f.get("dv", {}).get("n", 0), 1)
        ]
        rw_set = {f["path"] for f in touched_entries} - {
            f["path"] for f in dv_targets
        }
        rw_targets = [f for f in touched_entries if f["path"] in rw_set]

    new_entries: list[dict] = []
    if dv_targets:
        if dv_rows is None:
            # auto mode: positions scan restricted to the DV-target
            # files only (rewrite-bound files may hold huge match
            # counts that need not flow into the sidecar stage);
            # sidecars are still written executor-side — the existing
            # DV union happens inside each file's task
            dv_rows = _write_dvs_distributed(
                spark,
                _apply_mapping(
                    _scan(spark, dv_targets, schema, keep_meta=True),
                    mapping,
                )
                .filter(where)
                .select("__file", "__pos"),
                path,
                {
                    f["path"]: f["dv"]["path"]
                    for f in dv_targets
                    if f.get("dv")
                },
            )
        by_file = {r["file"]: r for r in dv_rows}
        for f in dv_targets:
            r = by_file.get(f["path"])
            if r is None:
                new_entries.append(f)
                continue
            entry = {k: v for k, v in f.items() if k != "dv"}
            entry["dv"] = {"path": r["dv_path"], "n": int(r["n"])}
            new_entries.append(entry)
    batch: list[dict] = []
    if rw_targets:
        # SQL DELETE keeps rows where the predicate is NULL (only TRUE
        # rows go). Under three-valued logic filter(~where) would ALSO
        # drop the NULL rows — coalesce to FALSE so they survive the
        # rewrite, mirror of apply_update's when(where).otherwise(keep).
        kept_rows = _apply_mapping(
            _scan(spark, rw_targets, schema), mapping
        ).filter(~F.coalesce(where, F.lit(False)))
        re_index = _indexed_cols(rw_targets)
        batch = _write_batch(
            _to_physical(kept_rows, mapping), path, re_index or None
        )
    version = _commit(
        path, untouched + new_entries + batch,
        expect_version=base_version, operation="DELETE",
    )
    return {
        "version": version,
        "n_deleted": n_deleted,
        "files_touched": len(touched_entries),
        "files_reused": len(untouched),
        "files_dv": len(dv_targets),
        "files_rewritten": len(rw_targets),
    }


def table_count(path: str, version: int | None = None) -> int:
    """Exact row count of a version WITHOUT a Spark job: parquet footer
    ``num_rows`` summed over the manifest's files, minus deletion-vector
    sizes. O(files) driver-side metadata reads — the `SELECT COUNT(*)`
    a 100 TB table answers in milliseconds because the log already
    knows (the same trick Delta/Iceberg pull from their stats). Any
    predicate beyond `TRUE` goes through :func:`read_table`."""
    import pyarrow.parquet as pq

    v = current_version(path) if version is None else version
    files = _read_manifest(path, v)["files"]
    total = 0
    for f in files:
        total += pq.ParquetFile(f["path"]).metadata.num_rows
        total -= f.get("dv", {}).get("n", 0)
    return total


def table_column_minmax(
    path: str, col: str, version: int | None = None
) -> tuple:
    """(min, max) of a column from manifest stats alone — None when any
    file lacks stats for it (conservative: no wrong answer from a
    statless file). DV caveat: deleted rows may have held the extremes,
    so the result is a BOUND (correct envelope), exact when the version
    carries no DVs — callers needing exactness after DV deletes read
    the table."""
    v = current_version(path) if version is None else version
    m = _read_manifest(path, v)
    files = m["files"]
    col = _phys_col(m.get("column_mapping"), col)
    lo = hi = None
    for f in files:
        st = f.get("stats", {}).get(col)
        if st is None:
            return None
        lo = st[0] if lo is None else min(lo, st[0])
        hi = st[1] if hi is None else max(hi, st[1])
    return (lo, hi)


def table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """Change data feed between two versions, derived purely from the
    manifests' FILE DIFF (the Delta CDF idea on this log):

    - rows in files ADDED between the versions → ``insert``
    - rows in files REMOVED → ``delete``
    - positions newly covered by a file's DELETION VECTOR → ``delete``
      (a merge-on-read DELETE changes no files, only DVs)
    - positions no longer covered by a file's DV → ``insert`` (a
      ``rollback`` past a DV delete resurrects those rows; consumers
      must see the un-delete or their cursors drift from table state)
    - an UPDATE/MERGE rewrite shows up as delete+insert of the touched
      files' rows (net change = the modified rows; unchanged rows in a
      rewritten file appear on both sides and cancel for any consumer
      that reconciles on a key)

    Cost ∝ changed files only — untouched files are in both manifests
    and never read. Output: the TO version's columns +
    ``_change_type``. A range over which a column's type changed (an
    OVERWRITE may retype) raises ``ValueError`` when files were
    removed: their rows have no faithful form in the TO schema."""
    lo_manifest = _read_manifest(path, from_version)
    lo = lo_manifest["files"]
    hi_manifest = _read_manifest(path, to_version)
    hi = hi_manifest["files"]
    # every leg comes out in the TO version's logical schema; physical
    # names never change (an overwrite keeps the ones its base maps),
    # so a removed file's column lines up by its physical name
    mapping = hi_manifest.get("column_mapping")
    schema = _schema(hi_manifest, path)

    def leg(entries, change_type, keep_meta=False):
        return _apply_mapping(
            _scan(spark, entries, schema, keep_meta), mapping
        ).withColumn("_change_type", F.lit(change_type))

    def removed_leg(entries):
        # a removed file is read as the FROM version saw it (its schema:
        # an overwrite may have retyped or replaced its columns), then
        # projected onto the TO schema — a column FROM lacks is NULL
        lo_schema = _schema(lo_manifest, path)
        old = {f.name: f.dataType for f in lo_schema.fields}
        live = set(mapping.values()) if mapping else set(schema.names)
        retyped = sorted(
            f"{f.name}: v{from_version}={old[f.name].simpleString()} "
            f"v{to_version}={f.dataType.simpleString()}"
            for f in schema.fields
            if f.name in live and f.name in old and old[f.name] != f.dataType
        )
        if retyped:
            raise ValueError(
                f"change feed of {path} from v{from_version} to "
                f"v{to_version} spans a column type change "
                f"({', '.join(retyped)}): the removed rows cannot be "
                f"shown in the v{to_version} schema; read each version "
                f"instead"
            )
        df = _scan(spark, entries, lo_schema).select(*[
            F.col(f.name) if f.name in old
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])
        return _apply_mapping(df, mapping).withColumn(
            "_change_type", F.lit("delete")
        )

    lo_by_path = {f["path"]: f for f in lo}
    hi_by_path = {f["path"]: f for f in hi}
    added = [f for p, f in sorted(hi_by_path.items()) if p not in lo_by_path]
    removed = [f for p, f in sorted(lo_by_path.items()) if p not in hi_by_path]
    # an added file read under the TO manifest's DVs: rows deleted
    # again before to_version were never visible in this range; a
    # removed file's rows as the FROM version saw them (its DVs)
    parts = [leg(added, "insert")] if added else []
    if removed:
        parts.append(removed_leg(removed))
    # DV-only deltas for files present in BOTH versions:
    # - positions newly covered by the TO version's deletion vector →
    #   `delete` rows (a merge-on-read DELETE adds/removes no files and
    #   would otherwise be invisible to the feed);
    # - positions covered at FROM but no longer at TO (a rollback() to
    #   a pre-delete version shrinks or drops the DV) → `insert` rows:
    #   those rows became visible again, and a consumer that missed the
    #   un-delete would drift from table state forever.
    import numpy as np

    dv_pairs = []  # (path, positions, change_type)
    empty = np.array([], dtype="<i8")
    for p in sorted(set(lo_by_path) & set(hi_by_path)):
        lo_dv, hi_dv = lo_by_path[p].get("dv"), hi_by_path[p].get("dv")
        if (lo_dv or {}).get("path") == (hi_dv or {}).get("path"):
            continue  # same sidecar (or none on either side): no delta
        old = _read_dv(lo_dv["path"]) if lo_dv else empty
        new = _read_dv(hi_dv["path"]) if hi_dv else empty
        fresh = np.setdiff1d(new, old)  # newly deleted
        if fresh.size:
            dv_pairs.append((p, fresh, "delete"))
        resurrected = np.setdiff1d(old, new)  # un-deleted (rollback)
        if resurrected.size:
            dv_pairs.append((p, resurrected, "insert"))
    if dv_pairs:
        import pandas as pd

        for change_type in ("delete", "insert"):
            batch = [
                (p, pos) for p, pos, ct in dv_pairs if ct == change_type
            ]
            if not batch:
                continue
            pairs_pdf = pd.concat(
                [
                    pd.DataFrame({"__file": p, "__pos": pos.astype("int64")})
                    for p, pos in batch
                ],
                ignore_index=True,
            )
            # the files' raw rows (no DV applied): the positions
            # themselves are the change
            parts.append(
                leg([{"path": p} for p, _ in batch], change_type, True)
                .join(
                    F.broadcast(spark.createDataFrame(pairs_pdf)),
                    ["__file", "__pos"],
                    "semi",
                )
                .drop("__file", "__pos")
            )
    out = parts[0] if parts else leg([], "")
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one record per retained version, newest
    first — {"version", "operation", "timestamp" (commit mtime, epoch
    seconds), "n_files", plus any commit extras (batch_id,
    cloned_from, ...)}. Pure manifest metadata — O(retained versions)
    driver reads, no Spark job, any table size. Versions before the
    vacuum horizon are gone with their manifests (their absence IS the
    retention signal)."""
    out = []
    mdir = _manifest_dir(path)
    for name in os.listdir(mdir):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        mpath = os.path.join(mdir, name)
        with open(mpath) as fh:
            m = json.load(fh)
        rec = {
            "version": m["version"],
            "operation": m.get("operation"),
            "timestamp": os.path.getmtime(mpath),
            # delta commits carry n_files explicitly (their file list
            # is implicit); pre-delta full manifests fall back to len
            "n_files": m.get("n_files", len(m.get("files", ()))),
        }
        for k, v in m.items():
            if k not in (
                "version", "files", "operation", "column_mapping",
                "schema", "delta", "n_files",
            ):
                rec[k] = v
        out.append(rec)
    return sorted(out, key=lambda r: -r["version"])


def version_at(path: str, ts: float) -> int:
    """Version current AS OF a unix timestamp: the newest retained
    manifest committed at-or-before ``ts`` (manifest file mtime is the
    commit time — set by the atomic commit sequence). Raises if every
    retained version is newer."""
    candidates = []
    for fname in os.listdir(_manifest_dir(path)):
        if not _MANIFEST_RE.fullmatch(fname):
            continue
        v = int(fname[1:].split(".")[0])
        mtime = os.stat(os.path.join(_manifest_dir(path), fname)).st_mtime
        if mtime <= ts:
            candidates.append((mtime, v))
    if not candidates:
        raise ValueError(
            f"no retained version of {path} existed at timestamp {ts}"
        )
    return max(candidates)[1]


def read_table_as_of(spark: SparkSession, path: str, ts: float) -> DataFrame:
    """Time travel by wall clock instead of version number."""
    return read_table(spark, path, version=version_at(path, ts))


def clone_table(
    spark: SparkSession, src: str, dst: str, version: int | None = None,
    deep: bool = False,
) -> int:
    """CLONE a versioned table (Delta-style):

    - **shallow** (default): the clone's v1 manifest REFERENCES the
      source version's files — zero data copied, instant, ideal for
      dev/test forks and reproducible-experiment pins. Caveat (same as
      Delta shallow clones): vacuuming the SOURCE can reclaim files the
      clone references; pin with ``deep=True`` when the source's
      retention is not under your control.
    - **deep**: rewrites the data into the clone's own ``_data`` pool —
      one scan+write, fully independent.

    Either way the source's CHECK constraints travel with the clone
    (Delta CLONE carries table metadata; a fork whose writes dodge the
    source's audits would be a silent gap — review r11). Note the
    version-pinning asymmetry (ADVICE r11): constraints are
    UNVERSIONED table-level state here, so a clone pinned to an older
    ``version`` still inherits the source's CURRENT constraints — a
    constraint added after the pinned version travels back onto the
    old-state fork and can reject writes that were valid for that
    era's data. Delta, by contrast, clones metadata as of the pinned
    version. Drop or edit constraints on the clone after cloning if
    the fork must accept era-valid writes.
    """
    if os.path.exists(_pointer(dst)):
        raise FileExistsError(f"clone target already exists at {dst}")
    v = current_version(src) if version is None else version
    cons = table_constraints(src)
    if deep:
        src_spec = _read_manifest(src, v).get("cluster_spec")
        ver = create_table(
            read_table(spark, src, version=v), dst,
            # the deep clone keeps the source's clustering intent (its
            # spec history restarts at 1 — it's an independent table)
            cluster_by=(
                list(src_spec["cols"])
                if src_spec and src_spec.get("cols") else None
            ),
        )
        if cons:
            _save_constraints(dst, cons)
        return ver
    m = _read_manifest(src, v)
    os.makedirs(dst, exist_ok=True)
    ver = _commit(
        dst,
        m["files"],
        extra={
            "cloned_from": src,
            "clone_version": v,
            "schema": m.get("schema"),
            "column_mapping": m.get("column_mapping"),
            "cluster_spec": m.get("cluster_spec"),
        },
        operation="CLONE",
    )
    if cons:
        _save_constraints(dst, cons)
    return ver


def _read_cursor(path: str, cursor_path: str) -> int:
    """The last version a change-feed consumer of ``path`` committed to
    its JSON cursor (0 when there is no cursor yet). A cursor whose
    manifest ``vacuum`` pruned has fallen behind retention: it raises,
    and the operator resyncs by deleting the cursor (full-snapshot
    restart)."""
    try:
        with open(cursor_path) as fh:
            last = int(json.load(fh)["version"])
    except FileNotFoundError:
        return 0
    if last > 0 and not os.path.exists(
        os.path.join(_manifest_dir(path), f"v{last}.json")
    ):
        raise ValueError(
            f"cursor at v{last} of {path} predates retention (vacuumed); "
            f"delete {cursor_path} to resync from a full snapshot"
        )
    return last


def _write_cursor(cursor_path: str, version: int) -> None:
    """Commit a consumer's cursor atomically (tmp + ``os.replace``)."""
    tmp = cursor_path + f".tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump({"version": version}, fh)
    os.replace(tmp, cursor_path)


def consume_changes(
    spark: SparkSession,
    path: str,
    cursor_path: str,
    sink,
) -> dict:
    """Incrementally consume a versioned table's change feed — the
    CONSUMER half of the lakehouse loop (``streaming.sinks
    .versioned_sink`` is the producer half). The Delta streaming-source
    pattern on this log:

    - a tiny JSON cursor records the last consumed version;
    - each run diffs cursor → current via :func:`table_changes`, feeds
      the INSERTED rows to ``sink(df)``, then commits the cursor —
      at-least-once (a crash between sink and commit re-delivers the
      batch; pair with an idempotent sink for effectively-once, same
      contract as io/incremental.ingest_batch);
    - cost ∝ files added since the cursor — the table's history length
      and total size are irrelevant.

    First run (no cursor) delivers the full current snapshot. A
    copy-on-write UPDATE/MERGE re-emits every row of its rewritten
    files (file-diff CDF granularity — consumers keying on a unique id
    reconcile, exactly like Delta's ``ignoreChanges``); DELETE-only
    commits deliver nothing new. If ``vacuum`` pruned the cursor's
    manifest, the consumer has fallen behind retention: it raises, and
    the operator resyncs by deleting the cursor (full-snapshot restart).

    Returns {"from": v, "to": v', "delivered": bool, "committed": bool}.
    """
    current = current_version(path)
    last = _read_cursor(path, cursor_path)
    if current == last:
        return {"from": last, "to": current, "delivered": False,
                "committed": False}
    if last == 0:
        batch = read_table(spark, path, version=current)
    else:
        batch = table_changes(spark, path, last, current).filter(
            F.col("_change_type") == "insert"
        ).drop("_change_type")
    sink(batch)
    _write_cursor(cursor_path, current)
    return {"from": last, "to": current, "delivered": True, "committed": True}


def _reconcile_feed(feed: DataFrame, keys: list[str]) -> DataFrame:
    """A change feed (``_change_type`` insert/delete rows) reconciled
    on ``keys`` into one op-tagged change set: the feed's file-diff
    granularity re-emits every row of a rewritten file as
    delete+insert, so a key on the insert side is an UPSERT with its
    final row and a key ONLY on the delete side is a true DELETE (a
    keys-only row tagged ``"delete"``)."""
    ups = feed.filter(F.col("_change_type") == "insert").drop(
        "_commit_version"
    )
    dels = (
        feed.filter(F.col("_change_type") == "delete")
        .select(*keys)
        .distinct()
        .join(ups.select(*keys), keys, "anti")
        .withColumn("_change_type", F.lit("delete"))
    )
    return ups.unionByName(dels, allowMissingColumns=True)


def _merge_ops(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    op_col: str,
    extra: dict | None = None,
) -> dict:
    """Apply a key-unique, op-tagged change set in ONE merge: a row
    whose ``op_col`` is ``"delete"`` deletes its key, any other row
    (NULL included) upserts its data columns. The clauses are explicit
    column maps, so ``op_col`` is never written and no clause reads
    whole rows; columns the change set lacks keep their value on
    update and are NULL on insert."""
    is_del = F.col(f"s.{op_col}").eqNullSafe("delete")
    put = {
        c: F.col(f"s.{c}") for c in changes.columns if c != op_col
    }
    return merge_table(
        spark, path, changes, keys,
        when_matched=[
            (is_del, "delete"),
            (None, {c: v for c, v in put.items() if c not in keys}),
        ],
        insert_unmatched=[(~is_del, put)],
        extra=extra,
    )


def replicate_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: list[str],
    cursor_path: str,
) -> dict:
    """Incrementally replicate a key-unique versioned table into
    another versioned table by APPLYING its change feed — upserts AND
    deletes, unlike :func:`consume_changes` (insert-only delivery).
    The Delta "CDF + MERGE replication" recipe on this log:

    - diff cursor → current via :func:`table_changes` (cost ∝ changed
      files, not table size);
    - reconcile on ``keys``: the feed's file-diff granularity re-emits
      every row of a rewritten file as delete+insert, so a key on the
      insert side is an UPSERT with its TO-version row (the insert leg
      reads added files under the TO manifest's DVs — already the
      final visible state), and a key ONLY on the delete side is a
      true DELETE;
    - apply upserts and delete keys as ONE merge (:func:`_merge_ops`)
      — file-level CoW and broadcast-probed, so a delivery-sized change
      set touches only the replica files holding those keys, and the
      whole change set is one replica commit;
    - commit the cursor AFTER the merge: at-least-once, and a replay
      is idempotent (re-replacing identical rows and re-deleting
      absent keys are both no-ops row-wise).

    First run (no cursor) seeds the replica with the full current
    snapshot. A cursor behind vacuum retention raises, same contract as
    ``consume_changes``. Returns {"from", "to", "upserted",
    "deleted"}.
    """
    current = current_version(src_path)
    last = _read_cursor(src_path, cursor_path)
    if current == last:
        return {"from": last, "to": current, "upserted": 0, "deleted": 0}
    n_up = n_del = 0
    if last == 0:
        snap = read_table(spark, src_path, version=current)
        if os.path.exists(os.path.join(dst_path, "_CURRENT")):
            # re-seed an existing (diverged) replica with a full
            # OVERWRITE, not a full-table MERGE: the snapshot replaces
            # every replica row by intent, so the final state is
            # identical, the cost is one write instead of a table-sized
            # probe + CoW rewrite, and no table-sized source ever
            # reaches merge's broadcast probes
            overwrite_table(snap, dst_path)
        else:
            create_table(snap, dst_path)
        n_up = snap.count()
    else:
        changes = _reconcile_feed(
            table_changes(spark, src_path, last, current), keys
        )
        if changes.limit(1).collect():
            r = _merge_ops(spark, dst_path, changes, keys, "_change_type")
            n_up, n_del = r["updated"] + r["inserted"], r["deleted"]
    _write_cursor(cursor_path, current)
    return {"from": last, "to": current, "upserted": n_up, "deleted": n_del}
