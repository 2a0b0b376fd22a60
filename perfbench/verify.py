"""Output checks, run outside every timed region.

Oracle-paired queries are checked against a digest of the DuckDB oracle
over the same files: the row count plus an order-insensitive hash of the
rows, canonicalized the way the driver contract compares results
(lower-cased column names in sorted order, floats rounded, rows sorted).
Rows-only queries (MinHash LSH, semantic dedup, the quality model) have no
SQL oracle; they are checked against a pinned row count and schema.
"""

from __future__ import annotations

import decimal
import hashlib
import math


class OutputMismatch(AssertionError):
    """An op's output differs from its expected digest."""


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        # nine significant digits: the oracle and Spark sum in different
        # orders, so the last bits of a large float total differ
        x = float(v)
        return f"{x:.9g}" if x != 0 else "0"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return repr(str(v))


def canon(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows as sorted tuples of canonical cells, columns by lower name."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count plus an order-insensitive hash of the canonical rows."""
    h = hashlib.sha256()
    h.update("|".join(sorted(c.lower() for c in columns)).encode())
    for r in canon(columns, rows):
        h.update(("\x1f".join(r) + "\n").encode())
    return {"rows": len(rows), "hash": h.hexdigest()[:16]}


def oracle_digests(data_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """Digest of every oracle query's DuckDB result over ``data_dir``."""
    import duckdb

    from .datagen import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        out = {}
        for name, sql in oracles.items():
            rel = con.sql(sql)
            out[name] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def spark_digest(df) -> dict:
    rows = [tuple(r) for r in df.collect()]
    return digest(list(df.columns), rows)


def check_digest(name: str, got: dict, expected: dict) -> None:
    """Raise :class:`OutputMismatch` naming the op unless ``got`` equals
    ``expected`` (row count first, so the message says which differs)."""
    if got.get("rows") != expected.get("rows"):
        raise OutputMismatch(
            f"{name}: {got.get('rows')} rows, expected {expected.get('rows')}"
        )
    if got.get("hash") != expected.get("hash"):
        raise OutputMismatch(
            f"{name}: value hash {got.get('hash')}, "
            f"expected {expected.get('hash')}"
        )


def check_shape(name: str, df, expected: dict) -> None:
    """Rows-only check: pinned row count and ``name:type`` schema."""
    schema = [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema]
    if schema != expected["schema"]:
        raise OutputMismatch(
            f"{name}: schema {schema}, expected {expected['schema']}"
        )
    n = df.count()
    if n != expected["rows"]:
        raise OutputMismatch(f"{name}: {n} rows, expected {expected['rows']}")
