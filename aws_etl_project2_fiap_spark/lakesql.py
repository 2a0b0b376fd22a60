"""SQL surface for the lakehouse verbs: MERGE INTO / UPDATE / DELETE /
time travel (VERSION|TIMESTAMP AS OF) / RESTORE / DESCRIBE HISTORY /
OPTIMIZE / VACUUM, parsed onto ``io/versioned.py``'s DataFrame verbs.

The reference's analytic surface was SQL (its transform stage is a
SparkSQL node in a Glue visual job — ETL_glue_pregao_B3.json:150-170);
a user migrating from it expects to WRITE mutations in SQL too, the way
Delta/Iceberg users do. Spark's open-source SQL parser parses these
statements but has no writable table format behind them for
plain-parquet sessions, so this module reads the parse tree (and
matches the lakehouse-only verbs itself) and executes each statement
through the versioned-table layer — every statement lands on
exactly the same code path as the DataFrame API (``merge_table``,
``update_table``, ``delete_from``, ``read_table``), so SQL-vs-DataFrame
parity is structural, not re-implemented (tested in
tests/test_lakesql.py against the test_merge_clauses shapes).

Usage::

    lk = LakeSQL(spark)                            # in-memory session
    lk = LakeSQL(spark, catalog_path="/data/catalog.json")  # persisted:
    #   register/CREATE/DROP write through, a new LakeSQL (reconnect,
    #   next CLI invocation) loads the same bindings
    lk.register("orders", "/data/orders")         # name -> table path
    lk.register("updates", "/data/updates")
    lk.sql('''MERGE INTO orders AS t USING updates AS s
              ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED AND s.valid THEN UPDATE SET
                   o_totalprice = t.o_totalprice + s.delta
              WHEN MATCHED THEN DELETE
              WHEN NOT MATCHED THEN INSERT *
              WHEN NOT MATCHED BY SOURCE THEN DELETE''')
    lk.sql("UPDATE orders SET o_comment = 'x' WHERE o_orderkey % 7 = 0")
    lk.sql("DELETE FROM orders WHERE o_totalprice < 0")
    lk.sql("SELECT * FROM orders VERSION AS OF 3 WHERE ...")
    lk.sql("SELECT * FROM CHANGES(orders, 2, 5)")  # change data feed
    #   ^ Delta's table_changes TVF shape; bounds are versions or
    #     quoted timestamps, `to` defaults to current
    lk.sql("CREATE TABLE fork CLONE orders VERSION AS OF 3 "
           "LOCATION '/data/fork'")  # zero-copy (SHALLOW) or DEEP
    lk.sql("RESTORE TABLE orders TO VERSION AS OF 2")
    lk.sql("DESCRIBE HISTORY orders")
    lk.sql("DESCRIBE DETAIL orders")   # one-row storage summary
    lk.sql("OPTIMIZE orders ZORDER BY (o_custkey)")
    lk.sql("VACUUM orders RETAIN 4 VERSIONS")
    lk.sql('''CREATE MATERIALIZED VIEW rev LOCATION '/data/rev' AS
              SELECT region, sum(amount) AS total
              FROM fact JOIN dim ON fact.fk = dim.fk
              GROUP BY region''')          # star dims, EVOLVE-foldable
    lk.sql("EXPLAIN SELECT * FROM orders WHERE o_orderkey = 7")
    lk.sql("EXPLAIN MERGE INTO orders AS t USING updates AS s "
           "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN DELETE")
    #   ^ dry-runs the probe: stats/bucket/bloom pruning stages,
    #     probe strategy, files-to-touch estimate — no mutation

Every call returns a DataFrame: SELECTs return their result; mutations
return a one-row summary (the dict the underlying verb returned), so a
SQL-driven pipeline can log/assert on it uniformly.

Grammar notes (deliberate limits, all loud):

- MERGE, UPDATE, DELETE, INSERT and the matview's ``AS SELECT`` body
  are parsed by Spark's own parser; LakeSQL reads the parse tree and
  hands conditions and values to ``F.expr`` as the statement's own
  text, so literals, quoting and parentheses mean what Spark says.
  Only the verbs Spark cannot parse (OPTIMIZE, VACUUM, RESTORE, CLONE,
  BRANCH, ALTER, CTAS's CLUSTERED BY, ...) are matched by hand.
- MERGE's ON clause must be a conjunction of ``t.<col> = s.<col>``
  equalities over SAME-NAMED columns (the ``merge_table`` key
  contract); alias names are whatever the statement declares (``AS``
  optional), else the table's own name.
- MERGE's WHEN clauses pass to ``merge_table`` as the ordered lists
  Spark's parser builds: any number of ``WHEN MATCHED`` (UPDATE SET
  ... / UPDATE SET * / DELETE), ``WHEN NOT MATCHED`` (INSERT * /
  INSERT (cols) VALUES (...)) and ``WHEN NOT MATCHED BY SOURCE``
  (UPDATE SET ... / DELETE) clauses. For each row the first clause
  whose condition holds applies, as in Delta; MATCHED conditions may
  read both sides, a NOT MATCHED clause may not read the target nor a
  BY SOURCE clause the source (rejected, as Spark does), and the
  parser requires every clause but the last of a kind to carry a
  condition. The statement is one pass and one commit.
- Subqueries inside UPDATE/DELETE WHERE, SET values and MERGE WHEN
  conditions bind the tables they name at statement start, as a
  SELECT's do.
- SELECT: table references resolve as Spark resolves them; time
  travel, CHANGES and branch reads are spliced at parser spans. A
  branch reads as ``FROM t VERSION AS OF 'branch'`` (Iceberg's form).
  The versioned views a statement mints are dropped once Spark has
  analyzed it.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .io import versioned as V

_WS = r"\s+"
_ID = r"[A-Za-z_][\w]*"


def _skip_literal(q: str, i: int) -> int:
    """The index just past the quoted literal opening at ``q[i]``,
    by Spark's default lexer rules: ``'…'`` and ``"…"`` are strings
    (``doubleQuotedIdentifiers=false``) with backslash escapes,
    `` `…` `` is an identifier without them, and a doubled quote
    escapes itself in all three. An unterminated literal runs to the
    end of the text."""
    quote, n = q[i], len(q)
    i += 1
    while i < n:
        c = q[i]
        if c == "\\" and quote != "`":
            i += 2  # backslash escape: next char is literal data
        elif c == quote and i + 1 < n and q[i + 1] == quote:
            i += 2  # doubled-quote escape: stay inside
        elif c == quote:
            return i + 1
        else:
            i += 1
    return n


def _mask_comments(q: str) -> str:
    """Blank SQL comments (``-- …\\n`` and ``/* … */``) with spaces,
    LEAVING string literals intact (a ``--`` inside '...' is data, and
    an apostrophe inside a comment must not flip the raw-text parsers'
    quote tracking — ADVICE r11 / VERDICT r11 #6). Length-preserving so
    offsets stay valid; the blanked text is what both the statement
    parsers here AND Spark ultimately see, which is semantically
    identical (comments carry no meaning).

    Literals are skipped by ``_skip_literal`` (review r12, ADVICE r12:
    both quote kinds and backtick identifiers, so ``--``/``/*`` inside
    any of them stays data), and bracketed comments NEST (SPARK-28880:
    ``/* a /* b */ c */`` is one comment). An unterminated block
    comment blanks to end-of-string, matching how Spark's own lexer
    treats the tail. Bracketed comments whose body starts with ``+``
    are Spark QUERY HINTS (``/*+ BROADCAST(t) */``) — semantically
    meaningful, so they pass through unmasked (hint bodies are bare
    identifiers and numbers; a quote inside one is not valid hint
    syntax)."""
    out = list(q)
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c in ("'", '"', "`"):
            i = _skip_literal(q, i)
            continue
        if c == "-" and i + 1 < n and q[i + 1] == "-":
            j = q.find("\n", i)
            j = n if j == -1 else j  # keep the newline itself
            for k in range(i, j):
                out[k] = " "
            i = j
            continue
        if c == "/" and i + 2 < n and q[i + 1] == "*" and q[i + 2] == "+":
            # query hint: skip the span intact (hints don't nest)
            j = q.find("*/", i + 3)
            i = n if j == -1 else j + 2
            continue
        if c == "/" and i + 1 < n and q[i + 1] == "*":
            depth, j = 1, i + 2
            while j < n and depth:
                if q[j] == "/" and j + 1 < n and q[j + 1] == "*":
                    depth += 1
                    j += 2
                elif q[j] == "*" and j + 1 < n and q[j + 1] == "/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            for k in range(i, j):
                out[k] = " " if q[k] != "\n" else "\n"
            i = j
            continue
        i += 1
    return "".join(out)


class SQLParseError(ValueError):
    """The statement doesn't fit the supported lakehouse grammar."""


def _split_top(text: str, sep: str) -> list[str]:
    """Split on the character ``sep`` outside parentheses, brackets and
    quoted literals (the ``_skip_literal`` rules) — commas inside
    function calls and semicolons inside strings don't split."""
    parts, depth, last, i = [], 0, 0, 0
    while i < len(text):
        c = text[i]
        if c in ("'", '"', "`"):
            i = _skip_literal(text, i)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(text[last:i])
            last = i + 1
        i += 1
    parts.append(text[last:])
    return parts


def _seq(s) -> list:
    """A Scala Seq from the parser as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _span(q: str, node) -> str:
    """The statement text a parsed node was built from, by its own
    origin: right for queries, column references and comparisons; any
    other expression goes through ``_text``."""
    o = node.origin()
    return q[o.startIndex().get():o.stopIndex().get() + 1]


def _name_parts(expr) -> list[str] | None:
    """A column reference's name parts (``s.meta.flag`` → ``['s',
    'meta', 'flag']``, backticks resolved); None for any other
    expression. Inside a lambda body every reference parses as a
    lambda variable until analysis."""
    if expr.nodeName() not in (
        "UnresolvedAttribute", "UnresolvedNamedLambdaVariable"
    ):
        return None
    return _seq(expr.nameParts())


def _equalities(q: str, cond, what: str) -> list[tuple[str, dict]]:
    """The terms of an ON condition that must be an AND of
    ``a.col = b.col`` equalities — MERGE keys and matview joins — as
    (term text, {qualifier lower-cased: column}). Parentheses are
    gone by parse time; any other term raises, naming it."""
    terms, stack = [], [cond]
    while stack:
        e = stack.pop()
        if e.nodeName() == "And":
            stack += [e.right(), e.left()]
            continue
        sides = (
            [_name_parts(e.left()), _name_parts(e.right())]
            if e.nodeName() == "EqualTo" else []
        )
        if len(sides) != 2 or any(p is None or len(p) != 2 for p in sides):
            raise SQLParseError(
                f"{what} must be a conjunction of name.col = name.col "
                f"equalities, got {_text(q, e, {})!r}"
            )
        terms.append((_span(q, e), {a.lower(): c for a, c in sides}))
    return terms


def _text(q: str, expr, aliases: dict[str, str]) -> str:
    """``expr``'s statement text, for ``F.expr``.

    A predicate (LIKE, IN, BETWEEN, IS NULL, ...) carries the origin of
    its keyword onward, so the text is the union of the subtree's
    origins, widened left over parentheses that leaves open
    (``(a + 1) IN (2, 3)``). Shared nodes such as the ``true`` literal
    keep the origin of whatever statement first built them, so only
    origins in ``q`` count.

    Each column reference whose first name part is a key of
    ``aliases`` (lower-cased) is re-qualified by its value —
    merge_table's ``t.``/``s.`` contract. Only those references' spans
    change, in one pass, so string literals and a crossed pair (``INTO
    x AS s USING y AS t``) stay intact."""
    if expr.nodeName() == "Exists":
        # EXISTS carries its enclosing clause's origin: rebuild it
        # around its subquery's own span
        return f"EXISTS ({_span(q, expr.plan())})"
    lo, hi, refs, stack = len(q), -1, [], [expr]
    while stack:
        e = stack.pop()
        stack += _seq(e.children())
        o = e.origin()
        if not o.sqlText().isDefined() or o.sqlText().get() != q:
            continue
        start, stop = o.startIndex().get(), o.stopIndex().get()
        lo, hi = min(lo, start), max(hi, stop)
        parts = _name_parts(e)
        if parts and len(parts) > 1 and parts[0].lower() in aliases:
            refs.append((start, stop, ".".join(
                [aliases[parts[0].lower()]]
                + ["`" + p.replace("`", "``") + "`" for p in parts[1:]]
            )))
    if hi < 0:  # a shared literal alone (``SET flag = true``)
        return expr.sql()
    depth = lowest = 0
    i = lo
    while i <= hi:
        if q[i] in ("'", '"', "`"):
            i = _skip_literal(q, i)
            continue
        depth += (q[i] == "(") - (q[i] == ")")
        lowest = min(lowest, depth)
        i += 1
    while lowest < 0 and lo > 0:
        lo -= 1
        lowest += q[lo] == "("
    text = q[lo:hi + 1]
    for start, stop, ref in sorted(refs, reverse=True):
        text = text[:start - lo] + ref + text[stop - lo + 1:]
    return text


def _reject_side_refs(
    q: str, action, aliases: dict[str, str], side: str, what: str
) -> None:
    """Raise if a WHEN clause reads the side its rows do not have (the
    target in NOT MATCHED, the source in NOT MATCHED BY SOURCE): that
    side is all NULL there, so the condition would never hold and the
    value would be NULL. Spark and Delta reject it at analysis."""
    stack = [c.get() for c in [action.condition()] if c.isDefined()]
    if action.nodeName() in ("UpdateAction", "InsertAction"):
        stack += [a.value() for a in _seq(action.assignments())]
    while stack:
        e = stack.pop()
        stack += _seq(e.children())
        parts = _name_parts(e)
        if parts and len(parts) > 1 and aliases.get(parts[0].lower()) == side:
            raise SQLParseError(
                f"a WHEN {what} clause cannot reference "
                f"{'the target' if side == 't' else 'the source'} "
                f"({_span(q, e)!r}): its rows have no such side"
            )


def _merge_side(node, default: str):
    """(alias, relation or query) of one side of a MERGE: the declared
    alias, else a table's own name, else ``default``."""
    if node.nodeName() == "SubqueryAlias":
        return node.alias(), node.child()
    if node.nodeName() == "UnresolvedRelation":
        return node.tableName(), node
    return default, node


def _arg_value(expr):
    """A parsed TVF argument as Python: an int or string literal's
    value, a bare identifier's name; None for anything else."""
    kind = expr.nodeName()
    if kind == "UnresolvedAttribute":
        return expr.name()
    if kind == "Literal":
        v = expr.value()
        return v if v is None or type(v) is int else str(v)
    return None


class LakeSQL:
    """A tiny session binding table NAMES to versioned-table PATHS and
    executing lakehouse SQL against them."""

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, str] | None = None,
        catalog_path: str | None = None,
    ):
        self.spark = spark
        self.tables: dict[str, str] = {}
        # names whose SELECT resolution must go through the matview
        # reader (logical columns, avg/sum derived from state) rather
        # than the raw state table
        self.views: set[str] = set()
        # file-backed name → path catalog: with catalog_path, every
        # register/CREATE/DROP persists, so a NEW LakeSQL (a
        # reconnecting client, the CLI's next invocation) sees the same
        # SHOW TABLES — without it the session is in-memory, as before.
        # Writes are atomic (tmp + rename) but whole-file last-writer-
        # wins: this is a single-user session catalog, not a multi-
        # writer metastore — concurrent sessions registering different
        # names can lose one binding (re-register; the DATA is never
        # touched — bindings are pointers)
        self.catalog_path = catalog_path
        if catalog_path is not None:
            self._load_catalog()
        # constructor bindings land as plain dict writes, then ONE
        # persist — register() would rewrite the whole catalog file
        # once per binding
        for name, path in (tables or {}).items():
            self.tables[name] = path
            self.views.discard(name)
        if tables:
            self._persist_catalog()

    def _load_catalog(self) -> None:
        import json

        try:
            with open(self.catalog_path) as fh:
                saved = json.load(fh)
        except FileNotFoundError:
            return
        except (OSError, ValueError) as exc:
            raise SQLParseError(
                f"catalog file {self.catalog_path!r} is unreadable "
                f"({exc}); fix or remove it"
            ) from exc
        # structural validation: a malformed-but-parseable file gets
        # the same fix-or-remove SQLParseError as an unparseable one,
        # not a raw KeyError/AttributeError from deep inside the loop
        tables = (
            saved.get("tables", {}) if isinstance(saved, dict) else None
        )
        if not isinstance(tables, dict) or not all(
            isinstance(rec, dict) and isinstance(rec.get("path"), str)
            for rec in tables.values()
        ):
            raise SQLParseError(
                f"catalog file {self.catalog_path!r} is malformed "
                f"(expected {{'tables': {{name: {{'path': str, "
                f"...}}}}}}); fix or remove it"
            )
        for name, rec in tables.items():
            self.tables[name] = rec["path"]
            if rec.get("view"):
                self.views.add(name)

    def _persist_catalog(self) -> None:
        if self.catalog_path is None:
            return
        import json
        import os
        import tempfile

        payload = {
            "tables": {
                n: {"path": p, "view": n in self.views}
                for n, p in self.tables.items()
            }
        }
        d = os.path.dirname(os.path.abspath(self.catalog_path))
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".catalog.tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(payload, fh, indent=1)
            os.replace(tmp, self.catalog_path)  # atomic on POSIX
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    def register(self, name: str, path: str, view: bool = False) -> None:
        self.tables[name] = path
        if view:
            self.views.add(name)
        else:
            self.views.discard(name)
        self._persist_catalog()

    def unregister(self, name: str) -> None:
        if self.tables.pop(name, None) is not None:
            # SELECT bound the name as a temp view; a stale one must not
            # keep answering for a table that is no longer registered
            self.spark.catalog.dropTempView(name)
        self.views.discard(name)
        self._persist_catalog()

    def _path(self, name: str) -> str:
        if name not in self.tables:
            raise SQLParseError(
                f"unknown table {name!r}; register(name, path) first "
                f"(known: {sorted(self.tables)})"
            )
        return self.tables[name]

    # -- dispatch ------------------------------------------------------

    def sql(self, text: str) -> DataFrame:
        # comments are blanked BEFORE dispatch (review r12): a leading
        # "-- header" must not become the statement head-word, and every
        # raw-text statement parser below sees comment-free text (the
        # blanking is length-preserving, hints pass through)
        q = _mask_comments(text).strip().rstrip(";").strip()
        head = q.split(None, 1)[0].upper() if q else ""
        if head == "MERGE":
            return self._merge(q)
        if head == "UPDATE":
            return self._update(q)
        if head == "DELETE":
            return self._delete(q)
        if head == "INSERT":
            return self._insert(q)
        if head == "CREATE":
            return self._create(q)
        if head == "REFRESH":
            return self._refresh(q)
        if head == "RESTORE":
            return self._restore(q)
        if head == "DESCRIBE":
            return self._describe(q)
        if head == "OPTIMIZE":
            return self._optimize(q)
        if head == "VACUUM":
            return self._vacuum(q)
        if head == "ALTER":
            return self._alter(q)
        if head == "SHOW":
            return self._show(q)
        if head == "PUBLISH":
            return self._publish(q)
        if head == "DROP":
            return self._drop(q)
        if head == "EXPLAIN":
            return self._explain(q)
        if head in ("SELECT", "WITH"):
            return self._select(q)
        raise SQLParseError(f"unsupported statement: {head or text!r}")

    def sql_script(self, text: str) -> DataFrame:
        """Execute a multi-statement script (statements separated by
        top-level ``;`` — semicolons inside string literals and parens
        don't split), sequentially, returning the LAST statement's
        result. The shape a SQL-first user pastes: stage, mutate,
        publish, select. Comments are blanked before the split (review
        r12) so a ``;`` inside ``--``/``/* */`` never splits a
        statement."""
        results = [
            self.sql(stmt)
            for stmt in _split_top(_mask_comments(text), ";")
            if stmt.strip()
        ]
        if not results:
            raise SQLParseError("empty SQL script")
        return results[-1]

    def _result(self, res: dict) -> DataFrame:
        from pyspark.sql import Row

        row = Row(**{k: str(v) for k, v in res.items()})
        return self.spark.createDataFrame([row])

    # -- SELECT + time travel -----------------------------------------

    def _select(self, q: str, prefix: str = "") -> DataFrame:
        """Run a SELECT (after ``prefix``, e.g. Spark's own ``EXPLAIN``)
        over the lakehouse tables it references. The versioned, branch
        and change-feed views the rewrite mints are dropped once Spark
        has analyzed the statement: the DataFrame holds their plans, so
        it still runs, and the session catalog keeps no view per
        statement."""
        with self._minting() as minted:
            return self.spark.sql(prefix + self._rewrite_select(q, minted))

    @contextlib.contextmanager
    def _minting(self):
        """Collect the names of the temp views a statement mints and
        drop them when it is done."""
        minted: list[str] = []
        try:
            yield minted
        finally:
            for view in minted:
                self.spark.catalog.dropTempView(view)

    def _parse(self, q: str):
        """Spark's parse tree for one statement (no analysis)."""
        return self.spark._jsparkSession.sessionState().sqlParser() \
            .parsePlan(q)

    def _parse_dml(self, q: str, minted: list[str]):
        """Parse an UPDATE, DELETE or MERGE after binding the tables its
        subqueries name (in WHERE, SET values and WHEN conditions) at
        statement start, as :meth:`_rewrite_select` binds a SELECT's.
        Returns (plan, text): when a time-travel or CHANGES read was
        spliced, both are those of the spliced text, so parser spans
        stay valid for ``_text``."""
        plan = self._parse(q)
        text = self._rewrite_select(q, minted, _seq(plan.innerChildren()))
        return (plan, q) if text == q else (self._parse(text), text)

    def _rewrite_select(
        self, q: str, minted: list[str], roots: list | None = None
    ) -> str:
        """Bind the statement's lakehouse tables and return the text for
        Spark SQL to run. Spark's parser finds the references: the walk
        covers the plan's children and inner children (subquery
        expressions, CTE bodies), so hints, backticks, comma lists, CTE
        shadowing, comments and literals behave exactly as in Spark.
        ``roots`` narrows the walk to those subtrees (a DML statement's
        subqueries) instead of the whole statement.

        - A plain reference runs unrewritten: the table's current
          version is registered as a temp view under its own name
          (names match case-insensitively, as Spark resolves them).
        - ``t VERSION AS OF n``, ``t TIMESTAMP AS OF 'ts'``, ``t VERSION
          AS OF 'branch'`` and ``CHANGES(t, from[, to])`` are spliced,
          at the spans the parser reports, with a temp view of that
          version, branch or change feed (its name is appended to
          ``minted``); an unaliased time-travel read keeps ``t`` as its
          alias.

        Every view is read before Spark runs the statement, so each
        table's version is bound at statement start."""
        names = {n.lower(): n for n in self.tables}
        current: set[str] = set()
        splices: list[tuple[int, int, str]] = []  # [start, stop] ← text
        if roots is None:
            roots = [self._parse(q)]
        stack = [(root, None) for root in roots]
        while stack:
            node, parent = stack.pop()
            kind = node.nodeName()
            if kind == "UnresolvedRelation":
                name = names.get(node.tableName().lower())
                if name is not None:
                    current.add(name)
                continue
            if kind == "RelationTimeTravel":
                name = names.get(node.relation().tableName().lower())
                if name is not None:
                    splices += self._time_travel(node, parent, name, minted)
                continue
            if kind == "UnresolvedTableValuedFunction" and node.name() \
                    .mkString(".").upper() in ("CHANGES", "TABLE_CHANGES"):
                splices.append(self._changes(q, node, names, minted))
                continue
            for child in _seq(node.children()) + _seq(node.innerChildren()):
                stack.append((child, node))
        for name in current:
            self._snapshot(name).createOrReplaceTempView(name)
        for start, stop, text in sorted(splices, reverse=True):
            q = q[:start] + text + q[stop + 1:]
        return q

    def _snapshot(self, name: str, version: int | None = None) -> DataFrame:
        """A registered name read at ``version`` (default current); a
        materialized view reads through its LOGICAL projection (avg
        derived, state internals hidden), time-travelling state and
        spec together (the spec is per-manifest state)."""
        path = self.tables[name]
        if name in self.views:
            from .io import matview as MV

            return MV.read_aggregate_view(self.spark, path, version=version)
        return V.read_table(self.spark, path, version=version)

    def _time_travel(
        self, node, parent, name: str, minted: list[str]
    ) -> list[tuple[int, int, str]]:
        """Splices for one ``RelationTimeTravel``: its span (the table
        name through the temporal clause) becomes a temp view of the
        version, timestamp or branch it names. A digit string is a
        version, any other string a branch. Without a statement alias
        the view is aliased back to ``name`` — after a TABLESAMPLE
        clause when there is one, where the grammar puts aliases."""
        ts = node.timestamp()
        if ts.isDefined():
            lit = ts.get()
            if lit.nodeName() != "Literal" or \
                    lit.dataType().typeName() != "string":
                raise SQLParseError(
                    f"TIMESTAMP AS OF on {name!r} takes a quoted "
                    f"timestamp literal"
                )
            epoch = _dt.datetime.fromisoformat(str(lit.value())).timestamp()
            ver = str(V.version_at(self.tables[name], epoch))
        else:
            ver = node.version().get()
        if ver.isdigit():
            view = f"{name}__v{int(ver)}"
            self._snapshot(name, int(ver)).createOrReplaceTempView(view)
        else:
            view = self._resolve_branch(name, ver)
        minted.append(view)
        start = node.relation().origin().startIndex().get()
        stop = node.origin().stopIndex().get()
        alias = f" AS `{name}`"
        kind = parent.nodeName()
        if kind == "SubqueryAlias":
            return [(start, stop, view)]
        if kind == "Sample":
            end = parent.origin().stopIndex().get()
            return [(start, stop, view), (end + 1, end, alias)]
        return [(start, stop, view + alias)]

    def _resolve_branch(self, base: str, branch: str) -> str:
        """``FROM base VERSION AS OF 'branch'`` (Iceberg's branch-read
        form) — audit-read a WAP stage THROUGH its base table's name:
        the stage must be registered AND its manifest's own
        ``cloned_from`` must point at the base, so a typo'd or
        republished branch fails loud instead of silently reading some
        other table. (A branch is also readable by its bare registered
        name; this form adds the base↔branch check.)"""
        if base in self.views:
            raise SQLParseError(
                f"{base!r} is a materialized view — branches fork "
                f"tables; read the branch by its own name"
            )
        if branch not in self.tables:
            raise SQLParseError(
                f"no branch {branch!r} registered — CREATE BRANCH "
                f"{branch} OF {base} LOCATION '...' first"
            )
        import os as _os

        stage = self.tables[branch]
        # cloned_from is inherited manifest state (r10) so the CURRENT
        # manifest carries it even after a vacuum dropped v1; stages
        # cloned before the inheritance fall back to v1. The fallback
        # read itself can miss (a plain table whose v1 was vacuumed,
        # named as a branch) — that's "not a branch", not a file error
        # (ADVICE r10)
        cloned = V._read_manifest(
            stage, V.current_version(stage)
        ).get("cloned_from")
        if cloned is None:
            try:
                cloned = V._read_manifest(stage, 1).get("cloned_from")
            except FileNotFoundError:
                cloned = None
        if _os.path.realpath(cloned or "") != _os.path.realpath(
            self.tables[base]
        ):
            raise SQLParseError(
                f"{branch!r} is not a branch of {base!r} "
                f"(cloned_from={cloned!r})"
            )
        view = f"{base}__br_{branch}"
        V.read_table(self.spark, stage).createOrReplaceTempView(view)
        return view

    def _changes(
        self, q: str, node, names: dict[str, str], minted: list[str]
    ) -> tuple[int, int, str]:
        """The splice for one ``CHANGES(t, from[, to])`` /
        ``TABLE_CHANGES`` call — the change-data-feed TVF (Delta's
        table_changes), onto io/versioned.table_changes. ``t`` is a
        bare or quoted registered table; bounds are version numbers or
        quoted timestamps (resolved via version_at, the TIMESTAMP AS OF
        rule); ``to`` defaults to the current version. The TVF's span
        includes its alias, so only the call itself — through its
        closing parenthesis — is replaced."""
        args = node.functionArgs()
        argv = [_arg_value(a) for a in _seq(args)]
        if len(argv) not in (2, 3):
            raise SQLParseError(
                f"CHANGES takes (table, from[, to]), got {len(argv)} "
                f"arguments"
            )
        name = names.get(str(argv[0]).lower())
        if name is None:
            raise SQLParseError(
                f"CHANGES: {argv[0]!r} is not a registered table"
            )
        if name in self.views:
            raise SQLParseError(
                "CHANGES reads tables, not materialized views — "
                "the feed is file-diff state, which a view's "
                "logical projection does not have"
            )
        path = self.tables[name]
        cur = V.current_version(path)

        def _ver(b):
            if type(b) is int:
                return b
            if not isinstance(b, str):
                raise SQLParseError(
                    f"CHANGES({name}, ...): bounds are versions or "
                    f"quoted timestamps, got {b!r}"
                )
            return V.version_at(
                path, _dt.datetime.fromisoformat(b).timestamp()
            )

        lo = _ver(argv[1])
        hi = _ver(argv[2]) if len(argv) == 3 else cur
        if not 1 <= lo <= hi <= cur:
            raise SQLParseError(
                f"CHANGES({name}, {lo}, {hi}): bounds must satisfy "
                f"1 <= from <= to <= current ({cur})"
            )
        view = f"{name}__ch_{lo}_{hi}"
        V.table_changes(self.spark, path, lo, hi).createOrReplaceTempView(
            view
        )
        minted.append(view)
        last = args.apply(args.size() - 1).origin().stopIndex().get()
        return node.origin().startIndex().get(), q.index(")", last + 1), view

    # -- EXPLAIN -------------------------------------------------------

    def _explain(self, q: str) -> DataFrame:
        """``EXPLAIN [FORMATTED|EXTENDED|COST|CODEGEN] SELECT ...`` —
        Spark's own plan over the rewritten statement, so pushdown and
        pruning are user-visible for lakehouse tables exactly as for
        native ones — or ``EXPLAIN MERGE INTO ...``, which DRY-RUNS
        the merge's probe phase (io/versioned.merge_probe_plan) and
        returns the probe strategy plus the files-to-touch estimate:
        how many files survive stats-envelope pruning, then
        bucket/bloom pruning, then the key semi-probe — the CI plan
        gates (tests/test_plan_quality.py), queryable per statement."""
        m = re.match(
            rf"EXPLAIN(?:{_WS}(FORMATTED|EXTENDED|COST|CODEGEN))?"
            rf"{_WS}(.*)$",
            q, re.I | re.S,
        )
        if not m:
            raise SQLParseError(f"cannot parse EXPLAIN: {q!r}")
        mode, body = m.groups()
        body = body.strip()
        head = body.split(None, 1)[0].upper() if body else ""
        if head in ("SELECT", "WITH"):
            return self._select(
                body, f"EXPLAIN {(mode or 'FORMATTED').upper()} "
            )
        if head in ("MERGE", "UPDATE", "DELETE"):
            if mode:
                raise SQLParseError(
                    f"EXPLAIN {head} takes no mode (the probe dry-run "
                    f"is its own format)"
                )
            if head == "MERGE":
                return self._explain_merge(body)
            # UPDATE/DELETE: the verbs' discovery scan — which files
            # hold matched rows (the CoW rewrite / DV sidecar set), how
            # many rows match — no mutation, no commit
            with self._minting() as minted:
                name, _, pred = self._mutation(body, minted)
                plan = V.mutation_probe_plan(
                    self.spark, self._path(name), pred
                )
            return self._result({"statement": head, "table": name, **plan})
        raise SQLParseError(
            f"EXPLAIN supports SELECT/WITH, MERGE, UPDATE and DELETE "
            f"statements: {body!r}"
        )

    def _explain_merge(self, q: str) -> DataFrame:
        """Dry-run the probe phase of a MERGE statement: no mutation,
        no commit — reports how the stats/bucket/bloom pruning and the
        key semi-probe would confine the rewrite."""
        with self._minting() as minted:
            plan, _, tname, _, keys, source_df = self._parse_merge(
                q, minted
            )
            probe = V.merge_probe_plan(
                self.spark, self._path(tname), source_df, keys,
                has_by_source_clause=(
                    plan.notMatchedBySourceActions().size() > 0
                ),
            )
        return self._result({"statement": "MERGE", "table": tname, **probe})

    # -- UPDATE / DELETE ----------------------------------------------

    def _mutation(self, q: str, minted: list[str]):
        """Parse an UPDATE or DELETE: (table name, SET assignments —
        None for DELETE — and the WHERE predicate)."""
        plan, q = self._parse_dml(q, minted)
        rel = plan.table()
        if rel.nodeName() != "UnresolvedRelation":
            raise SQLParseError(
                f"UPDATE and DELETE take a registered table name "
                f"without an alias: {q!r}"
            )
        name = rel.tableName()
        cond = plan.condition()
        assigns = None
        if plan.nodeName() == "UpdateTable":
            assigns = self._assignments(
                q, plan.assignments(), {name.lower()}, {},
                V.table_schema(self._path(name)),
            )
            cond = cond.get() if cond.isDefined() else None
        # a DELETE without WHERE parses to a bare TRUE, as WHERE TRUE does
        if cond is None or (
            cond.nodeName() == "Literal" and cond.value() is True
        ):
            return name, assigns, F.lit(True)
        return name, assigns, F.expr(_text(q, cond, {}))

    def _update(self, q: str) -> DataFrame:
        with self._minting() as minted:
            name, assigns, pred = self._mutation(q, minted)
            return self._result(
                V.update_table(self.spark, self._path(name), assigns, pred)
            )

    def _delete(self, q: str) -> DataFrame:
        with self._minting() as minted:
            name, _, pred = self._mutation(q, minted)
            return self._result(
                V.delete_from(self.spark, self._path(name), pred)
            )

    @staticmethod
    def _assignments(
        q: str, assignments, qualifiers: set[str], aliases: dict[str, str],
        tschema: StructType,
    ) -> dict:
        """SET ``col = expr`` pairs as {column: Column}. A column may be
        qualified by one of ``qualifiers`` (lower-cased: the target's
        name or alias); each value is its ``_text``, cast to the
        column's type in ``tschema`` (the target's schema) as SQL store
        assignment and INSERT do. A column the table lacks stays uncast
        for the write to reject."""
        types = {f.name: f.dataType for f in tschema.fields}
        out = {}
        for a in _seq(assignments):
            parts = _name_parts(a.key())
            if parts is None or len(parts) > 2 or (
                len(parts) == 2 and parts[0].lower() not in qualifiers
            ):
                raise SQLParseError(
                    f"cannot parse assignment {_span(q, a.key())!r}: "
                    f"SET takes a column of the target table"
                )
            col, value = parts[-1], F.expr(_text(q, a.value(), aliases))
            out[col] = value.cast(types[col]) if col in types else value
        return out

    # -- MERGE ---------------------------------------------------------

    def _parse_merge(self, q: str, minted: list[str]):
        """Parse a MERGE once: (plan, its text — see ``_parse_dml`` —,
        target table name, alias map for ``_text``, merge keys, source
        DataFrame). A side's alias is the one declared (``AS``
        optional), else the table's own name, as in Spark; a subquery
        source runs as its own text."""
        plan, q = self._parse_dml(q, minted)
        talias, target = _merge_side(plan.targetTable(), "t")
        salias, source = _merge_side(plan.sourceTable(), "s")
        if talias.lower() == salias.lower():
            raise SQLParseError(
                f"MERGE target and source need distinct aliases: {q!r}"
            )
        keys = []
        for term, pair in _equalities(q, plan.mergeCondition(), "ON"):
            if set(pair) != {talias.lower(), salias.lower()}:
                raise SQLParseError(
                    f"ON term {term!r} must reference both {talias} "
                    f"and {salias}"
                )
            if pair[talias.lower()] != pair[salias.lower()]:
                raise SQLParseError(
                    f"merge keys must be same-named on both sides "
                    f"(got {term!r}); alias the source column first"
                )
            keys.append(pair[talias.lower()])
        if source.nodeName() == "UnresolvedRelation":
            source_df = V.read_table(
                self.spark, self._path(source.tableName())
            )
        else:
            source_df = self._select(_span(q, source))
        aliases = {talias.lower(): "t", salias.lower(): "s"}
        return plan, q, target.tableName(), aliases, keys, source_df

    def _merge(self, q: str) -> DataFrame:
        """Run a MERGE as one ``merge_table`` call: the parse tree's
        ordered WHEN-clause lists pass straight through, so the
        statement is one pass and one commit."""
        with self._minting() as minted:
            plan, q, tname, aliases, keys, source_df = self._parse_merge(
                q, minted
            )
            target = {a for a, side in aliases.items() if side == "t"}
            tschema = V.table_schema(self._path(tname))

            def clauses(actions, what: str = "", absent: str = "") -> list:
                out = []
                for a in _seq(actions):
                    kind = a.nodeName()
                    if absent:
                        _reject_side_refs(q, a, aliases, absent, what)
                    if kind in ("UpdateAction", "InsertAction"):
                        action = self._assignments(
                            q, a.assignments(), target, aliases, tschema
                        )
                    else:
                        action = {
                            "DeleteAction": "delete",
                            "UpdateStarAction": "replace",
                            "InsertStarAction": "insert",
                        }[kind]
                    c = a.condition()
                    out.append((
                        F.expr(_text(q, c.get(), aliases))
                        if c.isDefined() else None,
                        action,
                    ))
                return out

            return self._result(V.merge_table(
                self.spark, self._path(tname), source_df, keys,
                when_matched=clauses(plan.matchedActions()),
                insert_unmatched=clauses(
                    plan.notMatchedActions(), "NOT MATCHED", "t"
                ),
                when_not_matched_by_source=clauses(
                    plan.notMatchedBySourceActions(),
                    "NOT MATCHED BY SOURCE", "s",
                ),
            ))

    # -- INSERT / CTAS / matview refresh ------------------------------

    def _insert(self, q: str) -> DataFrame:
        """``INSERT INTO t [(cols)] SELECT ...`` /
        ``INSERT INTO t [(cols)] VALUES (...), (...)`` — an append
        commit (constraints enforced, schema checked) via
        ``append_table``."""
        plan = self._parse(q)
        if plan.nodeName() != "InsertIntoStatement" or plan.overwrite() \
                or plan.partitionSpec().size() \
                or plan.table().nodeName() != "UnresolvedRelation":
            raise SQLParseError(
                f"only INSERT INTO <table> [(cols)] SELECT|VALUES ... is "
                f"supported: {q!r}"
            )
        name = plan.table().tableName()
        path = self._path(name)
        tschema = {f.name: f.dataType for f in V.table_schema(path).fields}
        query = plan.query()
        df = self._select(_span(q, query))
        cols = _seq(plan.userSpecifiedCols())
        if cols:
            df = df.toDF(*cols)
        elif query.nodeName() in ("LocalRelation", "UnresolvedInlineTable"):
            # positional VALUES: adopt the table's column names
            if len(df.columns) != len(tschema):
                raise SQLParseError(
                    f"VALUES arity {len(df.columns)} != table arity "
                    f"{len(tschema)}; name the columns explicitly"
                )
            df = df.toDF(*tschema)
        # SQL INSERT coerces to target types (a bare literal infers
        # int/decimal; the table's schema is the contract)
        df = df.select(*[
            F.col(c).cast(tschema[c]).alias(c) if c in tschema else F.col(c)
            for c in df.columns
        ])
        version = V.append_table(df, path)
        return self._result({"table": name, "version": version})

    def _create(self, q: str) -> DataFrame:
        """``CREATE TABLE name LOCATION 'path' AS SELECT ...`` — CTAS
        onto a new versioned table, registered under ``name`` for the
        rest of the session — or ``CREATE TABLE name [SHALLOW|DEEP]
        CLONE src [VERSION|TIMESTAMP AS OF ...] LOCATION 'path'``
        (Delta's zero-copy clone, onto ``io/versioned.clone_table``) —
        or ``CREATE MATERIALIZED VIEW name LOCATION 'path' AS SELECT
        <keys and aggs> FROM <table> GROUP BY <keys>``, which parses
        the aggregate list onto ``io/matview.create_aggregate_view`` so
        the view refreshes incrementally forever after."""
        mv = re.match(
            rf"CREATE{_WS}MATERIALIZED{_WS}VIEW{_WS}({_ID})"
            rf"{_WS}LOCATION{_WS}'([^']+)'{_WS}AS{_WS}(.*)$",
            q, re.I | re.S,
        )
        if mv:
            return self._create_matview(*mv.groups())
        br = re.match(
            rf"CREATE{_WS}BRANCH{_WS}({_ID}){_WS}OF{_WS}({_ID})"
            rf"{_WS}LOCATION{_WS}'([^']+)'$",
            q, re.I,
        )
        if br:
            # WAP stage verb: a metadata-only shallow clone of the
            # table at its current version, registered as a writable
            # name — INSERT/MERGE/UPDATE/DELETE against it stage
            # invisibly until PUBLISH BRANCH (io/wap.py begin_stage)
            from .io import wap as W

            bname, tname, loc = br.groups()
            base_v = W.begin_stage(self.spark, self._path(tname), loc)
            self.register(bname, loc)
            return self._result(
                {"branch": bname, "of": tname, "location": loc,
                 "base_version": base_v}
            )
        cl = re.match(
            rf"CREATE{_WS}TABLE{_WS}({_ID}){_WS}(?:(SHALLOW|DEEP){_WS})?"
            rf"CLONE{_WS}({_ID})"
            rf"(?:{_WS}VERSION{_WS}AS{_WS}OF{_WS}(\d+)"
            rf"|{_WS}TIMESTAMP{_WS}AS{_WS}OF{_WS}'([^']+)')?"
            rf"{_WS}LOCATION{_WS}'([^']+)'$",
            q, re.I,
        )
        if cl:
            # Delta's CLONE verb on io/versioned.clone_table: SHALLOW
            # (default) commits a manifest referencing the source
            # version's files — zero data copied; DEEP rewrites into
            # the clone's own data pool. VERSION/TIMESTAMP AS OF pins
            # the source version (same resolution rule as time-travel
            # SELECT); omitted → current.
            name, mode, src, ver, ts, loc = cl.groups()
            if src not in self.tables:
                raise SQLParseError(
                    f"CLONE: {src!r} is not a registered table"
                )
            if src in self.views:
                raise SQLParseError(
                    "CLONE copies tables, not materialized views — "
                    "clone the view's state table and re-declare the "
                    "view instead"
                )
            spath = self.tables[src]
            if ts is not None:
                epoch = _dt.datetime.fromisoformat(ts).timestamp()
                src_v = V.version_at(spath, epoch)
            elif ver is not None:
                src_v = int(ver)
            else:
                src_v = V.current_version(spath)
            deep = (mode or "SHALLOW").upper() == "DEEP"
            V.clone_table(
                self.spark, spath, loc, version=src_v, deep=deep
            )
            self.register(name, loc)
            return self._result(
                {"table": name, "cloned_from": src,
                 "source_version": src_v,
                 "mode": "deep" if deep else "shallow",
                 "location": loc}
            )
        m = re.match(
            rf"CREATE{_WS}TABLE{_WS}({_ID}){_WS}LOCATION{_WS}'([^']+)'"
            rf"(?:{_WS}CLUSTERED{_WS}BY{_WS}\((.*?)\))?"
            rf"{_WS}AS{_WS}(.*)$",
            q, re.I | re.S,
        )
        if not m:
            raise SQLParseError(
                f"only CREATE TABLE|MATERIALIZED VIEW|BRANCH <name> "
                f"LOCATION '<path>' [CLUSTERED BY (spec)] AS <select>, "
                f"or CREATE TABLE <name> [SHALLOW|DEEP] CLONE <src> "
                f"[VERSION|TIMESTAMP AS OF ...] LOCATION '<path>', "
                f"is supported: {q!r}"
            )
        name, path, clustered, select = m.groups()
        # CLUSTERED BY accepts the hidden-partitioning transforms the
        # cluster spec supports: raw cols, year/month/day/hour(ts),
        # truncate(N,col), bucket(N,col) — versioned.py create_table
        # validates and canonicalizes them
        cluster_by = (
            [c.strip() for c in _split_top(clustered, ",")]
            if clustered
            else None
        )
        version = V.create_table(
            self._select(select.strip()), path, cluster_by=cluster_by
        )
        self.register(name, path)
        return self._result(
            {"table": name, "location": path, "version": version}
        )

    def _create_matview(self, name: str, path: str, q: str):
        """``CREATE MATERIALIZED VIEW``'s ``AS SELECT`` body, read from
        Spark's parse tree: an ``Aggregate`` whose grouping keys are
        columns and whose other items are ``fn(col) AS name`` (count(*)
        parses as count(1)), over the FROM clause's joins."""
        from .io import matview as MV

        agg_fns = sorted(MV._SUPPORTED)  # one source of truth
        plan = self._parse(q)
        if plan.nodeName() != "Aggregate":
            raise SQLParseError(
                "CREATE MATERIALIZED VIEW needs the shape SELECT "
                "<keys and aggs> FROM <fact> [JOIN <dim> ON <fact.k = "
                "dim.k> ...] GROUP BY <keys>: "
                f"{q!r}"
            )
        src, dims, avail = self._parse_matview_from(q, plan.child())
        qualified_refs: dict[str, set[str]] = {}

        def column(e) -> str | None:
            # SQL users naturally qualify star columns (dim.region,
            # fact.amount); the maintenance layer joins by column NAME,
            # so a table-qualifier over a table in this FROM clause is
            # just notation — strip it (an UNKNOWN qualifier stays and
            # fails loud in Spark's analyzer). Qualified DIM references
            # additionally become that dim's projection list, so a dim
            # column that shares a name with a fact column never enters
            # the join unless asked for — qualify ALL references to a
            # dim if you qualify any (a half-qualified dim projects
            # only the qualified columns and the rest fail loud).
            parts = _name_parts(e)
            if parts is None:
                return None
            if len(parts) == 2 and parts[0].lower() in avail:
                qualified_refs.setdefault(parts[0].lower(), set()).add(
                    parts[1]
                )
                return parts[1]
            return ".".join(parts)

        group_by = []
        for e in _seq(plan.groupingExpressions()):
            col = column(e)
            if col is None:
                raise SQLParseError(
                    f"matview GROUP BY takes columns: {_text(q, e, {})!r}"
                )
            group_by.append(col)
        gb_lower = {c.lower() for c in group_by}
        aggs: dict[str, tuple[str, str | None]] = {}
        for item in _seq(plan.aggregateExpressions()):
            col = column(item)
            if col is not None and col.lower() in gb_lower:
                continue  # Spark resolution is case-insensitive
            fn = item.child() if item.nodeName() == "Alias" else None
            args = (
                _seq(fn.arguments())
                if fn is not None and fn.nodeName() == "UnresolvedFunction"
                and not fn.isDistinct() and not fn.filter().isDefined()
                else []
            )
            fname = ".".join(_seq(fn.nameParts())).lower() if args else ""
            # count(*) parses as count(1)
            star = len(args) == 1 and fname == "count" \
                and args[0].nodeName() == "Literal"
            col = column(args[0]) if len(args) == 1 and not star else None
            if fname not in agg_fns or not (star or col):
                raise SQLParseError(
                    f"matview select item must be a group key or "
                    f"fn(col) AS name with fn in {agg_fns}: "
                    f"{_text(q, item, {})!r}"
                )
            out = item.name()
            if out in aggs:
                raise SQLParseError(
                    f"duplicate aggregate alias {out!r} — each output "
                    f"column needs a distinct name"
                )
            aggs[out] = (fname, col)
        if not aggs:
            raise SQLParseError("matview needs at least one aggregate")
        for d in dims:
            refs = qualified_refs.get(d["name"])
            if refs:
                # project the dim to its join keys + the referenced
                # columns: disambiguates shared fact/dim column names
                # AND keeps every refresh/evolve fold from
                # broadcasting unused dim columns
                d["select"] = sorted(refs - set(d["keys"]))
        v = MV.create_aggregate_view(
            self.spark, self._path(src), path, group_by, aggs,
            dims=[
                {k: v2 for k, v2 in d.items() if k != "name"}
                for d in dims
            ] or None,
        )
        self.register(name, path, view=True)
        return self._result(
            {"view": name, "location": path, "version": v,
             "dims": str(len(dims))}
        )

    def _parse_matview_from(self, q: str, rel):
        """A matview's FROM clause — ``fact [JOIN dim ON <eq
        conjunction>]*``, parsed as a left-deep tree of inner joins —
        onto ``create_aggregate_view``'s ``dims`` spec. Each ON term
        must be a same-named ``a.col = b.col`` equality (the dim-join
        key contract — the fold joins by column NAME) where one side is
        the dim being joined and the other the fact or an earlier-joined
        dim (snowflake chains resolve left to right, same as the
        sequential broadcast fold). Each dim is pinned at its current
        version by create_aggregate_view; ``REFRESH ... EVOLVE`` folds
        later dim changes."""
        joins = []
        while rel.nodeName() == "Join":
            joins.append(rel)
            rel = rel.left()
        if rel.nodeName() != "UnresolvedRelation":
            raise SQLParseError(
                f"matview FROM must start with a registered fact "
                f"table name, got a {rel.nodeName()} node"
            )
        fact = rel.tableName()
        dims: list[dict] = []
        avail = {fact.lower()}
        for j in reversed(joins):
            dim = j.right()
            if dim.nodeName() != "UnresolvedRelation" \
                    or j.joinType().toString() != "Inner" \
                    or not j.condition().isDefined():
                raise SQLParseError(
                    f"matview JOIN needs '<dim> ON <cond>' (an inner "
                    f"join of a registered table): {_span(q, j)!r}"
                )
            dname = dim.tableName()
            keys: list[str] = []
            for term, pair in _equalities(
                q, j.condition().get(), "matview join ON"
            ):
                other = set(pair) - {dname.lower()}
                if dname.lower() not in pair or not other or not (
                    other <= avail
                ):
                    raise SQLParseError(
                        f"ON term {term!r} must join {dname} to the "
                        f"fact or an earlier-joined dim "
                        f"(available: {sorted(avail)})"
                    )
                if len(set(pair.values())) > 1:
                    raise SQLParseError(
                        f"matview join keys must be same-named on both "
                        f"sides (got {term!r}); the incremental fold "
                        f"joins by column name — alias in a CTAS first"
                    )
                keys.append(pair[dname.lower()])
            dims.append(
                {"name": dname.lower(), "path": self._path(dname),
                 "keys": keys}
            )
            avail.add(dname.lower())
        return fact, dims, avail

    def _refresh(self, q: str) -> DataFrame:
        """``REFRESH MATERIALIZED VIEW name [FULL | EVOLVE]`` — the
        incremental CDF fold (io/matview.py), the full recompute with
        FULL, or EVOLVE to also fold advanced dimension versions in
        the same verb (refresh_aggregate_view(evolve_dims=True) — the
        scheduled-refresher ergonomic for star views)."""
        from . import io as _io  # noqa: F401 (package import path)
        from .io import matview as MV

        m = re.match(
            rf"REFRESH{_WS}MATERIALIZED{_WS}VIEW{_WS}({_ID})"
            rf"(?:{_WS}(FULL|EVOLVE))?$",
            q, re.I,
        )
        if not m:
            raise SQLParseError(f"cannot parse REFRESH: {q!r}")
        name, mode = m.groups()
        path = self._path(name)
        mode = (mode or "").upper()
        if mode == "FULL":
            res = MV.full_refresh_aggregate_view(self.spark, path)
        elif mode == "EVOLVE":
            res = MV.refresh_aggregate_view(
                self.spark, path, evolve_dims=True
            )
        else:
            res = MV.refresh_aggregate_view(self.spark, path)
        return self._result(res)

    # -- maintenance verbs --------------------------------------------

    def _restore(self, q: str) -> DataFrame:
        m = re.match(
            rf"RESTORE{_WS}TABLE{_WS}({_ID}){_WS}TO{_WS}VERSION{_WS}"
            rf"AS{_WS}OF{_WS}(\d+)$",
            q, re.I,
        )
        if not m:
            raise SQLParseError(f"cannot parse RESTORE: {q!r}")
        name, ver = m.groups()
        v = V.rollback(self._path(name), int(ver))
        return self._result(
            {"table": name, "restored_to": int(ver), "new_version": v}
        )

    def _describe(self, q: str) -> DataFrame:
        dd = re.match(rf"DESCRIBE{_WS}DETAIL{_WS}({_ID})$", q, re.I)
        if dd:
            return self._describe_detail(dd.group(1))
        # DESCRIBE TABLE <name> is unambiguous (even for a table
        # literally named 'history'); bare DESCRIBE <name> describes
        # unless the name is the HISTORY keyword
        dm = re.match(rf"DESCRIBE{_WS}TABLE{_WS}({_ID})$", q, re.I)
        if not dm:
            bare = re.match(rf"DESCRIBE{_WS}({_ID})$", q, re.I)
            if bare and bare.group(1).upper() != "HISTORY":
                dm = bare
        if dm:
            # DESCRIBE [TABLE] t: logical schema + per-column notes
            # (cluster-spec membership, CHECK constraints) — the
            # session-introspection verb a SQL-first user reaches for
            # right after SHOW TABLES
            name = dm.group(1)
            path = self._path(name)
            if name in self.views:
                # a materialized view describes through its LOGICAL
                # schema — the columns SELECT resolves (avg derived,
                # __mv_cnt/__mvsum/__mvcnt/__mvnn state internals
                # hidden) — so DESCRIBE and SELECT agree on the same
                # name, plus one marker row naming the source table
                from .io import matview as MV

                meta = MV.view_meta(path)
                rows = [
                    {
                        "col_name": f.name,
                        "data_type": f.dataType.simpleString(),
                        "cluster": "",
                    }
                    for f in MV.read_aggregate_view(
                        self.spark, path
                    ).schema.fields
                ] + [
                    {
                        "col_name": "# materialized view of",
                        "data_type": "",
                        "cluster": meta["source"],
                    }
                ]
                return self.spark.createDataFrame(
                    rows,
                    "col_name string, data_type string, cluster string",
                )
            spec = (V.table_cluster_spec(path) or {}).get("cols") or []
            cons = V.table_constraints(path)
            rows = [
                {
                    "col_name": f.name,
                    "data_type": f.dataType.simpleString(),
                    # exact source-column match, not substring: with
                    # columns k and k2 and spec bucket(4,k2), k must
                    # NOT report as clustered
                    "cluster": next(
                        (
                            c
                            for c in spec
                            if V._spec_source_col(c) == f.name
                        ),
                        "",
                    ),
                }
                for f in V.table_schema(path).fields
            ] + [
                {
                    "col_name": f"constraint:{cname}",
                    "data_type": "check",
                    "cluster": expr,
                }
                for cname, expr in sorted(cons.items())
            ]
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, cluster string"
            )
        m = re.match(rf"DESCRIBE{_WS}HISTORY{_WS}({_ID})$", q, re.I)
        if not m:
            raise SQLParseError(
                f"only DESCRIBE [TABLE] <t> | DESCRIBE DETAIL <t> | "
                f"DESCRIBE HISTORY <t> is supported: {q!r}"
            )
        hist = V.table_history(self._path(m.group(1)))
        rows = [
            {
                "version": int(h["version"]),
                "operation": h.get("operation") or "",
                "n_files": int(h["n_files"]),
                "timestamp": float(h["timestamp"]),
            }
            for h in hist
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, operation string, n_files int, timestamp double",
        )

    def _describe_detail(self, name: str) -> DataFrame:
        """``DESCRIBE DETAIL t`` — the Delta-parity one-row table
        summary: format, location, current version, file/byte/row
        counts, deletion-vector totals, cluster spec, constraint
        count, retained manifest count, last-commit time. Everything
        comes from the manifest plus one O(files) driver-side footer
        pass (row counts) — no Spark job, no data read. A materialized
        view reports its STATE table's storage detail with
        format='materialized-view' and its source path (the logical
        projection is DESCRIBE's job, the DDL is SHOW CREATE TABLE's;
        DETAIL is the storage view)."""
        import datetime as _ddt
        import os as _os

        path = self._path(name)
        fmt = "versioned-parquet"
        source = ""
        if name in self.views:
            from .io import matview as MV

            fmt = "materialized-view"
            source = MV.view_meta(path)["source"]
        ver = V.current_version(path)
        m = V._read_manifest(path, ver)
        files = m["files"]
        size_bytes = sum(_os.path.getsize(f["path"]) for f in files)
        dvs = [f["dv"] for f in files if f.get("dv")]
        dv_rows = sum(int(d["n"]) for d in dvs)
        # physical rows = visible rows (io/versioned.table_count: the
        # footer-metadata count, one shared implementation) + DV'd rows
        num_rows = V.table_count(path, ver) + dv_rows
        spec = (V.table_cluster_spec(path) or {}).get("cols") or []
        n_manifests = sum(
            1
            for fn in _os.listdir(V._manifest_dir(path))
            if V._MANIFEST_RE.fullmatch(fn)
        )
        last = _os.path.getmtime(
            _os.path.join(V._manifest_dir(path), f"v{ver}.json")
        )
        return self._result({
            "name": name,
            "format": fmt,
            "location": path,
            "source": source,
            "version": ver,
            "num_files": len(files),
            "size_bytes": size_bytes,
            "num_rows": num_rows,
            "num_deletion_vectors": len(dvs),
            "dv_deleted_rows": dv_rows,
            "cluster_by": ", ".join(spec),
            "num_constraints": len(V.table_constraints(path)),
            "retained_versions": n_manifests,
            "last_modified": _ddt.datetime.fromtimestamp(
                last
            ).isoformat(timespec="seconds"),
        })

    def _optimize(self, q: str) -> DataFrame:
        m = re.match(
            rf"OPTIMIZE{_WS}({_ID})"
            rf"(?:{_WS}ZORDER{_WS}BY{_WS}\(([^)]*)\))?$",
            q, re.I,
        )
        if not m:
            raise SQLParseError(f"cannot parse OPTIMIZE: {q!r}")
        name, zcols = m.groups()
        z = [c.strip() for c in zcols.split(",")] if zcols else None
        return self._result(
            V.compact_table(self.spark, self._path(name), zorder_by=z)
        )

    def _vacuum(self, q: str) -> DataFrame:
        m = re.match(
            rf"VACUUM{_WS}({_ID})"
            rf"(?:{_WS}RETAIN{_WS}(\d+){_WS}VERSIONS)?$",
            q, re.I,
        )
        if not m:
            raise SQLParseError(f"cannot parse VACUUM: {q!r}")
        name, keep = m.groups()
        removed = V.vacuum(
            self._path(name), keep_last=int(keep) if keep else 2
        )
        return self._result(
            {"table": name, "removed_dirs": len(removed)}
        )

    def _show(self, q: str) -> DataFrame:
        """``SHOW TABLES`` — the session's registered name → path
        bindings (matviews flagged) — or ``SHOW CREATE TABLE t`` —
        the reconstruction DDL from the table's CURRENT manifest:
        logical columns + types, CLUSTERED BY spec, LOCATION, one
        ALTER ... ADD CONSTRAINT line per CHECK; a matview
        reconstructs its CREATE MATERIALIZED VIEW statement from the
        persisted spec (dim paths reverse-resolve to registered names
        where bound; an unregistered dim renders as its path — the
        statement documents the view even when it isn't re-runnable
        verbatim)."""
        cm = re.match(
            rf"SHOW{_WS}CREATE{_WS}TABLE{_WS}({_ID})$", q, re.I
        )
        if cm:
            return self._show_create(cm.group(1))
        if not re.match(rf"SHOW{_WS}TABLES$", q, re.I):
            raise SQLParseError(
                f"only SHOW TABLES | SHOW CREATE TABLE <t> are "
                f"supported: {q!r}"
            )
        rows = [
            {"name": n, "location": p, "is_view": n in self.views}
            for n, p in sorted(self.tables.items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, location string, is_view boolean"
        )

    def _show_create(self, name: str) -> DataFrame:
        path = self._path(name)
        stmts: list[str] = []
        if name in self.views:
            from .io import matview as MV

            meta = MV.view_meta(path)
            by_path = {p: n for n, p in self.tables.items()}
            src = by_path.get(meta["source"], f"'{meta['source']}'")
            sel = list(meta["group_by"]) + [
                f"{fn}({col if col is not None else '*'}) AS {out}"
                for out, (fn, col) in (
                    (o, tuple(v)) for o, v in meta["aggs"].items()
                )
            ]
            joins = ""
            for d in meta.get("dims") or []:
                dname = by_path.get(d["path"], f"'{d['path']}'")
                on = " AND ".join(
                    f"{src}.{k} = {dname}.{k}" for k in d["keys"]
                )
                joins += f" JOIN {dname} ON {on}"
            stmts.append(
                f"CREATE MATERIALIZED VIEW {name} LOCATION '{path}' "
                f"AS SELECT {', '.join(sel)} FROM {src}{joins} "
                f"GROUP BY {', '.join(meta['group_by'])}"
            )
        else:
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in V.table_schema(path).fields
            )
            spec = (V.table_cluster_spec(path) or {}).get("cols") or []
            clustered = (
                f" CLUSTERED BY ({', '.join(spec)})" if spec else ""
            )
            stmts.append(
                f"CREATE TABLE {name} ({cols}){clustered} "
                f"LOCATION '{path}'"
            )
            for cname, expr in sorted(V.table_constraints(path).items()):
                stmts.append(
                    f"ALTER TABLE {name} ADD CONSTRAINT {cname} "
                    f"CHECK ({expr})"
                )
        return self.spark.createDataFrame(
            [{"create_stmt": s} for s in stmts], "create_stmt string"
        )

    # -- ALTER TABLE / WAP branches ------------------------------------

    def _alter(self, q: str) -> DataFrame:
        """``ALTER TABLE t RENAME COLUMN a TO b`` / ``DROP COLUMN a`` /
        ``ADD COLUMN a type`` / ``CLUSTER BY (spec, ...)`` / ``CLUSTER
        BY NONE`` — all land on the METADATA-ONLY versioned-table
        verbs: rename/drop/add commit a new column mapping with zero
        data IO (versioned.py rename_column/drop_column/add_column —
        ADD declares the column, reads NULL-fill it until data
        arrives), CLUSTER BY commits a
        new cluster spec (Iceberg-shaped partition-spec evolution,
        alter_clustering) whose columns may be hidden-partitioning
        transforms like ``month(ts)`` or ``bucket(16, key)``."""
        m = re.match(
            rf"ALTER{_WS}TABLE{_WS}({_ID}){_WS}RENAME{_WS}COLUMN"
            rf"{_WS}({_ID}){_WS}TO{_WS}({_ID})$",
            q, re.I,
        )
        if m:
            name, old, new = m.groups()
            v = V.rename_column(self._path(name), old, new)
            return self._result(
                {"table": name, "renamed": f"{old} -> {new}",
                 "version": v}
            )
        m = re.match(
            rf"ALTER{_WS}TABLE{_WS}({_ID}){_WS}DROP{_WS}COLUMN"
            rf"{_WS}({_ID})$",
            q, re.I,
        )
        if m:
            name, col = m.groups()
            v = V.drop_column(self._path(name), col)
            return self._result(
                {"table": name, "dropped": col, "version": v}
            )
        m = re.match(
            rf"ALTER{_WS}TABLE{_WS}({_ID}){_WS}ADD{_WS}COLUMN"
            rf"{_WS}({_ID}){_WS}(.+?)\s*$",
            q, re.I | re.S,
        )
        if m:
            name, col, dtype = m.groups()
            v = V.add_column(self.spark, self._path(name), col, dtype)
            return self._result(
                {"table": name, "added": col, "type": dtype,
                 "version": v}
            )
        m = re.match(
            rf"ALTER{_WS}TABLE{_WS}({_ID}){_WS}CLUSTER{_WS}BY"
            rf"{_WS}(?:(NONE)|\((.*)\))\s*$",
            q, re.I | re.S,
        )
        if m:
            name, none, cols = m.groups()
            spec = (
                None
                if none
                else [c.strip() for c in _split_top(cols, ",")]
            )
            v = V.alter_clustering(self._path(name), spec)
            return self._result(
                {"table": name,
                 "cluster_by": ", ".join(spec or []) or "NONE",
                 "version": v}
            )
        m = re.match(
            rf"ALTER{_WS}TABLE{_WS}({_ID}){_WS}ADD{_WS}CONSTRAINT"
            rf"{_WS}({_ID}){_WS}CHECK{_WS}\((.*)\)\s*$",
            q, re.I | re.S,
        )
        if m:
            name, cname, expr = m.groups()
            # existing data is validated first (one scan, Delta's ADD
            # CONSTRAINT shape) — a rule can't be born already broken
            V.add_constraint(self.spark, self._path(name), cname, expr)
            return self._result(
                {"table": name, "constraint": cname, "check": expr}
            )
        m = re.match(
            rf"ALTER{_WS}TABLE{_WS}({_ID}){_WS}DROP{_WS}CONSTRAINT"
            rf"{_WS}({_ID})$",
            q, re.I,
        )
        if m:
            name, cname = m.groups()
            V.drop_constraint(self._path(name), cname)
            return self._result(
                {"table": name, "dropped_constraint": cname}
            )
        raise SQLParseError(
            f"supported ALTER forms: ALTER TABLE t RENAME COLUMN a TO "
            f"b | DROP COLUMN a | ADD COLUMN a type | CLUSTER BY "
            f"(spec,...) | CLUSTER BY NONE | ADD CONSTRAINT n CHECK "
            f"(expr) | DROP CONSTRAINT n — got {q!r}"
        )

    def _publish(self, q: str) -> DataFrame:
        """``PUBLISH BRANCH b [MODE fail|append|merge]`` — atomically
        publish a CREATE BRANCH stage onto its base table
        (io/wap.py publish_stage; the base is read from the stage's
        own cloned_from record, so the statement names only the
        branch). The stage directory is consumed on success and the
        name deregistered."""
        from .io import wap as W

        m = re.match(
            rf"PUBLISH{_WS}BRANCH{_WS}({_ID})"
            rf"(?:{_WS}MODE{_WS}({_ID}))?$",
            q, re.I,
        )
        if not m:
            raise SQLParseError(f"cannot parse PUBLISH BRANCH: {q!r}")
        name, mode = m.groups()
        stage = self._path(name)
        base_table = V._read_manifest(stage, 1).get("cloned_from")
        if not base_table:
            raise SQLParseError(
                f"{name!r} is not a branch (no cloned_from); PUBLISH "
                f"BRANCH only publishes CREATE BRANCH stages"
            )
        res = W.publish_stage(
            self.spark, base_table, stage,
            mode=(mode or "fail").lower(),
        )
        self.unregister(name)
        return self._result({"branch": name, **res})

    def _drop(self, q: str) -> DataFrame:
        """``DROP BRANCH b`` — abandon an unpublished stage
        (io/wap.py abandon_stage: refuses production tables and stages
        with an interrupted publish, so a typo can't delete data) —
        or ``DROP TABLE [IF EXISTS] t``, which removes the CATALOG
        BINDING only (the versioned table's data and history stay on
        disk — VACUUM is the data-removal verb; re-register to bind
        again). With a persisted catalog the unbind persists too."""
        tm = re.match(
            rf"DROP{_WS}TABLE(?:{_WS}IF{_WS}EXISTS)?{_WS}({_ID})$",
            q, re.I,
        )
        if tm:
            name = tm.group(1)
            if name not in self.tables and not re.search(
                rf"IF{_WS}EXISTS", q, re.I
            ):
                raise SQLParseError(
                    f"unknown table {name!r}; DROP TABLE IF EXISTS "
                    f"to make this a no-op"
                )
            existed = name in self.tables
            self.unregister(name)
            return self._result(
                {"table": name, "unbound": str(existed).lower(),
                 "note": "binding removed; data retained on disk"}
            )
        from .io import wap as W

        m = re.match(rf"DROP{_WS}BRANCH{_WS}({_ID})$", q, re.I)
        if not m:
            raise SQLParseError(
                f"only DROP BRANCH <name> | DROP TABLE [IF EXISTS] "
                f"<name> is supported: {q!r}"
            )
        name = m.group(1)
        W.abandon_stage(self._path(name))
        self.unregister(name)
        return self._result({"branch": name, "dropped": "true"})
