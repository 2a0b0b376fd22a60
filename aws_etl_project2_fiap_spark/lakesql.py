"""SQL surface for the lakehouse verbs: MERGE INTO / UPDATE / DELETE /
time travel (VERSION|TIMESTAMP AS OF) / RESTORE / DESCRIBE HISTORY /
OPTIMIZE / VACUUM, parsed onto ``io/versioned.py``'s DataFrame verbs.

The reference's analytic surface was SQL (its transform stage is a
SparkSQL node in a Glue visual job — ETL_glue_pregao_B3.json:150-170);
a user migrating from it expects to WRITE mutations in SQL too, the way
Delta/Iceberg users do. Spark's open-source SQL parser has no writable
table format behind these statements for plain-parquet sessions, so
this module parses the Delta-style statement shapes itself and executes
them through the versioned-table layer — every statement lands on
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

- MERGE's ON clause must be a conjunction of ``t.<col> = s.<col>``
  equalities over SAME-NAMED columns (the ``merge_table`` key
  contract); alias names are whatever the statement declares.
- ``WHEN NOT MATCHED THEN INSERT *`` only (the source row inserts
  whole — project the source subquery to shape it).
- One clause of each kind, like Delta before 2.0. ``WHEN MATCHED``
  may appear twice ONLY as UPDATE-with-AND-condition followed by
  DELETE (the Delta clause-ordering idiom; the UPDATE's condition is
  required, matching Delta's non-final-clause rule, and both
  conditions must be source-only). Executed as a conditional update
  merge then a CAS-chained conditional delete merge carrying the
  INSERT clause — two commits, so a crash between them leaves the
  UPDATE applied with the DELETE/INSERT pending (re-run to finish);
  a concurrent commit in the gap conflicts loudly, never misapplies.
- SELECT: table references resolve as Spark resolves them; time
  travel, CHANGES and branch reads are spliced at parser spans. A
  branch reads as ``FROM t VERSION AS OF 'branch'`` (Iceberg's form).
- String literals containing keywords (``'WHEN MATCHED'``) inside
  DML predicates are not lexed; keep such text out of DML predicates
  (SELECT literals are safe).
"""

from __future__ import annotations

import datetime as _dt
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import versioned as V

_WS = r"\s+"
_ID = r"[A-Za-z_][\w]*"


def _mask_comments(q: str) -> str:
    """Blank SQL comments (``-- …\\n`` and ``/* … */``) with spaces,
    LEAVING string literals intact (a ``--`` inside '...' is data, and
    an apostrophe inside a comment must not flip the raw-text parsers'
    quote tracking — ADVICE r11 / VERDICT r11 #6). Length-preserving so
    offsets stay valid; the blanked text is what both the statement
    parsers here AND Spark ultimately see, which is semantically
    identical (comments carry no meaning).

    Literal tracking mirrors Spark's default lexer (review r12): BOTH
    quote kinds are literals (``"…"`` is a string under the default
    ``doubleQuotedIdentifiers=false``), backslash escapes are honored
    inside either (``'it\\'s--not a comment'``), doubled quotes escape
    themselves, and bracketed comments NEST (SPARK-28880:
    ``/* a /* b */ c */`` is one comment). An unterminated block
    comment blanks to end-of-string, matching how Spark's own lexer
    treats the tail.

    Two carve-outs (ADVICE r12): backtick-quoted identifiers are a
    third quoting context (no backslash escapes — `` `` `` doubles),
    so ``--``/``/*`` inside a legal quoted identifier stays data; and
    bracketed comments whose body starts with ``+`` are Spark QUERY
    HINTS (``/*+ BROADCAST(t) */``) — semantically meaningful, so
    they pass through unmasked (hint bodies are bare identifiers and
    numbers; a quote inside one is not valid hint syntax)."""
    out = list(q)
    i, n = 0, len(q)
    lit: str | None = None  # the quote char when inside a literal
    while i < n:
        c = q[i]
        if lit is not None:
            if c == "\\" and i + 1 < n and lit != "`":
                i += 2  # backslash escape: next char is literal data
                continue
            if c == lit:
                # doubled-quote escape: consume both, stay inside
                if i + 1 < n and q[i + 1] == lit:
                    i += 2
                    continue
                lit = None
            i += 1
            continue
        if c in ("'", '"', "`"):
            lit = c
            i += 1
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
    """Split on ``sep`` (a regex, case-insensitive, word-bounded) at
    paren/quote depth 0 — commas inside function calls and ANDs inside
    parenthesized sub-predicates don't split."""
    parts, depth, last, i = [], 0, 0, 0
    pat = re.compile(sep, re.I)
    in_str = False
    while i < len(text):
        c = text[i]
        if in_str:
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            m = pat.match(text, i)
            if m:
                parts.append(text[last:i])
                i = m.end()
                last = i
                continue
        i += 1
    parts.append(text[last:])
    return parts


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
            for stmt in _split_top(_mask_comments(text), r";")
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

    def _select(self, q: str) -> DataFrame:
        return self.spark.sql(self._rewrite_select(q))

    def _rewrite_select(self, q: str) -> str:
        """Bind the statement's lakehouse tables and return the text for
        Spark SQL to run (EXPLAIN prepends Spark's own EXPLAIN to it).
        Spark's parser finds the references: the walk covers the plan's
        children and inner children (subquery expressions, CTE bodies),
        so hints, backticks, comma lists, CTE shadowing, comments and
        literals behave exactly as in Spark.

        - A plain reference runs unrewritten: the table's current
          version is registered as a temp view under its own name
          (names match case-insensitively, as Spark resolves them).
        - ``t VERSION AS OF n``, ``t TIMESTAMP AS OF 'ts'``, ``t VERSION
          AS OF 'branch'`` and ``CHANGES(t, from[, to])`` are spliced,
          at the spans the parser reports, with a temp view of that
          version, branch or change feed; an unaliased time-travel read
          keeps ``t`` as its alias.

        Every view is read before Spark runs the statement, so each
        table's version is bound at statement start."""
        plan = self.spark._jsparkSession.sessionState().sqlParser() \
            .parsePlan(q)
        names = {n.lower(): n for n in self.tables}
        current: set[str] = set()
        splices: list[tuple[int, int, str]] = []  # [start, stop] ← text
        stack = [(plan, None)]
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
                    splices += self._time_travel(node, parent, name)
                continue
            if kind == "UnresolvedTableValuedFunction" and node.name() \
                    .mkString(".").upper() in ("CHANGES", "TABLE_CHANGES"):
                splices.append(self._changes(q, node, names))
                continue
            for seq in (node.children(), node.innerChildren()):
                for i in range(seq.size()):
                    stack.append((seq.apply(i), node))
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
        self, node, parent, name: str
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
        self, q: str, node, names: dict[str, str]
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
        argv = [_arg_value(args.apply(i)) for i in range(args.size())]
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
            return self.spark.sql(
                f"EXPLAIN {(mode or 'FORMATTED').upper()} "
                + self._rewrite_select(body)
            )
        if head in ("MERGE", "UPDATE", "DELETE"):
            if mode:
                raise SQLParseError(
                    f"EXPLAIN {head} takes no mode (the probe dry-run "
                    f"is its own format)"
                )
            if head == "MERGE":
                return self._explain_merge(body)
            return self._explain_mutation(head, body)
        raise SQLParseError(
            f"EXPLAIN supports SELECT/WITH, MERGE, UPDATE and DELETE "
            f"statements: {body!r}"
        )

    def _explain_mutation(self, kind: str, q: str) -> DataFrame:
        """Dry-run an UPDATE/DELETE's discovery scan: which files hold
        matched rows (the CoW rewrite / DV sidecar set), how many rows
        match — no mutation, no commit."""
        if kind == "UPDATE":
            m = re.match(
                rf"UPDATE{_WS}({_ID}){_WS}SET{_WS}.*?"
                rf"(?:{_WS}WHERE{_WS}(.*))?$",
                q, re.I | re.S,
            )
        else:
            m = re.match(
                rf"DELETE{_WS}FROM{_WS}({_ID})(?:{_WS}WHERE{_WS}(.*))?$",
                q, re.I | re.S,
            )
        if not m:
            raise SQLParseError(f"cannot parse EXPLAIN {kind}: {q!r}")
        name, where = m.groups()
        pred = F.expr(where) if where else F.lit(True)
        plan = V.mutation_probe_plan(self.spark, self._path(name), pred)
        return self._result(
            {"statement": kind, "table": name, **plan}
        )

    def _explain_merge(self, q: str) -> DataFrame:
        """Dry-run the probe phase of a MERGE statement: no mutation,
        no commit — reports how the stats/bucket/bloom pruning and the
        key semi-probe would confine the rewrite."""
        tname, talias, src, salias, rest = self._parse_merge_header(q)
        chunks = _split_top(rest, r"\bWHEN\b")
        keys = self._merge_keys(chunks[0].strip(), talias, salias)
        has_by_source = any(
            re.match(rf"\s*NOT{_WS}MATCHED{_WS}BY{_WS}SOURCE\b", c, re.I)
            for c in chunks[1:]
        )
        plan = V.merge_probe_plan(
            self.spark, self._path(tname), self._merge_source(src),
            keys, has_by_source_clause=has_by_source,
        )
        return self._result(
            {"statement": "MERGE", "table": tname, **plan}
        )

    # -- UPDATE / DELETE ----------------------------------------------

    def _update(self, q: str) -> DataFrame:
        m = re.match(
            rf"UPDATE{_WS}({_ID}){_WS}SET{_WS}(.*?)"
            rf"(?:{_WS}WHERE{_WS}(.*))?$",
            q, re.I | re.S,
        )
        if not m:
            raise SQLParseError(f"cannot parse UPDATE: {q!r}")
        name, sets, where = m.groups()
        assigns = {
            col: F.expr(expr) for col, expr in self._raw_assignments(sets)
        }
        pred = F.expr(where) if where else F.lit(True)
        return self._result(
            V.update_table(self.spark, self._path(name), assigns, pred)
        )

    def _delete(self, q: str) -> DataFrame:
        m = re.match(
            rf"DELETE{_WS}FROM{_WS}({_ID})(?:{_WS}WHERE{_WS}(.*))?$",
            q, re.I | re.S,
        )
        if not m:
            raise SQLParseError(f"cannot parse DELETE: {q!r}")
        name, where = m.groups()
        pred = F.expr(where) if where else F.lit(True)
        return self._result(
            V.delete_from(self.spark, self._path(name), pred)
        )

    # -- MERGE ---------------------------------------------------------

    @staticmethod
    def _parse_merge_header(q: str) -> tuple[str, str, str, str, str]:
        """Parse ``MERGE INTO t [AS a] USING <name|(subquery)> [AS b]
        ON`` and return (tname, talias, src, salias, rest-after-ON)."""
        head = re.match(
            rf"MERGE{_WS}INTO{_WS}({_ID})(?:{_WS}AS{_WS}({_ID}))?"
            rf"{_WS}USING\s+",
            q, re.I | re.S,
        )
        if not head:
            raise SQLParseError(f"cannot parse MERGE header: {q!r}")
        tname, talias = head.groups()
        pos = head.end()
        if q[pos] == "(":  # parenthesized subquery: scan to balance
            depth, j, in_str = 0, pos, False
            while j < len(q):
                c = q[j]
                if in_str:
                    in_str = c != "'"
                elif c == "'":
                    in_str = True
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise SQLParseError("unbalanced parens in USING source")
            src, pos = q[pos:j + 1], j + 1
        else:
            sm = re.match(_ID, q[pos:])
            if not sm:
                raise SQLParseError(f"cannot parse USING source in {q!r}")
            src, pos = sm.group(0), pos + sm.end()
        tail = re.match(
            rf"(?:{_WS}AS{_WS}({_ID}))?{_WS}ON{_WS}", q[pos:], re.I | re.S
        )
        if not tail:
            raise SQLParseError(f"cannot parse MERGE ON clause in {q!r}")
        salias = tail.group(1)
        talias, salias = talias or "t", salias or "s"
        rest = q[pos + tail.end():]
        return tname, talias, src, salias, rest

    def _merge(self, q: str) -> DataFrame:
        tname, talias, src, salias, rest = self._parse_merge_header(q)
        chunks = _split_top(rest, r"\bWHEN\b")
        on_cond = chunks[0].strip()
        keys = self._merge_keys(on_cond, talias, salias)

        when_matched = None
        matched_condition = None
        matched_cond_txt = None
        matched_second_delete = None  # (condition) for the Delta idiom
        insert_unmatched = False
        by_source = None
        by_source_cond = None
        for raw in chunks[1:]:
            cm = re.match(
                rf"\s*(NOT{_WS}MATCHED{_WS}BY{_WS}SOURCE"
                rf"|NOT{_WS}MATCHED(?:{_WS}BY{_WS}TARGET)?|MATCHED)"
                rf"(?:{_WS}AND{_WS}(.*?))?{_WS}THEN{_WS}(.*)$",
                raw, re.I | re.S,
            )
            if not cm:
                raise SQLParseError(f"cannot parse WHEN clause: {raw!r}")
            kind = re.sub(r"\s+", " ", cm.group(1).upper())
            cond = cm.group(2)
            action = cm.group(3).strip()
            cond_col = F.expr(self._alias_norm(cond, talias, salias)) \
                if cond else None
            act = self._merge_action(action, talias, salias)
            if kind == "MATCHED":
                if when_matched is None:
                    when_matched = act
                    matched_condition = cond_col
                    matched_cond_txt = (
                        self._alias_norm(cond, talias, salias)
                        if cond else None
                    )
                elif act == "delete" and isinstance(when_matched, dict):
                    # Delta idiom: UPDATE-with-condition then DELETE.
                    # Delta requires every non-final clause of a kind to
                    # carry a condition — an unconditional first UPDATE
                    # would leave the DELETE dead in Delta but, through
                    # the two-merge emulation, would instead delete
                    # every row it just updated. Reject, like Delta.
                    if matched_condition is None:
                        raise SQLParseError(
                            "WHEN MATCHED THEN UPDATE followed by WHEN "
                            "MATCHED THEN DELETE requires AND <cond> on "
                            "the UPDATE clause (Delta's non-final-"
                            "clause rule)"
                        )
                    # Executed as two merges, so both conditions must be
                    # SOURCE-ONLY expressions — a target-referencing
                    # first condition (t.-qualified OR a bare column
                    # that resolves against the target) would be
                    # re-evaluated against the already-updated rows in
                    # the second merge and could wrongly fire or
                    # suppress the delete
                    second_txt = (
                        self._alias_norm(cond, talias, salias)
                        if cond else None
                    )
                    for label, txt in (
                        ("first (UPDATE)", matched_cond_txt),
                        ("second (DELETE)", second_txt),
                    ):
                        if txt:
                            self._require_source_only(label, txt)
                    matched_second_delete = (cond_col,)
                else:
                    raise SQLParseError(
                        "only UPDATE-with-condition followed by DELETE "
                        "is supported as a second WHEN MATCHED clause"
                    )
            elif kind.startswith("NOT MATCHED BY SOURCE"):
                if act == "insert":
                    raise SQLParseError(
                        "WHEN NOT MATCHED BY SOURCE cannot INSERT"
                    )
                if act == "replace":
                    # there IS no source row to replace from — Delta
                    # only allows DELETE or an explicit UPDATE SET here
                    raise SQLParseError(
                        "WHEN NOT MATCHED BY SOURCE needs DELETE or an "
                        "explicit UPDATE SET col=expr (UPDATE SET * has "
                        "no source row to read)"
                    )
                by_source = act
                by_source_cond = cond_col
            else:  # NOT MATCHED (BY TARGET)
                if act != "insert":
                    raise SQLParseError(
                        "WHEN NOT MATCHED supports only INSERT *"
                    )
                if cond_col is not None:
                    raise SQLParseError(
                        "conditional NOT-MATCHED INSERT is not supported"
                    )
                insert_unmatched = True

        source_df = self._merge_source(src)
        path = self._path(tname)
        res = V.merge_table(
            self.spark, path, source_df, keys,
            when_matched=when_matched,
            matched_condition=matched_condition,
            # in the two-merge idiom the INSERT clause must ride the
            # SECOND merge: a NOT-MATCHED row inserted by the first
            # would be a MATCH for the second and its delete clause
            # could wrongly fire on it — Delta applies matched clauses
            # only to rows that matched at statement start
            insert_unmatched=(
                insert_unmatched and matched_second_delete is None
            ),
            when_not_matched_by_source=by_source,
            not_matched_by_source_condition=by_source_cond,
        )
        if matched_second_delete is not None:
            # the rows the conditional UPDATE skipped: delete those that
            # fire the second clause's condition (or all remaining
            # matches when unconditional) — Delta's two-clause order
            (dcond,) = matched_second_delete
            first = matched_condition
            neg = None
            if first is not None:
                neg = ~F.coalesce(first, F.lit(False))
            cond2 = neg if dcond is None else (
                dcond if neg is None else (neg & dcond)
            )
            # the two-merge emulation is TWO commits, not one atomic
            # statement: chain the CAS so a concurrent commit landing
            # between them conflicts loudly instead of letting the
            # delete evaluate against post-statement state. A crash
            # between the commits leaves the UPDATE applied and the
            # DELETE/INSERT pending — re-run the statement's remaining
            # clauses; both history entries are tagged MERGE.
            res2 = V.merge_table(
                self.spark, path, source_df, keys,
                when_matched="delete",
                matched_condition=cond2,
                insert_unmatched=insert_unmatched,
                expect_version=res["version"],
            )
            res = {**res, "second_delete": res2}
        return self._result(res)

    def _merge_keys(
        self, on_cond: str, talias: str, salias: str
    ) -> list[str]:
        keys = []
        for term in _split_top(on_cond, rf"\bAND\b"):
            tm = re.match(
                rf"\s*({_ID})\.({_ID})\s*=\s*({_ID})\.({_ID})\s*$",
                term,
            )
            if not tm:
                raise SQLParseError(
                    f"ON must be a conjunction of alias.col = alias.col "
                    f"equalities, got {term!r}"
                )
            a1, c1, a2, c2 = tm.groups()
            pair = {a1.lower(): c1, a2.lower(): c2}
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
        if not keys:
            raise SQLParseError("MERGE needs at least one ON equality")
        return keys

    def _merge_action(self, action: str, talias: str, salias: str):
        a = action.strip()
        if re.fullmatch(r"DELETE", a, re.I):
            return "delete"
        if re.fullmatch(r"INSERT\s*\*", a, re.I):
            return "insert"
        um = re.match(rf"UPDATE{_WS}SET{_WS}(.*)$", a, re.I | re.S)
        if um:
            body = um.group(1).strip()
            if body == "*":
                return "replace"
            return {
                col: F.expr(self._alias_norm_expr(expr, talias, salias))
                for col, expr in self._raw_assignments(body)
            }
        raise SQLParseError(f"unsupported merge action {action!r}")

    @staticmethod
    def _raw_assignments(sets: str) -> list[tuple[str, str]]:
        out = []
        for part in _split_top(sets, r","):
            am = re.match(
                rf"\s*(?:{_ID}\.)?({_ID})\s*=\s*(.*?)\s*$", part, re.S
            )
            if not am:
                raise SQLParseError(f"cannot parse assignment {part!r}")
            out.append((am.group(1), am.group(2)))
        return out

    # words that may legally appear unqualified in an idiom condition:
    # operators/predicates, literals, CASE machinery, and the cast/type
    # names — anything else unqualified is a column reference
    _COND_KEYWORDS = frozenset(
        """and or not in is null like ilike rlike between true false
        case when then else end as distinct from escape exists cast
        try_cast date timestamp interval int integer bigint smallint
        tinyint double float decimal numeric string varchar char
        boolean binary array map struct day days month months year
        years hour hours minute minutes second seconds week weeks
        quarter quarters millisecond milliseconds microsecond
        microseconds nanosecond nanoseconds
        current_date current_timestamp current_timezone now""".split()
    )

    @classmethod
    def _require_source_only(cls, label: str, txt: str) -> None:
        """The UPDATE+DELETE idiom's conditions must reference ONLY
        s.-qualified columns: the idiom executes as two merges, and the
        second re-evaluates both conditions against already-updated
        target rows. ``t.`` references are rejected, and so is any BARE
        identifier outside function names, keywords, and literals — an
        unqualified column that exists only on the target (e.g.
        ``WHEN MATCHED AND flag``) would pass a t.-only check yet still
        read the mutated target in the second merge."""
        # literals out first (same single-quote split as _select),
        # then drop the legal s.-qualified references
        body = "".join(
            seg
            for i, seg in enumerate(re.split(r"('(?:[^']|'')*')", txt))
            if i % 2 == 0
        )
        if re.search(r"\bt\.", body):
            raise SQLParseError(
                f"the {label} WHEN MATCHED condition in the "
                f"UPDATE+DELETE idiom must reference only source (s.) "
                f"columns, got {txt!r}"
            )
        # strip the whole dotted chain: s.meta.flag is one (legal)
        # source reference, not 's.meta' plus a bare 'flag'
        body = re.sub(rf"\bs\.{_ID}(?:\.{_ID})*", " ", body)
        for m in re.finditer(rf"\b({_ID})\b(\s*\()?", body):
            name, is_call = m.group(1), m.group(2)
            if is_call or name.lower() in cls._COND_KEYWORDS:
                continue
            raise SQLParseError(
                f"the {label} WHEN MATCHED condition in the "
                f"UPDATE+DELETE idiom must reference only source (s.) "
                f"columns; bare identifier {name!r} would resolve "
                f"against the already-updated target in the second "
                f"merge — qualify it as s.{name} (or restructure)"
            )

    @staticmethod
    def _alias_norm(expr: str | None, talias: str, salias: str) -> str:
        """merge_table's t/s alias contract: rewrite the statement's
        declared aliases to the canonical ``t.`` / ``s.`` prefixes in a
        SINGLE pass — sequential replace would corrupt a swapped or
        overlapping pair (``USING u AS t`` → its ``t.`` would be
        rewritten twice, silently reading the wrong side). Only
        NON-LITERAL segments are rewritten (the same single-quote
        split as _select pass 2): with target alias ``o``, an
        assignment like ``SET note = 'see o.admin'`` must keep its
        string literal intact, not silently become ``'see t.admin'``."""
        if expr is None:
            return expr
        mapping = {talias.lower(): "t", salias.lower(): "s"}
        pat = re.compile(
            rf"\b({re.escape(talias)}|{re.escape(salias)})\.", re.I
        )
        segments = re.split(r"('(?:[^']|'')*')", expr)
        return "".join(
            seg if i % 2
            else pat.sub(
                lambda m: mapping[m.group(1).lower()] + ".", seg
            )
            for i, seg in enumerate(segments)
        )

    def _alias_norm_expr(self, expr: str, talias: str, salias: str) -> str:
        return self._alias_norm(expr, talias, salias)

    def _merge_source(self, src: str) -> DataFrame:
        s = src.strip()
        if s.startswith("("):
            return self._select(s[1:-1].strip())
        return V.read_table(self.spark, self._path(s))

    # -- INSERT / CTAS / matview refresh ------------------------------

    def _insert(self, q: str) -> DataFrame:
        """``INSERT INTO t [(cols)] SELECT ...`` /
        ``INSERT INTO t [(cols)] VALUES (...), (...)`` — an append
        commit (constraints enforced, schema checked) via
        ``append_table``."""
        m = re.match(
            rf"INSERT{_WS}INTO{_WS}({_ID})"
            rf"(?:\s*\(([^)]*)\))?{_WS}(SELECT|WITH|VALUES)\b(.*)$",
            q, re.I | re.S,
        )
        if not m:
            raise SQLParseError(f"cannot parse INSERT: {q!r}")
        name, cols, kind, body = m.groups()
        path = self._path(name)
        tschema = {
            f.name: f.dataType
            for f in V.read_table(self.spark, path).schema.fields
        }
        if kind.upper() == "VALUES":
            df = self.spark.sql(f"SELECT * FROM (VALUES{body})")
            if cols:
                df = df.toDF(*[c.strip() for c in cols.split(",")])
            else:
                # positional: adopt the table's column names
                tcols = list(tschema)
                if len(df.columns) != len(tcols):
                    raise SQLParseError(
                        f"VALUES arity {len(df.columns)} != table arity "
                        f"{len(tcols)}; name the columns explicitly"
                    )
                df = df.toDF(*tcols)
        else:
            df = self._select(f"{kind}{body}")
            if cols:
                df = df.toDF(*[c.strip() for c in cols.split(",")])
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
            [c.strip() for c in _split_top(clustered, r",")]
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

    def _create_matview(self, name: str, path: str, select: str):
        from .io import matview as MV

        agg_fns = sorted(MV._SUPPORTED)  # one source of truth
        sm = re.match(
            rf"SELECT{_WS}(.*?){_WS}FROM{_WS}(.*?)"
            rf"{_WS}GROUP{_WS}BY{_WS}(.*)$",
            select.strip(), re.I | re.S,
        )
        if not sm:
            raise SQLParseError(
                "CREATE MATERIALIZED VIEW needs the shape SELECT "
                "<keys and aggs> FROM <fact> [JOIN <dim> ON <fact.k = "
                "dim.k> ...] GROUP BY <keys>: "
                f"{select!r}"
            )
        sel_list, from_clause, gb = sm.groups()
        src, dims, avail = self._parse_matview_from(from_clause)
        qualified_refs: dict[str, set[str]] = {}

        def _unqualify(item: str) -> str:
            # SQL users naturally qualify star columns (dim.region,
            # fact.amount); the maintenance layer joins by column NAME,
            # so a table-qualifier over a table in this FROM clause is
            # just notation — strip it (an UNKNOWN qualifier still
            # fails loud below). Qualified DIM references additionally
            # become that dim's projection list, so a dim column that
            # shares a name with a fact column never enters the join
            # unless asked for — qualify ALL references to a dim if
            # you qualify any (a half-qualified dim projects only the
            # qualified columns and the rest fail loud).
            qm = re.fullmatch(rf"({_ID})\.({_ID})", item)
            if qm and qm.group(1).lower() in avail:
                qualified_refs.setdefault(
                    qm.group(1).lower(), set()
                ).add(qm.group(2))
                return qm.group(2)
            return item

        group_by = [
            _unqualify(c.strip()) for c in _split_top(gb, r",")
        ]
        gb_lower = {c.lower() for c in group_by}
        aggs: dict[str, tuple[str, str | None]] = {}
        for item in _split_top(sel_list, r","):
            item = _unqualify(item.strip())
            if item.lower() in gb_lower:  # Spark resolution is
                continue                  # case-insensitive; match it
            am = re.match(
                rf"({'|'.join(agg_fns)})\s*\(\s*(\*|(?:{_ID}\.)?{_ID})"
                rf"\s*\){_WS}AS{_WS}({_ID})$",
                item, re.I,
            )
            if not am:
                raise SQLParseError(
                    f"matview select item must be a group key or "
                    f"fn(col) AS name with fn in {agg_fns}: "
                    f"{item!r}"
                )
            fn, col, out = am.groups()
            if out in aggs:
                raise SQLParseError(
                    f"duplicate aggregate alias {out!r} — each output "
                    f"column needs a distinct name"
                )
            aggs[out] = (
                fn.lower(), None if col == "*" else _unqualify(col)
            )
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

    def _parse_matview_from(self, from_clause: str):
        """Parse a matview's FROM clause — ``fact [JOIN dim ON <eq
        conjunction>]*`` — onto ``create_aggregate_view``'s ``dims``
        spec. Each ON term must be a same-named ``a.col = b.col``
        equality (the dim-join key contract — the fold joins by column
        NAME) where one side is the dim being joined and the other the
        fact or an earlier-joined dim (snowflake chains resolve left
        to right, same as the sequential broadcast fold). Each dim is
        pinned at its current version by create_aggregate_view;
        ``REFRESH ... EVOLVE`` folds later dim changes."""
        pieces = _split_top(from_clause, r"\bJOIN\b")
        fact = pieces[0].strip()
        if not re.fullmatch(_ID, fact):
            raise SQLParseError(
                f"matview FROM must start with a registered fact "
                f"table name, got {fact!r}"
            )
        dims: list[dict] = []
        avail = {fact.lower()}
        for piece in pieces[1:]:
            jm = re.match(
                rf"\s*({_ID}){_WS}ON{_WS}(.*)$", piece, re.I | re.S
            )
            if not jm:
                raise SQLParseError(
                    f"matview JOIN needs '<dim> ON <cond>': {piece!r}"
                )
            dname, cond = jm.groups()
            keys: list[str] = []
            for term in _split_top(cond, r"\bAND\b"):
                tm = re.match(
                    rf"\s*({_ID})\.({_ID})\s*=\s*({_ID})\.({_ID})\s*$",
                    term,
                )
                if not tm:
                    raise SQLParseError(
                        f"matview join ON must be a conjunction of "
                        f"name.col = name.col equalities, got {term!r}"
                    )
                a1, c1, a2, c2 = tm.groups()
                pair = {a1.lower(): c1, a2.lower(): c2}
                other = set(pair) - {dname.lower()}
                if dname.lower() not in pair or not other or not (
                    other <= avail
                ):
                    raise SQLParseError(
                        f"ON term {term!r} must join {dname} to the "
                        f"fact or an earlier-joined dim "
                        f"(available: {sorted(avail)})"
                    )
                if c1 != c2:
                    raise SQLParseError(
                        f"matview join keys must be same-named on both "
                        f"sides (got {term!r}); the incremental fold "
                        f"joins by column name — alias in a CTAS first"
                    )
                keys.append(pair[dname.lower()])
            if not keys:
                raise SQLParseError(
                    f"matview JOIN {dname} needs at least one ON "
                    f"equality"
                )
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
            df = V.read_table(self.spark, path)
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
                for f in df.schema.fields
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
            df = V.read_table(self.spark, path)
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in df.schema.fields
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
                else [c.strip() for c in _split_top(cols, r",")]
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
