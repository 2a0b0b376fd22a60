"""The closed-loop workloads. One client thread issues each op only after
the previous one finished.

- ``catalog_queries``: read-only catalog queries of two kinds. The
  relational mix (``ANALYTIC``) is dominated by per-stage driver and
  scheduler overhead at this scale and uses no Python workers; the
  LLM-data mix (``LLM``) crosses the Python-worker boundary and trains
  models eagerly on the driver.
- ``lake_ingest``: a write-heavy cycle over one versioned table built
  from ``orders``: streaming ingest of a landed delivery, MERGE, DV
  DELETE, snapshot and time-travel reads, a LakeSQL SELECT and an
  incremental matview refresh.

Query ops build their DataFrame through the public ``workload`` query functions
and execute it with a ``noop`` write, so every output row and column is
computed. Lake ops call the public functions of ``io.versioned``,
``io.matview``, ``lakesql`` and ``streaming``. Every output check runs
outside the timed region.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from . import datagen, verify

ANALYTIC = [
    "a1_top5_7day_sum",
    "agg_pricing_summary",
    "tpch_q5_regional_revenue",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
    "sessionize_30m",
]
LLM = [
    "dedup_minhash_lsh",
    "text_lm_perplexity",
    "dedup_semantic",
    "text_quality_model",
]
# the reads are short (0.15-0.45 s) and jittery, and leave the table as
# it is, so each cycle repeats them to give their medians more samples
READ_REPS = 3

# Rows-only queries have no SQL oracle: pinned row count and schema over
# the generated data at scale 0.01 (``datagen.GENERATOR_SEED``).
PINNED_SHAPES = {
    "dedup_minhash_lsh": {
        "rows": 26,
        "schema": ["id1:bigint", "id2:bigint", "jaccard:double"],
    },
    "dedup_semantic": {
        "rows": 500,
        "schema": ["id:bigint", "cluster:int", "keep:bigint", "dup_of:bigint"],
    },
    "text_quality_model": {
        "rows": 10,
        "schema": [
            "lang:string", "label:bigint", "n_docs:bigint", "n_agree:bigint",
            "mean_score:double",
        ],
    },
}


def pass_orders(names: list[str], seed: int, passes: int) -> list[list[str]]:
    """The op order of each measured pass: every name once per pass,
    shuffled by a generator drawn from ``seed``."""
    rng = random.Random(seed)
    order = []
    for _ in range(passes):
        p = list(names)
        rng.shuffle(p)
        order.append(p)
    return order


class QueryWorkload:
    """A fixed mix of catalog queries; a pass runs each once, in an order
    drawn from the seed."""

    def __init__(self, spark, data_dir: str, names: list[str], seed: int):
        from aws_etl_project2_fiap_spark.workload import CATALOG, COMPONENTS

        defs = {**CATALOG, **COMPONENTS}
        self.spark = spark
        self.data_dir = data_dir
        self.names = list(names)
        self.defs = {n: defs[n] for n in names}
        self.seed = seed
        self.expected: dict[str, dict] = {}
        self.verified: dict[str, bool] = {}

    def fixtures(self) -> None:
        """Expected outputs: oracle digests computed with DuckDB over the
        same files, and the pinned shapes of rows-only queries."""
        oracles = {n: d.oracle for n, d in self.defs.items() if d.oracle}
        self.expected = verify.oracle_digests(self.data_dir, oracles)
        for n in self.names:
            if n not in self.expected:
                self.expected[n] = PINNED_SHAPES[n]

    def warm_pass(self, errors: list[str]) -> None:
        """One pass over every query, checking each output."""
        for name in self.names:
            df = self.defs[name].spark(self.spark, self.data_dir)
            try:
                if "hash" in self.expected[name]:
                    verify.check_digest(
                        name, verify.spark_digest(df), self.expected[name]
                    )
                else:
                    verify.check_shape(name, df, self.expected[name])
                self.verified[name] = True
            except verify.OutputMismatch as exc:
                self.verified[name] = False
                errors.append(str(exc))

    def schedule(self, passes: int) -> list[list[str]]:
        return pass_orders(self.names, self.seed, passes)

    def run_op(self, name: str, tracer, op_id: str) -> None:
        with tracer.span("op", op=op_id, kind=name):
            with tracer.span("workload.build"):
                df = self.defs[name].spark(self.spark, self.data_dir)
            with tracer.span("spark.action"):
                df.write.format("noop").mode("overwrite").save()

    def op_ok(self, name: str) -> bool:
        return self.verified.get(name, False)

    def final_checks(self) -> list[str]:
        return []

    def space_amp(self) -> float:
        """Input bytes plus whatever scratch the engine's query functions left
        (``workload._scratch_dir`` dirs, prefix ``spark_graft_``) ÷ the
        inputs written once as plain parquet (one row group each)."""
        import pyarrow.parquet as pq

        tmp = os.environ["TMPDIR"]
        on_disk = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in datagen.TABLES
        ) + sum(
            _dir_bytes(os.path.join(tmp, d))
            for d in os.listdir(tmp) if d.startswith("spark_graft_")
        )
        plain = 0
        once = os.path.join(tmp, "plain.parquet")
        for t in datagen.TABLES:
            pq.write_table(pq.read_table(f"{self.data_dir}/{t}.parquet"), once)
            plain += os.path.getsize(once)
        os.remove(once)
        return on_disk / plain


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class LakeWorkload:
    """Writes beside reads on one versioned table built from ``orders``.

    A Python model of the table (key → row) is updated with every
    generated delivery, correction and delete; reads and row counts are
    checked against it outside the timed region."""

    def __init__(self, spark, data_dir: str, work: str, seed: int, cycles: int):
        import pyarrow.parquet as pq

        self.spark = spark
        self.data_dir = data_dir
        self.work = work
        self.base = pq.read_table(f"{data_dir}/orders.parquet").to_pandas()
        self.plan = datagen.lake_plan(seed, len(self.base), cycles)
        self.next_cycle = 0
        self.counters = _LakeCounters()

    # -- fixtures -------------------------------------------------------
    def fixtures(self) -> None:
        """A fresh table, its matview, LakeSQL binding and landing zone."""
        from aws_etl_project2_fiap_spark.io import matview as MV
        from aws_etl_project2_fiap_spark.io import versioned as V
        from aws_etl_project2_fiap_spark.lakesql import LakeSQL

        if os.path.exists(self.work):
            shutil.rmtree(self.work)
        os.makedirs(self.work)
        self.tbl = os.path.join(self.work, "orders_tbl")
        self.view = os.path.join(self.work, "orders_by_priority")
        self.landing = os.path.join(self.work, "landing")
        self.inputs = os.path.join(self.work, "inputs")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.landing)
        os.makedirs(self.inputs)
        orders = self.spark.read.parquet(f"{self.data_dir}/orders.parquet")
        self.schema = orders.schema
        V.create_table(orders.repartition(8), self.tbl)
        MV.create_aggregate_view(
            self.spark, self.tbl, self.view, ["o_orderpriority"],
            {"n": ("count", None), "total": ("sum", "o_totalprice")},
        )
        self.lake = LakeSQL(self.spark, {"orders_lake": self.tbl})
        self.state = {
            int(k): (float(p), str(s), d, str(pr))
            for k, p, s, d, pr in zip(
                self.base.o_orderkey, self.base.o_totalprice,
                self.base.o_orderstatus, self.base.o_orderdate,
                self.base.o_orderpriority,
            )
        }
        self.version_counts = {V.current_version(self.tbl): len(self.state)}

    def warm_pass(self, errors: list[str]) -> None:
        """One untimed cycle, so every verb has run once before timing."""
        from .trace import Tracer

        def record(kind, secs, ok, err):
            if err:
                errors.append(err)

        self.cycle(Tracer(False), "warm", record)

    # -- one cycle --------------------------------------------------------
    def cycle(self, tracer, op_prefix: str, record) -> None:
        """Run the next cycle: three writes, ``READ_REPS`` rounds of the
        three reads, one matview refresh. ``record(kind, seconds, ok,
        error)`` receives each op's latency and whether its output
        checked out."""
        from pyspark.sql import functions as F

        from aws_etl_project2_fiap_spark.io import matview as MV
        from aws_etl_project2_fiap_spark.io import versioned as V
        from aws_etl_project2_fiap_spark.streaming.sinks import versioned_sink
        from aws_etl_project2_fiap_spark.streaming.sources import file_source

        c = self.plan[self.next_cycle]
        self.next_cycle += 1
        n = c["cycle"]
        # land the delivery and stage the correction (producer side)
        dbytes = datagen.delivery_bytes(c["delivery"])
        with open(os.path.join(self.landing, f"delivery_{n:04d}.parquet"), "wb") as fh:
            fh.write(dbytes)
        cpath = os.path.join(self.inputs, f"correction_{n:04d}.parquet")
        cbytes = datagen.delivery_bytes(c["correction"])
        with open(cpath, "wb") as fh:
            fh.write(cbytes)
        if tracer.enabled:
            self.counters.input_bytes += len(dbytes) + len(cbytes)
        correction = self.spark.read.parquet(cpath)
        pred = (F.col("o_orderkey") % c["delete_mod"]) == c["delete_rem"]

        def op(kind, fn, check, rep=0):
            op_id = f"{op_prefix}{n}.{kind}.{rep}"
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op=op_id, kind=kind):
                    out = fn(tracer)
                secs = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - counted, reported
                record(kind, None, False, f"{op_id}: {exc!r}"[:300])
                return
            try:
                check(out)
                record(kind, secs, True, None)
            except verify.OutputMismatch as exc:
                record(kind, secs, False, str(exc))

        def ingest(tr):
            with tr.span("streaming.ingest"):
                with tr.span("streaming.start"):
                    q = versioned_sink(
                        file_source(self.spark, self.landing, self.schema),
                        self.tbl, self.ckpt, query_name="lake_ingest",
                        dedup_keys=["o_orderkey"],
                    )
                q.awaitTermination()
            return q.recentProgress

        def merge(tr):
            with tr.span("versioned.merge"):
                return V.merge_table(
                    self.spark, self.tbl, correction, ["o_orderkey"],
                    when_matched="replace", insert_unmatched=True,
                )

        def delete(tr):
            with tr.span("versioned.delete"):
                return V.delete_from(self.spark, self.tbl, pred, mode="dv")

        def snapshot(tr):
            with tr.span("versioned.read"):
                return V.read_table(self.spark, self.tbl).groupBy(
                    "o_orderpriority"
                ).agg(
                    F.count("*").alias("n"), F.sum("o_totalprice").alias("total")
                ).collect()

        back = min(c["travel_back"], len(self.version_counts) - 1)
        travel_v = sorted(self.version_counts)[-1 - back]

        def travel(tr):
            with tr.span("versioned.time_travel"):
                return V.read_table(self.spark, self.tbl, version=travel_v).count()

        sql = (
            "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM orders_lake WHERE o_orderdate >= '{c['since']}' "
            "GROUP BY o_orderstatus"
        )

        def lakesql(tr):
            with tr.span("lakesql.resolve"):
                df = self.lake.sql(sql)
            with tr.span("lakesql.exec"):
                return df.collect()

        def refresh(tr):
            with tr.span("matview.refresh"):
                return MV.refresh_aggregate_view(self.spark, self.view)

        # model updates mirror each write; checks compare table vs model
        def after_ingest(progress):
            if tracer.enabled:
                self.counters.progress(progress)
            for r in c["delivery"].to_pylist():
                if r["o_orderkey"] not in self.state:
                    self.state[r["o_orderkey"]] = _row(r)
            self._check_count("ingest")

        def after_merge(_):
            for r in c["correction"].to_pylist():
                self.state[r["o_orderkey"]] = _row(r)
            self._check_count("merge")

        def after_delete(_):
            for k in [k for k in self.state if k % c["delete_mod"] == c["delete_rem"]]:
                del self.state[k]
            self._check_count("delete")

        def check_snapshot(rows):
            want: dict[str, list] = {}
            for p, _, _, pr in self.state.values():
                w = want.setdefault(pr, [0, 0.0])
                w[0] += 1
                w[1] += p
            _check_groups("snapshot_read", rows, "o_orderpriority", want)

        def check_travel(n_rows):
            if n_rows != self.version_counts[travel_v]:
                raise verify.OutputMismatch(
                    f"time_travel v{travel_v}: {n_rows} rows, "
                    f"expected {self.version_counts[travel_v]}"
                )

        def check_sql(rows):
            want: dict[str, list] = {}
            for p, s, d, _ in self.state.values():
                if str(d)[:10] >= c["since"]:
                    w = want.setdefault(s, [0, 0.0])
                    w[0] += 1
                    w[1] += p
            _check_groups("lakesql_select", rows, "o_orderstatus", want)

        tracer_write = _DirDiff(self, tracer)
        op("ingest", tracer_write.wrap(ingest, "ingest"), after_ingest)
        op("merge", tracer_write.wrap(merge, "merge"), after_merge)
        op("delete", tracer_write.wrap(delete, "delete"), after_delete)
        for r in range(READ_REPS):
            op("snapshot_read", snapshot, check_snapshot, r)
            op("time_travel", travel, check_travel, r)
            op("lakesql_select", lakesql, check_sql, r)
        op("matview_refresh", tracer_write.wrap(refresh, "refresh"), lambda _: None)

    def _check_count(self, verb: str) -> None:
        from aws_etl_project2_fiap_spark.io import versioned as V

        v = V.current_version(self.tbl)
        self.version_counts[v] = len(self.state)
        got = V.table_count(self.tbl, version=v)
        if got != len(self.state):
            raise verify.OutputMismatch(
                f"{verb}: table has {got} rows at v{v}, expected {len(self.state)}"
            )

    # -- end-of-run checks ------------------------------------------------
    def final_checks(self) -> list[str]:
        """Final row count vs the seeded expectation, and the matview vs
        its definition recomputed over ``read_table``."""
        from pyspark.sql import functions as F

        from aws_etl_project2_fiap_spark.io import matview as MV
        from aws_etl_project2_fiap_spark.io import versioned as V

        errors = []
        n = V.read_table(self.spark, self.tbl).count()
        if n != len(self.state):
            errors.append(f"final: {n} rows, expected {len(self.state)}")
        view = {
            r["o_orderpriority"]: (r["n"], r["total"])
            for r in MV.read_aggregate_view(self.spark, self.view).collect()
        }
        recomputed = {
            r["o_orderpriority"]: (r["n"], r["total"])
            for r in V.read_table(self.spark, self.tbl).groupBy(
                "o_orderpriority"
            ).agg(
                F.count("*").alias("n"), F.sum("o_totalprice").alias("total")
            ).collect()
        }
        if set(view) != set(recomputed) or any(
            view[k][0] != recomputed[k][0]
            or abs(float(view[k][1]) - float(recomputed[k][1]))
            > 1e-6 * max(1.0, abs(float(recomputed[k][1])))
            for k in recomputed
        ):
            errors.append(f"matview {view} != recomputed {recomputed}")
        return errors

    def space_amp(self) -> float:
        """Bytes under the table and matview dirs ÷ bytes of the live
        snapshot written once as plain parquet."""
        from aws_etl_project2_fiap_spark.io import versioned as V

        once = os.path.join(self.work, "snapshot_once")
        V.read_table(self.spark, self.tbl).coalesce(1).write.parquet(once)
        plain = _dir_bytes(once)
        shutil.rmtree(once)
        return (_dir_bytes(self.tbl) + _dir_bytes(self.view)) / plain


def _row(r: dict) -> tuple:
    return (
        float(r["o_totalprice"]), str(r["o_orderstatus"]), r["o_orderdate"],
        str(r["o_orderpriority"]),
    )


def _check_groups(name: str, rows, key: str, want: dict) -> None:
    got = {r[key]: (r["n"], float(r["total"])) for r in rows}
    if set(got) != set(want):
        raise verify.OutputMismatch(f"{name}: groups {sorted(got)} != {sorted(want)}")
    for k, (n, total) in want.items():
        gn, gt = got[k]
        if gn != n or abs(gt - total) > 1e-6 * max(1.0, abs(total)):
            raise verify.OutputMismatch(
                f"{name}[{k}]: ({gn}, {gt}) != expected ({n}, {total})"
            )


class _LakeCounters:
    """Counts gathered around lake calls while tracing."""

    def __init__(self):
        self.input_bytes = 0
        self.files_added = 0
        self.files_removed = 0
        self.table_bytes = 0
        self.manifest_bytes = 0
        self.view_bytes = 0
        self.stream = {
            "trigger_ms": 0.0, "add_batch_ms": 0.0, "query_planning_ms": 0.0,
            "wal_commit_ms": 0.0, "input_rows": 0,
        }

    def progress(self, progress) -> None:
        for p in progress:
            d = p.durationMs or {}
            self.stream["trigger_ms"] += d.get("triggerExecution", 0)
            self.stream["add_batch_ms"] += d.get("addBatch", 0)
            self.stream["query_planning_ms"] += d.get("queryPlanning", 0)
            self.stream["wal_commit_ms"] += d.get("walCommit", 0)
            self.stream["input_rows"] += p.numInputRows or 0


class _DirDiff:
    """While tracing, diffs the table and view dirs around a write call:
    files and bytes added, live files removed, manifest bytes."""

    def __init__(self, wl: LakeWorkload, tracer):
        self.wl = wl
        self.on = tracer.enabled

    def wrap(self, fn, verb: str):
        if not self.on:
            return fn

        def run(tr):
            from aws_etl_project2_fiap_spark.io import versioned as V

            path = self.wl.view if verb == "refresh" else self.wl.tbl
            before = _dir_files(path)
            live0 = V.describe_table(self.wl.tbl)["num_files"]
            out = fn(tr)
            after = _dir_files(path)
            added = {p: s for p, s in after.items() if p not in before}
            new_bytes = sum(added.values())
            if verb == "refresh":
                self.wl.counters.view_bytes += new_bytes
                return out
            live1 = V.describe_table(self.wl.tbl)["num_files"]
            data_added = sum(
                1 for p in added
                if p.endswith(".parquet") and "_manifests" not in p
            )
            c = self.wl.counters
            c.files_added += data_added
            c.files_removed += max(0, data_added - (live1 - live0))
            c.table_bytes += new_bytes
            c.manifest_bytes += sum(
                s for p, s in added.items() if "_manifests" in p
            )
            return out

        return run
