"""Phase-3 streaming tests (SURVEY §2.9 T1–T3 + event-time upgrades).

Strategy: drive every pipeline through a real Structured Streaming query
using the file source + ``availableNow`` (deterministic, no sleeps), and
check results against the same transformation run in batch mode —
Spark's unified semantics make the batch plan the oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_etl_project2_fiap_spark.streaming import (
    dedup_ticks,
    file_source,
    parse_firehose_records,
    process_available_files,
    stateful_running_stats,
    tumbling_window_agg,
)
from aws_etl_project2_fiap_spark.streaming.sources import TICK_SCHEMA, tick_source


def _write_ticks(spark, path: str, rows: list[tuple[str, float]]) -> None:
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], ["data_hora_s", "preco_brl"]
    ).select(
        F.to_timestamp("data_hora_s").alias("data_hora"),
        F.col("preco_brl").cast("double"),
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _no_protobuf() -> bool:
    """transformWithStateInPandas talks to the JVM state server over
    protobuf-generated Python messages (pyspark.sql.streaming.proto),
    which need the google.protobuf RUNTIME — a third-party package
    pyspark only declares as an optional extra.

    Closing this skip was attempted (round 11): the container has no
    google.protobuf anywhere on disk (only typeshed stubs), ships no
    wheel to vendor, package installation is environment policy-barred,
    and hand-writing a functional protobuf runtime (descriptor pool,
    wire format) is out of scope and wrong to ship. The test body
    stays, runs the moment the dependency exists, and its SEMANTICS
    never skip: test_stateful_price_alerts_batch_ratchet is the
    differential twin over the same operator, and
    stream_price_alerts_portable hash-gates the ratchet against a
    DuckDB recursive-CTE oracle every round."""
    try:
        import google.protobuf  # noqa: F401
        return False
    except ImportError:
        return True


TICKS = [
    ("2025-08-01 10:00:00", 100.0),
    ("2025-08-01 10:20:00", 110.0),
    ("2025-08-01 10:40:00", 120.0),
    ("2025-08-01 11:05:00", 130.0),
    ("2025-08-01 11:30:00", 90.0),
    ("2025-08-01 12:10:00", 95.0),
]


def test_t3_available_now_exactly_once(spark, tmp_path):
    """File-arrival batch-per-drop: each invocation drains only new files."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_ticks(spark, landing, TICKS[:4])
    src = file_source(spark, landing, TICK_SCHEMA)
    assert src.isStreaming
    process_available_files(src, out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == 4

    # re-run with no new files: checkpoint prevents reprocessing
    process_available_files(
        file_source(spark, landing, TICK_SCHEMA), out, ckpt
    ).awaitTermination()
    assert spark.read.parquet(out).count() == 4

    # drop two more files → only they are processed
    _write_ticks(spark, landing, TICKS[4:])
    process_available_files(
        file_source(spark, landing, TICK_SCHEMA), out, ckpt
    ).awaitTermination()
    assert spark.read.parquet(out).count() == 6


def test_t2_partitioned_sink_layout(spark, tmp_path):
    """The streaming sink writes the same Hive layout as the batch side."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    _write_ticks(spark, landing, TICKS)
    src = file_source(spark, landing, TICK_SCHEMA).select(
        "*",
        F.year("data_hora").alias("ano"),
        F.month("data_hora").alias("mes"),
        F.dayofmonth("data_hora").alias("dia"),
    )
    process_available_files(
        src, out, str(tmp_path / "ckpt"), partition_by=["ano", "mes", "dia"]
    ).awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == len(TICKS)
    assert {"ano", "mes", "dia"} <= set(got.columns)
    assert (tmp_path / "out" / "ano=2025" / "mes=8" / "dia=1").exists()


def test_tumbling_window_stream_matches_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_ticks(spark, landing, TICKS)

    agg = tumbling_window_agg(file_source(spark, landing, TICK_SCHEMA))
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.window_start.isoformat(), r.low, r.high, r.n_ticks)
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    batch = {
        (r.window_start.isoformat(), r.low, r.high, r.n_ticks)
        for r in tumbling_window_agg(spark.read.parquet(landing)).collect()
    }
    assert streamed == batch
    assert len(batch) == 3  # 10:00, 11:00, 12:00 windows


def test_streaming_dedup_drops_replays(spark, tmp_path):
    """At-least-once landing (same file content twice) → effectively-once."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    _write_ticks(spark, landing, TICKS)
    _write_ticks(spark, landing, TICKS)  # replay: second copy of every tick
    assert spark.read.parquet(landing).count() == 12

    src = dedup_ticks(file_source(spark, landing, TICK_SCHEMA))
    process_available_files(src, out, str(tmp_path / "ckpt")).awaitTermination()
    assert spark.read.parquet(out).count() == len(TICKS)


def test_stateful_running_stats_stream_matches_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    rows = [
        ("2025-08-01 10:00:00", "BTC", 100.0),
        ("2025-08-01 10:01:00", "BTC", 110.0),
        ("2025-08-01 10:02:00", "BTC", 120.0),
        ("2025-08-01 10:00:30", "ETH", 10.0),
        ("2025-08-01 10:01:30", "ETH", 30.0),
    ]
    schema = T.StructType(
        [
            T.StructField("data_hora", T.TimestampType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("preco_brl", T.DoubleType()),
        ]
    )
    spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows], ["ts_s", "symbol", "preco_brl"]
    ).select(
        F.to_timestamp("ts_s").alias("data_hora"), "symbol", "preco_brl"
    ).coalesce(1).write.parquet(landing)

    stats = stateful_running_stats(file_source(spark, landing, schema))
    q = (
        stats.writeStream.format("memory")
        .queryName("stats_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r.key: (r.n, round(r.mean, 6), round(r.variance, 6), r.last_price)
        for r in spark.sql(
            "SELECT key, n, mean, variance, last_price FROM stats_test"
        ).collect()
    }
    batch = {
        r.key: (r.n, round(r.mean, 6), round(r.variance, 6), r.last_price)
        for r in stateful_running_stats(spark.read.parquet(landing)).collect()
    }
    assert streamed == batch
    assert streamed["BTC"][0] == 3 and streamed["ETH"][0] == 2


def test_parse_firehose_records(spark):
    raw = spark.createDataFrame(
        [
            ('{"timestamp": "2025-08-01 10:00:00", "price": 600000.5}',),
            ('{"timestamp": "2025-08-01 10:00:01", "price": 600001.0}',),
            ("not json at all",),
        ],
        ["value"],
    )
    got = parse_firehose_records(raw).collect()
    assert len(got) == 3
    parsed = [r for r in got if r.preco_brl is not None]
    assert len(parsed) == 2
    assert parsed[0].data_hora.isoformat() == "2025-08-01T10:00:00"


def test_t1_tick_source_shape(spark):
    """Rate-paced tick source: streaming, correct schema, deterministic
    price expression (checked via the batch form of the same column)."""
    src = tick_source(spark, rows_per_second=5)
    assert src.isStreaming
    assert [f.name for f in src.schema.fields] == ["data_hora", "preco_brl"]
    assert isinstance(src.schema["preco_brl"].dataType, T.DoubleType)

    from aws_etl_project2_fiap_spark.streaming.sources import synthetic_price

    a = spark.range(100).select(synthetic_price(F.col("id")).alias("p")).collect()
    b = spark.range(100).select(synthetic_price(F.col("id")).alias("p")).collect()
    assert a == b  # reproducible
    prices = [r.p for r in a]
    assert all(590_000 < p < 610_000 for p in prices)


def test_sliding_window_stream_matches_batch(spark, tmp_path):
    from aws_etl_project2_fiap_spark.streaming import sliding_window_agg

    landing = str(tmp_path / "landing")
    _write_ticks(spark, landing, TICKS)
    agg = sliding_window_agg(
        file_source(spark, landing, TICK_SCHEMA), window="40 minutes", slide="20 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.window_start.isoformat(), round(r.moving_avg, 6), r.n_ticks)
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    batch = {
        (r.window_start.isoformat(), round(r.moving_avg, 6), r.n_ticks)
        for r in sliding_window_agg(
            spark.read.parquet(landing), window="40 minutes", slide="20 minutes"
        ).collect()
    }
    assert streamed == batch
    # overlapping windows: every tick appears in window/slide = 2 windows
    total_ticks = sum(n for _, _, n in batch)
    assert total_ticks == 2 * len(TICKS)


def test_t2_processing_time_trigger_sink(spark, tmp_path):
    """buffered_parquet_sink: the 60s-buffer semantics on a 1s trigger —
    drain all available input, then stop (processAllAvailable makes the
    test deterministic, no sleeps)."""
    from aws_etl_project2_fiap_spark.streaming import buffered_parquet_sink

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    _write_ticks(spark, landing, TICKS)
    q = buffered_parquet_sink(
        file_source(spark, landing, TICK_SCHEMA),
        out,
        str(tmp_path / "ckpt"),
        trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == len(TICKS)


def test_custom_tick_datasource_batch(spark):
    """Spark-4 Python DataSource, batch form: format('b3_ticks')."""
    from aws_etl_project2_fiap_spark.streaming.datasource import TickDataSource

    spark.dataSource.register(TickDataSource)
    df = spark.read.format("b3_ticks").option("n_ticks", "500").load()
    assert df.count() == 500
    rows = df.orderBy("data_hora").limit(2).collect()
    assert rows[0].data_hora.isoformat() == "2025-08-01T00:00:00"
    assert rows[1].data_hora.isoformat() == "2025-08-01T00:00:01"
    # deterministic: same read twice
    again = spark.read.format("b3_ticks").option("n_ticks", "500").load()
    assert df.exceptAll(again).count() == 0


def test_custom_tick_datasource_stream(spark, tmp_path):
    """Streaming form: offsets advance per micro-batch; a second run from
    the same checkpoint resumes at the committed offset (exactly-once)."""
    from aws_etl_project2_fiap_spark.streaming.datasource import TickDataSource

    spark.dataSource.register(TickDataSource)
    src = (
        spark.readStream.format("b3_ticks")
        .option("ticks_per_batch", "25")
        .load()
    )
    assert src.isStreaming
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        src.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 >= 25 and n1 % 25 == 0

    # resume: offsets continue, no tick is re-emitted
    q2 = (
        spark.readStream.format("b3_ticks")
        .option("ticks_per_batch", "25")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    back = spark.read.parquet(out)
    assert back.count() > n1
    assert back.groupBy("data_hora").count().filter("count > 1").count() == 0


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream⋈stream interval join == the batch interval
    join on the same data (purchases matched to same-user views within
    the preceding hour)."""
    from aws_etl_project2_fiap_spark.streaming.pipelines import (
        stream_stream_interval_join,
    )

    p_dir, v_dir = str(tmp_path / "purchases"), str(tmp_path / "views")
    purchases = [
        ("u1", "2025-08-01 10:30:00", 100.0),
        ("u1", "2025-08-01 12:00:00", 200.0),
        ("u2", "2025-08-01 10:45:00", 300.0),
    ]
    views = [
        ("u1", "2025-08-01 10:00:00", 1.0),   # in window of p1 only
        ("u1", "2025-08-01 10:29:00", 2.0),   # in window of p1 only
        ("u1", "2025-08-01 11:30:00", 3.0),   # in window of p2 only
        ("u2", "2025-08-01 09:00:00", 4.0),   # too old for p3
    ]
    schema_l = T.StructType(
        [T.StructField("user_id", T.StringType()),
         T.StructField("ts", T.TimestampType()),
         T.StructField("amount", T.DoubleType())]
    )
    schema_r = T.StructType(
        [T.StructField("user_id_r", T.StringType()),
         T.StructField("ts_r", T.TimestampType()),
         T.StructField("vval", T.DoubleType())]
    )
    spark.createDataFrame(purchases, ["user_id", "s", "amount"]).select(
        "user_id", F.to_timestamp("s").alias("ts"), "amount"
    ).coalesce(1).write.parquet(p_dir)
    spark.createDataFrame(views, ["user_id_r", "s", "vval"]).select(
        "user_id_r", F.to_timestamp("s").alias("ts_r"), "vval"
    ).coalesce(1).write.parquet(v_dir)

    joined = stream_stream_interval_join(
        file_source(spark, p_dir, schema_l),
        file_source(spark, v_dir, schema_r),
        key="user_id",
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.amount, r.vval)
        for r in spark.sql("SELECT user_id, amount, vval FROM ssj_test").collect()
    }
    assert got == {("u1", 100.0, 1.0), ("u1", 100.0, 2.0), ("u1", 200.0, 3.0)}


def test_btc_run_stream_end_to_end(spark, tmp_path):
    """plans.btc.run_stream: custom source → tumbling OHLC → parquet.
    Append mode emits only watermark-closed windows; draining several
    batches closes the early minutes deterministically."""
    from aws_etl_project2_fiap_spark.plans import btc

    out = str(tmp_path / "ohlc")
    ckpt = str(tmp_path / "ckpt")
    # 60 ticks/batch at 1 tick/s: 6 invocations = 6 minutes of stream.
    # Append emits a window only once watermark (which lags one batch)
    # passes its end: first window closes on invocation 5.
    for _ in range(6):
        btc.run_stream(spark, out, ckpt, ticks_per_batch=60).awaitTermination()
    got = spark.read.parquet(out)
    rows = {r.window_start.isoformat(): r for r in got.collect()}
    assert len(rows) >= 2
    first = rows["2025-08-01T00:00:00"]
    assert first.n_ticks == 60
    assert first.low <= first.avg_price <= first.high


def test_dedup_within_watermark_for_non_ts_keys(spark, tmp_path):
    """Dedup keys without the event-time column use
    dropDuplicatesWithinWatermark (state stays bounded)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    rows = [
        ("2025-08-01 10:00:00", 100.0),
        ("2025-08-01 10:00:05", 100.0),  # same price, later ts → dup by price
        ("2025-08-01 10:01:00", 110.0),
    ]
    _write_ticks(spark, landing, rows)
    src = dedup_ticks(
        file_source(spark, landing, TICK_SCHEMA), keys=["preco_brl"]
    )
    process_available_files(src, out, str(tmp_path / "ckpt")).awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert {r.preco_brl for r in got.collect()} == {100.0, 110.0}


def test_price_alert_batch_ratchet(spark):
    """The batch ratchet path of stateful_price_alerts: anchors move
    only on emitted alerts, so a monotone 4%-step series emits every
    OTHER step at pct=5% (4% < 5% but 8.16% compounded >= 5%)."""
    from aws_etl_project2_fiap_spark.streaming import stateful_price_alerts

    prices = [100.0]
    for _ in range(6):
        prices.append(round(prices[-1] * 1.04, 6))
    rows = [
        (f"2025-08-01 10:{i:02d}:00", p, "BTC") for i, p in enumerate(prices)
    ]
    df = spark.createDataFrame(
        rows, ["s", "preco_brl", "symbol"]
    ).select(
        F.to_timestamp("s").alias("data_hora"), "preco_brl", "symbol"
    )
    out = stateful_price_alerts(df, pct=0.05).orderBy("ts").collect()
    # emitted at steps 2, 4, 6 (each ~8.16% above the previous anchor)
    assert [r.price for r in out] == [prices[2], prices[4], prices[6]]
    assert all(abs(r.move_pct - 0.0816) < 1e-4 for r in out)


@pytest.mark.skipif(
    _no_protobuf(),
    reason="transformWithStateInPandas needs protobuf (absent here)",
)
def test_transform_with_state_price_alerts(spark, tmp_path):
    """stateful_price_alerts via transformWithStateInPandas (the Spark-4
    StatefulProcessor API; needs the RocksDB state store).

    Two checks: (a) one availableNow pass over all ticks equals the
    batch applyInPandas ratchet (unified-semantics differential); (b) a
    checkpointed SECOND run over newly-arrived files continues from the
    persisted anchor — the alert stream across both runs equals the
    batch result over the full data, proving the value state survives
    query restarts."""
    from aws_etl_project2_fiap_spark.streaming import stateful_price_alerts

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "alerts")
    ck = str(tmp_path / "ck")
    schema = "data_hora timestamp, preco_brl double, symbol string"

    first = [(t, p) for t, p in TICKS[:4]]
    second = [(t, p) for t, p in TICKS[4:]]

    def write_batch(rows):
        df = spark.createDataFrame(
            rows, ["data_hora_s", "preco_brl"]
        ).select(
            F.to_timestamp("data_hora_s").alias("data_hora"),
            F.col("preco_brl").cast("double"),
            F.lit("BTC").alias("symbol"),
        )
        df.coalesce(1).write.mode("append").parquet(landing)

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        def run_once():
            q = (
                stateful_price_alerts(
                    file_source(spark, landing, schema), pct=0.05
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        write_batch(first)
        run_once()
        write_batch(second)
        run_once()
    finally:
        if prev_provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    batch = stateful_price_alerts(spark.read.parquet(landing), pct=0.05)
    batch_rows = sorted(
        (r.key, r.ts, r.price, r.anchor, r.move_pct) for r in batch.collect()
    )
    stream_rows = sorted(
        (r.key, r.ts, r.price, r.anchor, r.move_pct)
        for r in spark.read.parquet(out).collect()
    )
    assert len(batch_rows) > 0  # the fixture ticks do cross 5%
    assert stream_rows == batch_rows


def test_late_data_beyond_watermark_is_dropped(spark, tmp_path):
    """The state-bounding contract itself: an event arriving AFTER the
    watermark has passed its window must be dropped, not re-open the
    closed window. Run 1 advances the watermark well past the 10:00
    hour; run 2 delivers a 10:10 straggler; the 10:00 window's count
    must not change and no duplicate window row may appear."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "agg")
    ck = str(tmp_path / "ck")
    schema = "data_hora timestamp, preco_brl double"

    def run_once():
        q = (
            tumbling_window_agg(
                file_source(spark, landing, schema), watermark="10 minutes"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: three 10:xx events + a 13:00 event -> watermark ends far
    # past 11:00, so the 10:00 window is emitted and closed
    _write_ticks(spark, landing, [
        ("2025-08-01 10:00:00", 100.0),
        ("2025-08-01 10:20:00", 110.0),
        ("2025-08-01 10:40:00", 120.0),
        ("2025-08-01 13:00:00", 500.0),
    ])
    run_once()
    # second drain: the closed windows emit now that watermark passed
    run_once()
    first = {
        r.window_start: r.n_ticks for r in spark.read.parquet(out).collect()
    }
    assert any(ws.hour == 10 for ws in first), first
    n_10 = {ws: n for ws, n in first.items() if ws.hour == 10}

    # run 2: a straggler INSIDE the already-closed 10:00 hour
    _write_ticks(spark, landing, [("2025-08-01 10:10:00", 999.0)])
    run_once()
    run_once()
    after = [
        (r.window_start, r.n_ticks)
        for r in spark.read.parquet(out).collect()
        if r.window_start.hour == 10
    ]
    # exactly the original 10:00 rows, original counts — no re-emit
    assert sorted(after) == sorted(n_10.items()), (after, n_10)


def test_versioned_sink_commits_batches_with_time_travel(spark, tmp_path):
    """Streaming appends land as versioned-table commits: each drop is
    one version, history time-travels, and a checkpointed re-run with
    no new files commits nothing (replay guard)."""
    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.streaming.sinks import versioned_sink

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_ticks(spark, landing, TICKS[:4])
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table, ckpt
    ).awaitTermination()
    assert V.current_version(table) == 1
    assert V.read_table(spark, table).count() == 4

    # no new files: the run commits nothing
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table, ckpt
    ).awaitTermination()
    assert V.current_version(table) == 1

    # second drop: one more commit; v1 still reads the first delivery
    _write_ticks(spark, landing, TICKS[4:])
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table, ckpt
    ).awaitTermination()
    assert V.current_version(table) == 2
    assert V.read_table(spark, table).count() == 6
    assert V.read_table(spark, table, version=1).count() == 4
    # every commit carries its stream batch id
    assert len(V.committed_batch_ids(table)) == 2


def _sink_rig(sink, spark, tmp_path):
    """Land one delivery for ``sink``. Returns ``start(checkpoint)``
    (one availableNow drain into ``tmp_path/table``), every table the
    sink commits to (``table`` first) and the rows ``table`` holds
    after the delivery, by id."""
    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.streaming import sinks as S
    from aws_etl_project2_fiap_spark.streaming.table_source import (
        VersionedTableDataSource,
    )

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    if sink == "versioned_sink":
        _write_ticks(spark, landing, TICKS[:4])
        rows = {r[0]: r[1] for r in spark.read.parquet(landing).collect()}

        def start(ck):
            return S.versioned_sink(
                file_source(spark, landing, TICK_SCHEMA), table, ck
            )
        return start, [table], rows
    if sink in ("cdc_apply_sink", "enriched_versioned_sink"):
        _drop_cdc(spark, landing, [(1, 10.0, 1, "c"), (2, 20.0, 1, "c")])
        rows = {1: 10.0, 2: 20.0}
        dim = str(tmp_path / "dim")
        if sink == "enriched_versioned_sink":
            V.create_table(
                spark.createDataFrame([(1, "gold")], "id long, tier string"),
                dim,
            )

        def start(ck):
            src = file_source(spark, landing, CDC_SCHEMA)
            if sink == "cdc_apply_sink":
                return S.cdc_apply_sink(
                    src, table, ["id"], ck, order_col="seq"
                )
            return S.enriched_versioned_sink(src, dim, ["id"], table, ck)
        return start, [table], rows
    if sink == "cdf_replica_sink":
        src = str(tmp_path / "src")
        V.create_table(spark.range(5).selectExpr("id", "id * 1.0 AS v"), src)
        spark.dataSource.register(VersionedTableDataSource)
        rows = {i: float(i) for i in range(5)}

        def start(ck):
            feed = (
                spark.readStream.format("versioned_table")
                .option("path", src).option("feed", "cdc").load()
            )
            return S.cdf_replica_sink(feed, table, ["id"], ck)
        return start, [table], rows
    assert sink == "near_dup_gated_sink"
    index = str(tmp_path / "index")
    docs = {
        1: "the quick brown fox jumps over the lazy dog near the river",
        2: "completely different content about manifests and parquet",
    }
    spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    ).write.parquet(landing)

    def start(ck):
        src = spark.readStream.schema("doc_id long, text string").parquet(
            landing
        )
        return S.near_dup_gated_sink(src, table, index, ck)
    return start, [table, index], docs


def _rows(spark, table):
    from aws_etl_project2_fiap_spark.io import versioned as V

    return {r[0]: r[1] for r in V.read_table(spark, table).collect()}


@pytest.mark.parametrize("sink", [
    "versioned_sink", "cdc_apply_sink", "enriched_versioned_sink",
    "cdf_replica_sink", "near_dup_gated_sink",
])
def test_sink_replay_guard_skips_committed_batch(spark, tmp_path, sink):
    """A re-delivered batch id must not commit again: the batch ids the
    manifest records are the guard, independent of the checkpoint (no
    new version, no double append, no resurrection)."""
    from aws_etl_project2_fiap_spark.io import versioned as V

    start, tables, rows = _sink_rig(sink, spark, tmp_path)
    start(str(tmp_path / "c1")).awaitTermination()
    assert [V.current_version(t) for t in tables] == [1] * len(tables)
    assert V.read_table(spark, tables[0]).count() == len(rows)
    assert _rows(spark, tables[0]) == rows

    # simulate a checkpoint loss: same files replay as the same batch id
    start(str(tmp_path / "c2")).awaitTermination()
    assert [V.current_version(t) for t in tables] == [1] * len(tables)
    assert V.read_table(spark, tables[0]).count() == len(rows)
    assert _rows(spark, tables[0]) == rows


@pytest.mark.parametrize("sink", ["cdc_apply_sink", "cdf_replica_sink"])
def test_op_sink_lands_on_a_racing_create(spark, tmp_path, monkeypatch, sink):
    """Another writer creates the table between the sink's pointer
    check and its own create, which then raises FileExistsError: the
    batch retries and merges on top of the racer's rows, in one more
    commit that carries its batch id."""
    from aws_etl_project2_fiap_spark.io import versioned as V

    start, (table,), rows = _sink_rig(sink, spark, tmp_path)
    racer = (
        spark.createDataFrame([(99, 9.9, 0)], "id long, v double, seq long")
        if sink == "cdc_apply_sink"
        else spark.createDataFrame([(99, 9.9)], "id long, v double")
    )
    real_create = V.create_table

    def racing_create(df, path, *a, **kw):
        monkeypatch.setattr(V, "create_table", real_create)  # race once
        real_create(racer, path)  # the other writer's v1 lands first
        return real_create(df, path, *a, **kw)

    monkeypatch.setattr(V, "create_table", racing_create)
    start(str(tmp_path / "c1")).awaitTermination()
    assert V.create_table is real_create  # the race really fired
    assert _rows(spark, table) == {99: 9.9, **rows}
    assert V.current_version(table) == 2
    assert V.version_of_batch(table, 0) == 2


def test_versioned_sink_quality_gate_quarantines_bad_batches(spark, tmp_path):
    """A delivery violating an expectation must divert to quarantine —
    never into committed history — while clean deliveries commit."""
    from pyspark.sql import functions as F2

    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.operators import quality as q
    from aws_etl_project2_fiap_spark.streaming.sinks import versioned_sink

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    quarantine = str(tmp_path / "bad")
    rules = {"price_positive": q.violations(F2.col("preco_brl") > 0)}

    _write_ticks(spark, landing, TICKS[:4])
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table, str(tmp_path / "c1"),
        rules=rules, quarantine_path=quarantine,
    ).awaitTermination()
    assert V.read_table(spark, table).count() == 4  # clean batch commits

    # a poisoned delivery: negative price
    _write_ticks(spark, landing, [("2025-08-01 13:00:00", -5.0)])
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table, str(tmp_path / "c1"),
        rules=rules, quarantine_path=quarantine,
    ).awaitTermination()
    assert V.current_version(table) == 1  # nothing committed
    assert V.read_table(spark, table).count() == 4
    bad = spark.read.parquet(f"{quarantine}/batch_*")
    assert bad.count() == 1 and bad.collect()[0]["preco_brl"] == -5.0


def test_versioned_sink_retries_on_commit_conflict(spark, tmp_path, monkeypatch):
    """A concurrent OPTIMIZE/UPDATE that flips the pointer between the
    sink's snapshot read and its commit raises CommitConflict; the sink
    must re-read and retry the append, not fail the batch (appends are
    safe to retry — nothing committed)."""
    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.streaming.sinks import versioned_sink

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")

    _write_ticks(spark, landing, TICKS[:4])
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table, str(tmp_path / "c1")
    ).awaitTermination()
    assert V.current_version(table) == 1

    real_append = V.append_table
    fired = {}

    def conflicting_append(df, path, extra=None, **kw):
        if not fired.get("done"):
            fired["done"] = True
            raise V.CommitConflict("simulated concurrent commit")
        return real_append(df, path, extra, **kw)

    monkeypatch.setattr(V, "append_table", conflicting_append)
    _write_ticks(spark, landing, TICKS[4:])
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table, str(tmp_path / "c1")
    ).awaitTermination()
    assert fired.get("done")  # the conflict really fired
    assert V.current_version(table) == 2  # ...and the retry committed
    assert V.read_table(spark, table).count() == 6


def test_stateful_ewma_stream_matches_batch(spark, tmp_path):
    """Streaming EWMA (applyInPandasWithState) equals the exact batch
    recurrence when the whole landing is one availableNow run."""
    from aws_etl_project2_fiap_spark.streaming.pipelines import stateful_ewma

    landing = str(tmp_path / "landing")
    rows = [
        ("2025-08-01 10:00:00", "BTC", 100.0),
        ("2025-08-01 10:01:00", "BTC", 110.0),
        ("2025-08-01 10:02:00", "BTC", 120.0),
        ("2025-08-01 10:00:30", "ETH", 10.0),
        ("2025-08-01 10:01:30", "ETH", 30.0),
    ]
    schema = T.StructType(
        [
            T.StructField("data_hora", T.TimestampType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("preco_brl", T.DoubleType()),
        ]
    )
    spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows], ["ts_s", "symbol", "preco_brl"]
    ).select(
        F.to_timestamp("ts_s").alias("data_hora"), "symbol", "preco_brl"
    ).coalesce(1).write.parquet(landing)

    out = stateful_ewma(file_source(spark, landing, schema))
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r.key: (r.n, round(r.ewma, 9))
        for r in spark.sql("SELECT key, n, ewma FROM ewma_test").collect()
    }
    batch = {
        r.key: (r.n, round(r.ewma, 9))
        for r in stateful_ewma(spark.read.parquet(landing)).collect()
    }
    assert streamed == batch
    # hand-checked recurrence: BTC 100 -> 102 -> 105.6
    assert streamed["BTC"] == (3, round(0.2 * 120.0 + 0.8 * (0.2 * 110.0 + 0.8 * 100.0), 9))


def test_versioned_sink_dedup_keys_content_idempotent(spark, tmp_path):
    """dedup_keys: re-delivered and overlapping drops never commit the
    same key twice; in-batch dup keys keep one row; all-dup batches
    commit nothing (no empty version)."""
    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.streaming.sinks import versioned_sink

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")

    _write_ticks(spark, landing, TICKS[:4] + TICKS[:2])  # in-drop dups
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table,
        str(tmp_path / "c1"), dedup_keys=["data_hora"],
        bloom_cols=["preco_brl"],
    ).awaitTermination()
    assert V.read_table(spark, table).count() == 4  # in-batch dups dropped
    v1 = V.current_version(table)

    # overlapping second drop: 2 already-committed + 2 novel
    _write_ticks(spark, landing, TICKS[2:])
    versioned_sink(
        file_source(spark, landing, TICK_SCHEMA), table,
        str(tmp_path / "c1"), dedup_keys=["data_hora"],
    ).awaitTermination()
    out = V.read_table(spark, table)
    assert out.count() == len(TICKS)  # each tick exactly once
    assert out.select("data_hora").distinct().count() == len(TICKS)

    # pure re-delivery (fresh checkpoint so batch-id dedup can't save us)
    _write_ticks(spark, str(tmp_path / "landing2"), TICKS)
    versioned_sink(
        file_source(spark, str(tmp_path / "landing2"), TICK_SCHEMA), table,
        str(tmp_path / "c2"), dedup_keys=["data_hora"],
    ).awaitTermination()
    assert V.read_table(spark, table).count() == len(TICKS)
    assert V.current_version(table) >= v1  # and no duplicate content


CDC_SCHEMA = "id long, v double, seq long, _op string"


def _drop_cdc(spark, path, rows):
    spark.createDataFrame(rows, CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_cdc_apply_sink_upserts_and_deletes(spark, tmp_path):
    """Op-coded change stream applies to a versioned table: upserts
    replace/insert, deletes remove, and each batch is ONE merge commit
    carrying the batch id."""
    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.streaming.sinks import cdc_apply_sink

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _drop_cdc(spark, landing, [
        (1, 10.0, 1, "c"), (2, 20.0, 1, "c"), (3, 30.0, 1, "c"),
    ])
    cdc_apply_sink(
        file_source(spark, landing, CDC_SCHEMA), table, ["id"], ckpt,
        order_col="seq",
    ).awaitTermination()
    got = {r["id"]: r["v"] for r in V.read_table(spark, table).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}

    # update 1, delete 2, insert 4 — one mixed batch
    _drop_cdc(spark, landing, [
        (1, 11.0, 2, "u"), (2, None, 2, "delete"), (4, 40.0, 2, "c"),
    ])
    before = V.current_version(table)
    cdc_apply_sink(
        file_source(spark, landing, CDC_SCHEMA), table, ["id"], ckpt,
        order_col="seq",
    ).awaitTermination()
    got = {r["id"]: r["v"] for r in V.read_table(spark, table).collect()}
    assert got == {1: 11.0, 3: 30.0, 4: 40.0}
    assert V.current_version(table) == before + 1  # one commit per batch
    assert len(V.committed_batch_ids(table)) == 2


def test_cdc_apply_sink_order_col_picks_winner(spark, tmp_path):
    """Several ops per key in one batch: keep-latest by order_col —
    a later delete beats an earlier upsert and vice versa; a NULL op is
    dropped; without order_col two ops on one key fail loudly."""
    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.streaming.sinks import cdc_apply_sink

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")

    _drop_cdc(spark, landing, [(1, 10.0, 1, "c"), (2, 20.0, 1, "c")])
    cdc_apply_sink(
        file_source(spark, landing, CDC_SCHEMA), table, ["id"],
        str(tmp_path / "c1"), order_col="seq",
    ).awaitTermination()
    # key 1: upsert@2 then delete@3 -> deleted; key 2: delete@2 then
    # upsert@3 -> lives with the later value
    _drop_cdc(spark, landing, [
        (1, 12.0, 2, "u"), (1, None, 3, "delete"),
        (2, None, 2, "delete"), (2, 22.0, 3, "u"),
    ])
    cdc_apply_sink(
        file_source(spark, landing, CDC_SCHEMA), table, ["id"],
        str(tmp_path / "c1"), order_col="seq",
    ).awaitTermination()
    got = {r["id"]: r["v"] for r in V.read_table(spark, table).collect()}
    assert got == {2: 22.0}

    # a row whose op is NULL is neither an upsert nor a delete: dropped,
    # and a batch of nothing else commits nothing
    before = V.current_version(table)
    _drop_cdc(spark, landing, [(2, 99.0, 4, None), (3, 30.0, 4, None)])
    cdc_apply_sink(
        file_source(spark, landing, CDC_SCHEMA), table, ["id"],
        str(tmp_path / "c1"), order_col="seq",
    ).awaitTermination()
    assert V.current_version(table) == before

    # without order_col a batch must be key-unique: an upsert and a
    # delete of one key fail the query loudly and commit nothing
    _drop_cdc(spark, landing, [(2, 23.0, 5, "u"), (2, None, 5, "delete")])
    q = cdc_apply_sink(
        file_source(spark, landing, CDC_SCHEMA), table, ["id"],
        str(tmp_path / "c1"),
    )
    with pytest.raises(Exception, match="duplicate merge keys"):
        q.awaitTermination()
    assert V.current_version(table) == before
    got = {r["id"]: r["v"] for r in V.read_table(spark, table).collect()}
    assert got == {2: 22.0}


def test_versioned_sink_auto_compacts_small_files(spark, tmp_path):
    """compact_every=N: every Nth append commit is followed by an
    incremental OPTIMIZE that merges the micro-batch dribble — file
    count stays bounded while rows and history are untouched."""
    from aws_etl_project2_fiap_spark.io import versioned as V
    from aws_etl_project2_fiap_spark.streaming.sinks import versioned_sink

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    for i in range(4):
        spark.range(i * 10, (i + 1) * 10).selectExpr(
            "id", "cast(id as double) as v"
        ).coalesce(2).write.parquet(f"{landing}/d{i}")
    q = versioned_sink(
        spark.readStream.schema("id long, v double")
        .option("maxFilesPerTrigger", "2")  # several micro-batches
        .parquet(landing + "/*"),
        table,
        str(tmp_path / "ckpt"),
        compact_every=2,
        compact_small_bytes=64 * 1024 * 1024,
    )
    q.awaitTermination(180)
    assert V.read_table(spark, table).count() == 40
    hist = V.table_history(table)
    ops = [h["operation"] for h in hist]
    assert "OPTIMIZE" in ops, f"no auto-compaction in {ops}"
    # the current version's file count is bounded by the sweep, not
    # proportional to the number of micro-batches
    n_files = len(V._read_manifest(table, V.current_version(table))["files"])
    assert n_files <= 2, f"{n_files} files survived auto-compaction"
