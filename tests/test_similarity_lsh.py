"""Hyperplane-LSH pair generator: recall vs exact ground truth, and the
auto-tuning that makes the exact-SQL oracle a valid gate for queries
built on the bucketed path (dedup_embedding_cosine).

Determinism is the load-bearing property: splitmix64 hyperplanes +
deterministic data mean the recall measured here at sf0.001/sf0.01 is
EXACTLY what the driver's correctness run will see.
"""

from __future__ import annotations

from aws_etl_project2_fiap_spark.operators.similarity import (
    lsh_params_for_threshold,
    near_dup_pairs_bucketed,
    near_dup_pairs_exact,
)


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.id1, r.id2) for r in df.collect()}


def test_auto_params_scale_with_threshold():
    """Lower thresholds need fewer AND-bits and more OR-tables; the
    miss-probability model (1-p^planes)^tables must stay under target."""
    import math

    for th in (0.4, 0.6, 0.9):
        planes, tables = lsh_params_for_threshold(th)
        p = 1.0 - math.acos(th) / math.pi
        miss = (1.0 - p**planes) ** tables
        assert miss < 1e-4, (th, planes, tables, miss)
    # tighter thresholds collide more per plane -> can afford more planes
    assert lsh_params_for_threshold(0.9)[0] > lsh_params_for_threshold(0.4)[0]


def test_bucketed_pairs_match_exact_at_driver_sfs(spark):
    """Full recall AND full precision vs the quadratic ground truth at
    both the pytest SF and the driver's correctness SF (in-bucket verify
    is exact, so precision is structural; recall is what the auto-tuned
    table count buys)."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        exact = _pairs(near_dup_pairs_exact(e, threshold=0.4))
        lsh = _pairs(near_dup_pairs_bucketed(e, threshold=0.4))
        assert lsh == exact, (
            f"{sf}: missed={sorted(exact - lsh)[:5]} extra={sorted(lsh - exact)[:5]}"
        )


def test_dedup_by_cosine_default_path_matches_exact(spark):
    """The dedup built on the default (bucketed) generator must produce
    the same survivor set as the exact generator."""
    from aws_etl_project2_fiap_spark.operators.similarity import dedup_by_cosine

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {r.vec_id for r in dedup_by_cosine(e, threshold=0.4).collect()}
    ref = {
        r.vec_id
        for r in dedup_by_cosine(
            e, threshold=0.4, pairs_fn=near_dup_pairs_exact
        ).collect()
    }
    assert got == ref


def test_int8_quantization_preserves_topk(spark):
    from aws_etl_project2_fiap_spark.operators.similarity import (
        cosine,
        dequantize,
        quantize_embeddings,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qz = quantize_embeddings(e)
    # round-trip error bounded by scale/2 per component
    joined = e.join(qz, e["vec_id"] == qz["id"]).select(
        "embedding", dequantize(F.col("qvec"), F.col("scale")).alias("dq")
    )
    max_err = joined.select(
        F.array_max(
            F.zip_with("embedding", "dq", lambda a, b: F.abs(a - b))
        ).alias("err"),
        F.col("dq"),
    ).agg(F.max("err")).collect()[0][0]
    amax = e.select(
        F.max(F.array_max(F.transform("embedding", lambda x: F.abs(x))))
    ).collect()[0][0]
    assert max_err <= amax / 127.0 / 2 + 1e-9

    def topk(vec_df, vcol):
        qv = vec_df.filter(F.col("id") == 0).select(F.col(vcol).alias("__qv"))
        return [
            r["id"]
            for r in vec_df.crossJoin(F.broadcast(qv))
            .select("id", cosine(F.col(vcol), F.col("__qv")).alias("sim"))
            .orderBy(F.desc("sim"), F.asc("id"))
            .limit(10)
            .collect()
        ]
    exact = topk(
        e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")), "v"
    )
    quant = topk(
        qz.select("id", dequantize(F.col("qvec"), F.col("scale")).alias("v")), "v"
    )
    assert len(set(exact) & set(quant)) >= 9


def test_bucketed_plan_has_no_broadcast_join(spark):
    """The vectors ride the one (table, bucket) exchange: the bench and
    portable queries call with default arguments, and their plan must
    not re-attach vectors through a BroadcastHashJoin (measured slower
    locally, illegal past the broadcast cap at the 100 TB corpus)."""
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    df = near_dup_pairs_bucketed(e, threshold=0.4)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" not in plan


def test_fixed_param_bucketed_pairs_subset_of_exact(spark):
    """The portable gate's fixed (planes=6, tables=8) configuration:
    every emitted pair must appear in the exact all-pairs result with
    the same rounded similarity (LSH can only MISS pairs, never
    invent them — the in-bucket verify recomputes exact cosine)."""
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = {
        (r.id1, r.id2): r.sim
        for r in near_dup_pairs_bucketed(
            e, threshold=0.4, planes=6, tables=8, max_bucket=1_000_000
        ).collect()
    }
    exact = {
        (r.id1, r.id2): r.sim
        for r in near_dup_pairs_exact(e, threshold=0.4).collect()
    }
    assert got, "fixed-param LSH emitted no pairs at sf0.01"
    assert set(got) <= set(exact)
    assert all(abs(got[k] - exact[k]) < 1e-9 for k in got)
