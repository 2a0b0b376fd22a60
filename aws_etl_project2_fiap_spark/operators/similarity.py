"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- **brute-force cosine top-k** — the exact baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM higher-order functions, no
  Python); the query vector rides along as a broadcast literal, so the
  scan is embarrassingly parallel and LIMIT k plans as
  TakeOrderedAndProject.
- **LSH-bucketed (random hyperplanes)** — the scale path for pairwise
  near-dup: sign-bit sketch over D deterministic pseudo-random
  hyperplanes, candidates only form inside a bucket. Cost tracks bucket
  occupancy, not n².

At 100 TB the brute-force variant stays viable for *single-query* top-k
(one scan, no shuffle); all-pairs work must go through the bucketed
variant (or IVF with a learned coarse quantizer, same plumbing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_brute_force(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a constant query vector.
    Returns (id, sim) — sim rounded to 6 d.p. for cross-engine stability."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.select(
            F.col(id_col).alias("id"),
            # zero-norm vectors give NaN cosine, and NaN sorts ABOVE all
            # numbers in Spark — map to -1 so they sink instead
            F.round(F.nanvl(cosine(F.col(vec_col), q), F.lit(-1.0)), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(k)
    )


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (public splitmix64 constants) — gives
    reproducible hyperplane weights with no RNG state."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def hyperplane_weights(planes: int, dim: int) -> list[list[float]]:
    """planes×dim weight matrix in [-1, 1), derived from splitmix64 of the
    (plane, dim) index — constants, computed once on the driver."""
    return [
        [
            (_splitmix64(p * 1_000_003 + j) / float(1 << 63)) - 1.0
            for j in range(dim)
        ]
        for p in range(planes)
    ]


def hyperplane_sketch(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Sign-bit sketch over ``planes`` deterministic pseudo-random
    hyperplanes. The weight matrix is a plan-time literal (planes×dim
    doubles), so each row costs `planes` dot products in codegen —
    no per-row hashing."""
    weights = hyperplane_weights(planes, dim)
    v = F.col(vec_col)

    def plane_bit(p: int) -> Column:
        w = F.array(*[F.lit(x) for x in weights[p]])
        proj = F.aggregate(
            F.zip_with(v, w, lambda x, wj: x.cast("double") * wj),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    sketch = None
    for p in range(planes):
        bit = plane_bit(p) * F.lit(1 << p)
        sketch = bit if sketch is None else sketch + bit
    return df.select(F.col(id_col).alias("id"), F.col(vec_col), sketch.alias("bucket"))


def cosine_pandas(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine for candidate *pairs*: one numpy matmul per
    batch instead of an interpreted higher-order function per row —
    ~100× cheaper when verifying many candidates. (Single-vector queries
    keep the pure-JVM :func:`cosine`.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos_fn(x, y):
        ax = np.stack(x.values).astype(np.float64)
        by = np.stack(y.values).astype(np.float64)
        num = (ax * by).sum(axis=1)
        den = np.linalg.norm(ax, axis=1) * np.linalg.norm(by, axis=1)
        return pd.Series(num / den)

    # plain-function form: `from __future__ import annotations` stringifies
    # type hints, which pandas_udf can't resolve for locally-imported pd
    _cos = pandas_udf(_cos_fn, "double")

    return _cos(a, b)


def lsh_params_for_threshold(
    threshold: float, target_miss: float = 1e-6, max_tables: int = 64
) -> tuple[int, int]:
    """Pick (planes, tables) so a pair at exactly ``threshold`` cosine is
    missed with probability < ``target_miss``.

    Per random hyperplane, a pair at angle θ collides with p = 1 − θ/π
    (Goemans–Williamson). AND over ``planes`` bits, OR over ``tables``
    sketches → miss = (1 − p^planes)^tables. planes ≈ ln4/−ln p puts the
    per-table collision near 25%, the cost/recall sweet spot; tables then
    solves the miss target. Low thresholds get few planes and many
    tables — the replication factor IS the price of near-exact recall;
    production runs chasing throughput over exactness should pass
    explicit smaller ``tables``."""
    import math

    t = min(max(threshold, -0.999), 0.999)
    p = 1.0 - math.acos(t) / math.pi
    planes = max(2, round(math.log(4.0) / -math.log(p)))
    while True:
        p_table = p**planes
        tables = math.ceil(math.log(target_miss) / math.log(1.0 - p_table))
        if tables <= max_tables or planes == 2:
            return planes, min(tables, max_tables)
        planes -= 1


def near_dup_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int | None = None,
    tables: int | None = None,
    dim: int = 64,
    max_bucket: int = 4096,
) -> DataFrame:
    """Approximate cosine near-dup pairs: multi-table hyperplane LSH
    (OR-amplification across ``tables`` independent sketches of
    ``planes`` bits) + Arrow-vectorized exact verify on candidates.

    Recall at cos≈0.9 with 8×8: 1-(1-0.857^8)^8 ≈ 0.94, while distant
    pairs are pruned per-table at 0.63^8 ≈ 2.5%. Candidates only form
    inside (table, bucket) groups — never all-pairs.

    All tables' sketches come from ONE Arrow-batched matmul
    ((batch×dim) @ (dim×planes·tables) → sign bits → per-table bucket
    ints). Verification happens INSIDE each (table, bucket) group with a
    single normalized gram matmul (``applyInPandas``) — candidate pairs
    never materialize as shuffled rows, only survivors above the
    threshold do. The one shuffle moves ``tables``× the input vectors on
    narrow (table, bucket) keys. Returns (id1, id2, sim).

    **Hot-bucket cap** (``max_bucket``): a degenerate bucket — millions
    of identical boilerplate vectors — would make the in-bucket gram
    matmul O(n²) in compute and output. Splitting on extra sketch bits
    cannot help there (identical content ⇒ identical bits at any
    depth), and all-pairs output over n identical members is inherently
    O(n²). So groups over the cap are thinned to a STAR around the
    bucket's min-id member INSIDE the scoring function: each member is
    exact-verified against that representative only — O(n·dim) compute,
    O(n) output — and the candidate graph keeps every member connected
    to the representative, so connected-component / keep-min-id dedup
    results are unchanged for buckets of mutual near-dups (the only way
    hot buckets arise in practice). Buckets at or under the cap keep
    exact pair enumeration. Fusing the cap into ``applyInPandas`` keeps
    the plan a single shuffle + one grouped stage (the r2 window +
    branch-split + rep-join variant cost 20% at sf0.1 and a pre-check
    action costs a duplicate sketch scan). A hot bucket still arrives
    at one task as one Arrow batch — O(n·dim) memory, the same rows the
    shuffle already routes to that task; the cap bounds compute and
    output, not the single-key residency that any per-key operator has.

    ``planes``/``tables`` default to :func:`lsh_params_for_threshold` —
    sized so recall at the threshold is ~1−1e-6, which is what lets
    the exact-SQL oracle stay the correctness gate for queries built on
    this generator (deterministic hyperplanes → the parity test result
    IS the driver result).

    **Shuffle shape**: the OR-amplification must co-locate every
    (table, bucket) group, and each vector belongs to ``tables`` groups,
    so the exploded rows carry their vectors through the one exchange.
    A narrow (id, table, bucket) shuffle with a broadcast re-attach of
    the vectors was measured slower at every local scale (r13 A/B,
    32-core local: sf0.1 1.65 vs 3.31 s, sf1 5.49 vs 7.26 s — the
    exchange is memory-backed, in-bucket gram scoring dominates) and is
    illegal past the broadcast cap at the 100 TB target, so it is not
    offered."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..session import parallelize_small

    if planes is None or tables is None:
        auto_planes, auto_tables = lsh_params_for_threshold(threshold)
        planes = planes if planes is not None else auto_planes
        tables = tables if tables is not None else auto_tables

    # spread the sketch matmul across cores when the input is a
    # single-row-group file (one scan task otherwise)
    df = parallelize_small(df.select(id_col, vec_col))

    w_t = np.array(hyperplane_weights(planes * tables, dim)).T  # dim × (p·t)
    pow2 = (1 << np.arange(planes)).astype(np.int64)

    def _buckets_fn(vecs):
        mat = np.stack(vecs.values).astype(np.float64)  # batch × dim
        bits = (mat @ w_t) >= 0  # batch × (planes·tables)
        by_table = bits.reshape(len(mat), tables, planes)
        out = (by_table * pow2).sum(axis=2)  # batch × tables
        return pd.Series(list(out))

    _buckets = pandas_udf(_buckets_fn, "array<long>")

    sk = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col),
        F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def _score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].values
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id1": [], "id2": [], "sim": []})
        mat = np.stack(pdf[vec_col].values).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        np.divide(mat, norms, out=mat, where=norms > 0)
        if n > max_bucket:
            # hot bucket: star-thin around the min-id representative —
            # one O(n·dim) matvec instead of the O(n²) gram matmul
            rep_pos = int(np.argmin(ids))
            sims = np.round(mat @ mat[rep_pos], 6)
            keep = (sims >= threshold) & (np.arange(n) != rep_pos)
            others = ids[keep]
            rep_id = ids[rep_pos]
            return pd.DataFrame(
                {
                    "id1": np.minimum(others, rep_id),
                    "id2": np.maximum(others, rep_id),
                    "sim": sims[keep],
                }
            )
        sims = mat @ mat.T
        # r12 (guide §1.2 per-task work): prefilter the gram with a safe
        # margin BEFORE rounding — round(x, 6) >= t can only hold when
        # x >= t - 5e-7 — then round-compare only the few candidates.
        # The r11 form allocated two n²/2 int64 index arrays
        # (triu_indices) and fancy-gathered the full upper triangle
        # TWICE (once for the mask, once for the output); this is
        # arithmetic-identical (same normalize, same gram, same
        # round-then-compare) and ~40% cheaper per bucket.
        cand = np.triu(sims >= threshold - 1e-6, k=1)
        ci, cj = np.nonzero(cand)
        vals = np.round(sims[ci, cj], 6)
        keep = vals >= threshold
        i1, i2 = ids[ci[keep]], ids[cj[keep]]
        return pd.DataFrame(
            {
                "id1": np.minimum(i1, i2),
                "id2": np.maximum(i1, i2),
                "sim": vals[keep],
            }
        )

    return (
        sk.groupBy("table", "bucket")
        .applyInPandas(_score_bucket, f"id1 {id_type}, id2 {id_type}, sim double")
        .dropDuplicates(["id1", "id2"])
    )


def dedup_by_cosine(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pairs_fn=None,
) -> DataFrame:
    """Embedding-cosine near-dup dedup: drop every vector ≥-threshold
    similar to a lower-id vector, keep min-id survivors.

    ``pairs_fn`` is any generator with the (df, threshold, vec_col,
    id_col) → (id1, id2, sim) contract; it defaults to
    :func:`near_dup_pairs_bucketed` (auto-tuned LSH — the scale path).
    :func:`near_dup_pairs_exact` plugs in for quadratic ground-truth
    runs only. Pairs ≪ corpus, so the drop-set broadcasts into a
    left-anti join — no extra shuffle of the corpus."""
    gen = pairs_fn if pairs_fn is not None else near_dup_pairs_bucketed
    pairs = gen(df, threshold=threshold, vec_col=vec_col, id_col=id_col)
    drop = pairs.select(F.col("id2").alias(id_col)).distinct()
    return df.join(F.broadcast(drop), id_col, "left_anti").select(id_col)


def near_dup_pairs_exact(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine near-dup (the oracle-checkable ground truth;
    quadratic — test-SF only, LSH-bucketed is the scale path)."""
    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("__v1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("__v2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(cosine_pandas(F.col("__v1"), F.col("__v2")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: k-means coarse quantizer + cluster-probed search
# ---------------------------------------------------------------------------


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 5,
    sample_limit: int = 10_000,
    order_hash: str = "xxhash64",
):
    """Deterministic Lloyd k-means trained on a bounded sample.

    Standard IVF practice (what FAISS does): the coarse quantizer is
    trained on a sample — centroid quality converges long before the
    sample does, so training cost is O(sample), independent of table
    size, and the expensive distributed passes are reserved for
    :func:`ivf_assign`/:func:`ivf_search`.

    - sample: the ``sample_limit`` rows with smallest ``order_hash(id)``
      — a reproducible pseudo-random sample (no RNG state), fetched in
      ONE Spark job (TakeOrderedAndProject, never a full collect);
    - init: first k sample vectors (already hash-shuffled → unbiased);
    - Lloyd iterations run in numpy on the driver.

    ``order_hash``: "xxhash64" (default — one JVM hash, the production
    path) or "md5" (hex-string ordering of md5(id::string) — portable
    across engines, so a DuckDB oracle can reproduce the sample and
    init exactly; the `similarity_ivf_knn_portable` gate).

    Returns a k×dim list-of-lists (centroids).
    """
    import numpy as np

    if order_hash == "md5":
        key = F.md5(F.col("id").cast("string"))
    elif order_hash == "xxhash64":
        key = F.xxhash64(F.col("id"))
    else:
        raise ValueError(f"order_hash must be xxhash64|md5: {order_hash!r}")
    sample_rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(key, F.col("id"))
        .limit(sample_limit)
        .collect()
    )
    mat = np.stack([np.asarray(r.v, dtype=np.float64) for r in sample_rows])
    cent = mat[:k].copy()
    x2 = (mat * mat).sum(axis=1, keepdims=True)
    for _ in range(iters):
        # |x-c|² = |x|² - 2x·c + |c|² via one (sample × k) matmul —
        # NOT the broadcasted (sample × k × dim) difference cube, whose
        # O(sample·k·dim) temporaries dominate fit time (~100 MB and
        # seconds per iteration at the default sample once k grows
        # with the corpus under semantic_dedup's auto-k)
        d2 = x2 - 2.0 * (mat @ cent.T) + (cent * cent).sum(axis=1)
        assign = d2.argmin(axis=1)
        for cl in range(len(cent)):
            sel = mat[assign == cl]
            if len(sel):
                cent[cl] = sel.mean(axis=0)
    return [row.tolist() for row in cent]


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Attach the nearest-centroid id as a ``cluster`` column (the IVF
    inverted list key — partition or Z-order by it when materializing
    the index so a probe reads only its clusters' files)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)

    c2 = (c * c).sum(axis=1)

    def _assign_fn(vecs):
        mat = np.stack(vecs.values).astype(np.float64)
        # argmin over |x|² - 2x·c + |c|²; |x|² is row-constant, so one
        # (batch × k) matmul decides — the broadcasted difference cube
        # allocated O(batch·k·dim) per Arrow batch on the corpus-wide
        # hot path, which auto-k (k ∝ n) turns into the dominant cost
        d2 = c2 - 2.0 * (mat @ c.T)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    _assign = pandas_udf(_assign_fn, "int")
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col), _assign(F.col(vec_col)).alias("cluster")
    )


def ivf_search(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: probe the ``nprobe`` clusters nearest the query, exact
    cosine inside them. ``nprobe=len(centroids)`` degrades gracefully to
    exact search. The cluster filter is a plain predicate — with the
    index partitioned by ``cluster`` it becomes partition pruning, so a
    probe touches nprobe/k of the data."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(((c - q) ** 2).sum(axis=1), kind="stable")
    probe = [int(x) for x in order[:nprobe]]

    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        indexed.filter(F.col("cluster").isin(probe))
        .select(
            "id",
            F.round(F.nanvl(cosine(F.col(vec_col), qcol), F.lit(-1.0)), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(k)
    )


def save_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF index: vectors land under
    ``path/vectors/cluster=<c>/`` (one partition per inverted list) and
    the quantizer under ``path/centroids`` — a probe then reads ONLY its
    nprobe clusters' files via partition pruning, which is the whole
    point of IVF at 100 TB: the index is built once, queries touch
    nprobe/k of the data forever after (tests assert PartitionFilters
    in the probe plan)."""
    spark = df.sparkSession
    indexed = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    (
        indexed.write.partitionBy("cluster")
        .mode("overwrite")
        .parquet(f"{path}/vectors")
    )
    cent_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    (
        spark.createDataFrame(cent_rows, "centroid_id: int, centroid: array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally add vectors to a persisted IVF index: assign the
    NEW batch against the SAVED quantizer and append under the same
    ``cluster=`` partition layout — no rebuild, no touch of existing
    inverted lists; probes see the union immediately through partition
    discovery. The standard IVF maintenance loop (FAISS ``add``): the
    quantizer is intentionally frozen — recall decays only if the data
    distribution drifts far from the training sample, at which point a
    rebuild (or kmeans_refine_distributed + reassign) is a deliberate
    operation, not an implicit one."""
    spark = df.sparkSession
    cent_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    )
    centroids = [list(r["centroid"]) for r in cent_rows]
    indexed = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    (
        indexed.write.partitionBy("cluster")
        .mode("append")
        .parquet(f"{path}/vectors")
    )


def load_ivf_index(spark, path: str):
    """Load (indexed_vectors, centroids) back; ``indexed_vectors`` is
    partition-discovered on ``cluster``, so `ivf_search`'s probe filter
    prunes directories without touching their footers."""
    indexed = spark.read.parquet(f"{path}/vectors")
    cent_rows = (
        spark.read.parquet(f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    )
    centroids = [list(r["centroid"]) for r in cent_rows]
    return indexed, centroids


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: each vector stores
    a float scale plus an ``array<tinyint>`` — a 4× storage/IO cut, the
    standard first lever for 100 TB embedding tables (IVF + int8 is the
    FAISS ``IVF,SQ8`` recipe). Pure codegen: ``scale = max(|x|)/127``,
    ``q = round(x/scale)``; cosine is scale-invariant, so ranking
    degrades only by rounding noise (recall asserted in tests).

    Returns (id, scale, qvec). Zero vectors carry scale 0 and stay
    all-zero.

    The scale is materialized as its own projection BEFORE the
    element-wise transform: referencing the ``array_max(...)`` subtree
    inside the per-element lambda makes Catalyst re-evaluate it per
    ELEMENT — O(dim²) per row (measured 9× slower than the float scan
    at sf10 before this split; the attribute reference is O(dim))."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    pre = df.select(
        F.col(id_col).alias("id"), v.alias("__v"), scale.alias("scale")
    )
    sc = F.col("scale")
    return pre.select(
        "id",
        "scale",
        F.transform(
            F.col("__v"),
            lambda x: F.when(
                sc > 0, F.round(x / sc).cast("tinyint")
            ).otherwise(F.lit(0).cast("tinyint")),
        ).alias("qvec"),
    )


def dequantize(qvec: Column, scale: Column) -> Column:
    """array<tinyint> + scale → array<double> (approximate original)."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def kmeans_refine_distributed(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    iters: int = 2,
) -> list[list[float]]:
    """Refine centroids with full-corpus Lloyd iterations, distributed.

    :func:`kmeans_fit` trains on a bounded sample (the FAISS recipe) —
    right when the sample captures the distribution. When it doesn't
    (heavy tails, tiny clusters the sample misses), each refinement
    iteration here is ONE map-only pass over the corpus: every Arrow
    batch computes its own (cluster, count, sum-vector) partials — the
    classic map-side combine — so the only data movement is
    ``tasks × k`` tiny partial rows collected to the driver for the
    final combine. No shuffle at any scale; iteration cost is a scan.

    Empty clusters keep their previous centroid (standard Lloyd
    degeneracy handling, deterministic)."""
    import numpy as np

    k = len(centroids)
    dim = len(centroids[0])
    cent = np.asarray(centroids, dtype=np.float64)
    src = df.select(F.col(vec_col).alias("v"))

    for _ in range(iters):
        c_broadcast = [row.tolist() for row in cent]

        def _partials(iterator):
            # worker-shipped closure: local imports + no module-level
            # references (driver loads the repo by file path; executors
            # cannot import the package)
            import numpy as np  # noqa: PLC0415
            import pyarrow as pa  # noqa: PLC0415

            C = np.asarray(c_broadcast, dtype=np.float64)
            cc = (C * C).sum(axis=1)
            for batch in iterator:
                tbl = batch.column("v")
                mat = np.asarray(tbl.to_pylist(), dtype=np.float64)
                if mat.size == 0:
                    continue
                d2 = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ C.T) + cc[None, :]
                a = d2.argmin(axis=1)
                ks, counts = np.unique(a, return_counts=True)
                sums = np.zeros((len(ks), mat.shape[1]))
                for j, cl in enumerate(ks):
                    sums[j] = mat[a == cl].sum(axis=0)
                yield pa.RecordBatch.from_pydict(
                    {
                        "cluster": ks.astype("int32"),
                        "n": counts.astype("int64"),
                        "s": list(sums),
                    }
                )

        part = src.mapInArrow(
            _partials, "cluster int, n long, s array<double>"
        ).collect()
        n_tot = np.zeros(k)
        s_tot = np.zeros((k, dim))
        for r in part:
            n_tot[r["cluster"]] += r["n"]
            s_tot[r["cluster"]] += np.asarray(r["s"])
        nonempty = n_tot > 0
        cent[nonempty] = s_tot[nonempty] / n_tot[nonempty, None]
    return [row.tolist() for row in cent]


def semantic_dedup(
    df: DataFrame,
    k: int | None = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    max_cluster: int = 65_536,
    target_cluster: int = 1_024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with k-means and comparing
    pairs ONLY within each cluster — the published approximation that
    turns the O(n²) global cosine-dedup into k independent
    O((n/k)²·dim) gram matmuls with NO candidate-pair shuffle (pairs
    are born and die inside one ``applyInPandas`` task per cluster).

    Keep rule (deterministic, matches this engine's other dedups): a
    vector is dropped iff its cluster contains a LOWER-id vector with
    cosine ≥ ``threshold``; ``dup_of`` reports the first such keeper.
    Clusters over ``max_cluster`` are star-thinned against their min-id
    member (same rationale + semantics as near_dup_pairs_bucketed's hot
    bucket cap). Cross-cluster near-dups are not compared — that is
    SemDeDup's stated trade; raise k to shrink clusters, not recall.

    Returns (id, cluster, keep, dup_of). One corpus pass for assign +
    one shuffle on ``cluster`` for the grouped scoring.

    ``k=None`` auto-sizes the cluster count to ``ceil(n /
    target_cluster)`` (one metadata-cheap count) — the "raise k with n"
    rule the scaling argument depends on, as code: total in-cluster
    pair work is Θ(n²·dim/k), so pinning k while n grows 10x makes the
    operator quadratic again, while k ∝ n keeps per-cluster size (and
    each task's gram block) constant."""
    import math

    import numpy as np
    import pandas as pd

    if k is None:
        n_rows = df.count()
        k = max(8, math.ceil(n_rows / target_cluster))
    if centroids is None:
        centroids = kmeans_fit(df, vec_col=vec_col, id_col=id_col, k=k)
    assigned = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    id_type = df.schema[id_col].dataType.simpleString()

    def _dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].values
        n = len(ids)
        cl = pdf["cluster"].iloc[0]
        if n < 2:
            return pd.DataFrame(
                {"id": ids, "cluster": [cl] * n, "keep": [1] * n,
                 "dup_of": [None] * n}
            )
        mat = np.stack(pdf[vec_col].values).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        np.divide(mat, norms, out=mat, where=norms > 0)
        o = np.argsort(ids, kind="stable")
        ids_s = ids[o]
        mat_s = mat[o]
        def _py(v):
            # numpy scalar -> native Python so applyInPandas can encode
            # ANY id type the schema declares (string ids crash int())
            return v.item() if hasattr(v, "item") else v

        if n > max_cluster:
            sims = np.round(mat_s @ mat_s[0], 6)
            dropped = (sims >= threshold) & (np.arange(n) != 0)
            dup_of = [None if not d else _py(ids_s[0]) for d in dropped]
            return pd.DataFrame(
                {"id": ids_s, "cluster": [cl] * n,
                 "keep": (~dropped).astype("int64"), "dup_of": dup_of}
            )
        # blocked lower-triangular scoring: row block i compares only
        # against columns [0, block_end) — half the flops of the full
        # gram, O(B·n) peak memory instead of the O(n²) sims/tril
        # temporaries (which dominate wall time well before the matmul
        # does, measured 20x on a 2650-row cluster), and the only shape
        # that survives a genuinely large cluster without OOM
        B = 1024
        has = np.zeros(n, dtype=bool)
        first = np.zeros(n, dtype=np.int64)
        for b0 in range(0, n, B):
            b1 = min(b0 + B, n)
            blk = np.round(mat_s[b0:b1] @ mat_s[:b1].T, 6) >= threshold
            blk[:, b0:b1] &= np.tri(b1 - b0, b1 - b0, k=-1, dtype=bool)
            has[b0:b1] = blk.any(axis=1)
            first[b0:b1] = blk.argmax(axis=1)
        dup_of = [_py(ids_s[j]) if h else None for h, j in zip(has, first)]
        return pd.DataFrame(
            {"id": ids_s, "cluster": [cl] * n,
             "keep": (~has).astype("int64"), "dup_of": dup_of}
        )

    return assigned.groupBy("cluster").applyInPandas(
        _dedup_cluster,
        f"id {id_type}, cluster int, keep long, dup_of {id_type}",
    )


# -- product quantization (IVF-PQ: memory-bounded ANN) -----------------
#
# IVF prunes WHICH vectors a probe reads; PQ shrinks WHAT is stored per
# vector: the residual (vector − its cluster centroid) splits into m
# subvectors, each encoded as the id of its nearest codeword in a
# per-subspace codebook (ksub entries) — m bytes per vector instead of
# 4·dim, a 32× cut at dim=64/m=8. Search is ADC (asymmetric distance
# computation): per probed cluster, one (m × ksub) lookup table of
# exact subspace distances from the query's residual to every codeword;
# a vector's approximate distance is m table lookups summed — no float
# vector is ever read. The optional rerank joins the short candidate
# list back to the raw vectors for exact ordering (the FAISS
# IndexIVFPQ + refine recipe).


def pq_train(
    df: DataFrame,
    centroids: list[list[float]],
    m: int = 8,
    ksub: int = 32,
    iters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_limit: int = 10_000,
    order_hash: str = "xxhash64",
):
    """Train per-subspace codebooks on RESIDUALS (vector − assigned
    coarse centroid) from a bounded hash-sample — same deterministic
    sampling and driver-side Lloyd as :func:`kmeans_fit`, same FAISS
    rationale: codebook quality converges on a sample, so training is
    O(sample) regardless of table size. Returns an m-list of
    (ksub × dim/m) codebooks. ``order_hash`` as in :func:`kmeans_fit`
    ("md5" = engine-portable sample ordering for the oracle gate)."""
    import numpy as np

    if order_hash == "md5":
        key = F.md5(F.col("id").cast("string"))
    elif order_hash == "xxhash64":
        key = F.xxhash64(F.col("id"))
    else:
        raise ValueError(f"order_hash must be xxhash64|md5: {order_hash!r}")
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(key, F.col("id"))
        .limit(sample_limit)
        .collect()
    )
    mat = np.stack([np.asarray(r.v, dtype=np.float64) for r in rows])
    cent = np.asarray(centroids, dtype=np.float64)
    d2 = (cent * cent).sum(axis=1) - 2.0 * (mat @ cent.T)
    resid = mat - cent[d2.argmin(axis=1)]
    dim = resid.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for j in range(m):
        sub = resid[:, j * dsub : (j + 1) * dsub]
        k = min(ksub, len(sub))
        cb = sub[:k].copy()
        for _ in range(iters):
            dd = (cb * cb).sum(axis=1) - 2.0 * (sub @ cb.T)
            a = dd.argmin(axis=1)
            for c in range(k):
                sel = sub[a == c]
                if len(sel):
                    cb[c] = sel.mean(axis=0)
        books.append(cb)
    return [b.tolist() for b in books]


def pq_encode(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cluster, code) — the complete PQ index row: coarse assign +
    residual encode in ONE Arrow pass over the vectors (the only full
    scan an index build needs). ``code`` is array<smallint> of length m
    (values < ksub ≤ 256 — byte-range; smallint is the narrowest
    parquet-friendly array element)."""
    import numpy as np
    import pandas as pd

    c = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]

    schema = "id long, cluster int, code array<smallint>"

    def _encode(it):
        for pdf in it:
            mat = np.stack(pdf["v"].values).astype(np.float64)
            # matmul-identity argmins (|x|² row-constant): no
            # O(batch·k·dim) difference cubes on the encode hot path
            d2 = (c * c).sum(axis=1) - 2.0 * (mat @ c.T)
            cl = d2.argmin(axis=1)
            resid = mat - c[cl]
            codes = np.empty((len(mat), m), dtype=np.int16)
            for j in range(m):
                sub = resid[:, j * dsub : (j + 1) * dsub]
                b = books[j]
                dd = (b * b).sum(axis=1) - 2.0 * (sub @ b.T)
                codes[:, j] = dd.argmin(axis=1).astype(np.int16)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "cluster": cl.astype(np.int32),
                    "code": list(codes),
                }
            )

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(_encode, schema)


def ivf_pq_search(
    encoded: DataFrame,
    centroids: list[list[float]],
    codebooks,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the PQ codes of the ``nprobe`` nearest clusters.

    The per-cluster (m × ksub) distance tables are tiny (nprobe·m·ksub
    floats) and computed driver-side from the query alone, then closed
    over by ONE vectorized Arrow pass that scores every candidate code
    with m table lookups — the scan reads (id, cluster, code): bytes
    per row = m + 12, never the raw vectors. With the index partitioned
    by ``cluster`` the probe filter is partition pruning, same as
    :func:`ivf_search`.

    ``rerank`` (the raw-vector table) refines the top
    ``k × rerank_factor`` ADC candidates with exact cosine — a
    broadcast-semi-join-sized second touch that restores exact ordering
    among the survivors (FAISS refine). Returns (id, sim) like
    ivf_search, or (id, approx_d2) when rerank is None."""
    import numpy as np
    import pandas as pd

    c = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]
    q = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(((c - q) ** 2).sum(axis=1), kind="stable")
    probe = [int(x) for x in order[:nprobe]]
    # LUT[cluster][j, code] = ||(q - centroid)_j - codeword||²
    luts = {}
    for cl in probe:
        rq = q - c[cl]
        lut = np.empty((m, books[0].shape[0]), dtype=np.float64)
        for j in range(m):
            lut[j, : books[j].shape[0]] = (
                (rq[j * dsub : (j + 1) * dsub][None, :] - books[j]) ** 2
            ).sum(axis=1)
        luts[cl] = lut

    def _adc(it):
        idx = np.arange(m)
        for pdf in it:
            codes = np.stack(pdf["code"].values).astype(np.int64)
            dist = np.empty(len(pdf), dtype=np.float64)
            cls = pdf["cluster"].values
            for cl in np.unique(cls):
                sel = cls == cl
                lut = luts[int(cl)]
                dist[sel] = lut[idx, codes[sel]].sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"].values, "approx_d2": dist})

    cands = (
        encoded.filter(F.col("cluster").isin(probe))
        .mapInPandas(_adc, "id long, approx_d2 double")
        .orderBy(F.asc("approx_d2"), F.asc("id"))
        .limit(k * rerank_factor if rerank is not None else k)
    )
    if rerank is None:
        return cands.select("id", F.round("approx_d2", 6).alias("approx_d2"))
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        rerank.select(F.col(id_col).alias("id"), F.col(vec_col))
        .join(F.broadcast(cands.select("id")), "id")
        .select(
            "id",
            F.round(
                F.nanvl(cosine(F.col(vec_col), qcol), F.lit(-1.0)), 6
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(k)
    )


def save_ivf_pq_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF-PQ index: codes land under
    ``path/codes/cluster=<c>/`` (partition pruning per probe, same as
    :func:`save_ivf_index`), quantizer under ``path/centroids``,
    codebooks under ``path/codebooks``. The stored per-vector state is
    (id, m-byte code) — the 32× storage cut is what makes the ANN scan
    page-cache-resident at 100 TB; raw vectors stay in the source table
    for the rerank join only."""
    spark = df.sparkSession
    enc = pq_encode(df, centroids, codebooks, vec_col=vec_col, id_col=id_col)
    enc.write.partitionBy("cluster").mode("overwrite").parquet(f"{path}/codes")
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        spark.createDataFrame(
            cent_rows, "centroid_id: int, centroid: array<double>"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )
    book_rows = [
        (j, ci, [float(x) for x in code])
        for j, book in enumerate(codebooks)
        for ci, code in enumerate(book)
    ]
    (
        spark.createDataFrame(
            book_rows, "subspace: int, code_id: int, codeword: array<double>"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/codebooks")
    )


def load_ivf_pq_index(spark, path: str):
    """(encoded_codes, centroids, codebooks) back from disk; ``codes``
    is partition-discovered on ``cluster`` so the probe filter prunes
    directories."""
    enc = spark.read.parquet(f"{path}/codes")
    cent = [
        list(r["centroid"])
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    ]
    rows = spark.read.parquet(f"{path}/codebooks").orderBy(
        "subspace", "code_id"
    ).collect()
    m = max(r["subspace"] for r in rows) + 1
    books = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append(list(r["codeword"]))
    return enc, cent, books
