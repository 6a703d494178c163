"""Similarity-search queries over the ``embeddings`` table."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket_sql
from ..functions.numeric import dec_double_sql, q9_sum, q9_sum_sql
from ..sources.tables import load_table
from ..operators.similarity import as_double_array, cosine_topk
from . import register


def _brute_topk_sql(k: int = 5) -> str:
    return f"""
    WITH q AS (
      SELECT vec_id AS q_vec_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id AS cand_vec_id, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings
    ), sims AS (
      SELECT q_vec_id, cand_vec_id,
             list_dot_product(qe, ce)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS sim
      FROM c, q
      WHERE q_vec_id <> cand_vec_id
    )
    SELECT q_vec_id, cand_vec_id, sim, rk FROM (
      SELECT q_vec_id, cand_vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY sim DESC, cand_vec_id ASC) AS rk
      FROM sims
    ) WHERE rk <= {k}
    """


@register("cosine_topk", _brute_topk_sql())
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 8 query vectors against the full
    candidate set.  Exact-double parity with the oracle (the sequential
    fold matches DuckDB's list_dot_product bit-for-bit — verified)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"), as_double_array("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"), as_double_array("embedding").alias("ce")
    )
    return cosine_topk(q, c, k=5)


@register(
    "embedding_label_centroid_norms",
    """
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CAST(sq AS DECIMAL(30, 6))) AS DOUBLE) AS sum_sq_norm
    FROM (
      SELECT label, list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sq
      FROM embeddings
    )
    GROUP BY label
    """,
)
def q_embedding_label_norms(spark, sf_dir):
    """Per-label squared-norm totals — the vector-column aggregation
    shape (map: exact per-row fold; reduce: decimal-exact sum)."""
    from ..operators.similarity import dot
    from ..functions.numeric import dec_sum

    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double_array("embedding")
    per_row = emb.select("label", dot(e, e).alias("sq"))
    return per_row.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("sq").alias("sum_sq_norm"),
    )


def _lsh_topk_sql(k: int = 5, probe_hamming: int = 0) -> str:
    from ..operators.dedup import hyperplanes

    hps = hyperplanes(4, 64)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {hps[b]!r}) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(4)
    )
    if probe_hamming == 0:
        q_cte = "SELECT vec_id AS q_vec_id, v AS qe, bucket FROM e WHERE vec_id < 8"
    else:
        flips = ", ".join(f"xor(bucket, {1 << b})" for b in range(4))
        q_cte = (
            "SELECT vec_id AS q_vec_id, v AS qe, "
            f"unnest([bucket, {flips}]) AS bucket FROM e WHERE vec_id < 8"
        )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      CAST({bucket} AS BIGINT) AS bucket
               FROM embeddings),
    q AS ({q_cte}),
    c AS (SELECT vec_id AS cand_vec_id, v AS ce, bucket FROM e),
    sims AS (
      SELECT q_vec_id, cand_vec_id,
             list_dot_product(qe, ce)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS sim
      FROM c JOIN q USING (bucket)
      WHERE q_vec_id <> cand_vec_id
    )
    SELECT q_vec_id, cand_vec_id, sim, rk FROM (
      SELECT q_vec_id, cand_vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY sim DESC, cand_vec_id ASC) AS rk
      FROM sims
    ) WHERE rk <= {k}
    """


@register("cosine_topk_lsh", _lsh_topk_sql())
def q_cosine_topk_lsh(spark, sf_dir):
    """Approximate ANN top-5: sign-LSH bucket equi-join (4 hyperplanes
    → 16 buckets) replaces the cross join — the scale path next to the
    brute-force baseline.  Recall < 1 by construction; candidate
    generation is bucket-local."""
    from ..operators.dedup import hyperplanes
    from ..operators.similarity import cosine_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"), as_double_array("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"), as_double_array("embedding").alias("ce")
    )
    return cosine_topk_lsh(q, c, k=5, hyperplanes=hyperplanes(4, 64))


@register("cosine_topk_lsh_multiprobe", _lsh_topk_sql(probe_hamming=1))
def q_cosine_topk_lsh_multiprobe(spark, sf_dir):
    """Multi-probe sign-LSH top-5: each query probes its own bucket
    plus the 4 Hamming-distance-1 buckets, recovering the neighbors
    that sit just across a hyperplane.  Probe fan-out lives on the tiny
    broadcast query side; the corpus scan/partitioning is identical to
    single-probe.  ann_recall_eval quantifies the win (recall@10
    ~0.15 → ~0.45; IVF remains the high-recall path at ~0.9)."""
    from ..operators.dedup import hyperplanes
    from ..operators.similarity import cosine_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"), as_double_array("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"), as_double_array("embedding").alias("ce")
    )
    return cosine_topk_lsh(
        q, c, k=5, hyperplanes=hyperplanes(4, 64), probe_hamming=1
    )


_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
    "sqrt(list_dot_product({b}, {b})))"
)


def _ivf_topk_sql(k: int = 5, n_centroids: int = 8, nprobe: int = 2) -> str:
    csim = _COS.format(a="e.v", b="c.cv")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {n_centroids}),
    assigned AS (
      SELECT cand_vec_id, ce, centroid_id FROM (
        SELECT e.vec_id AS cand_vec_id, e.v AS ce, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {csim} DESC, c.centroid_id ASC) AS ark
        FROM e CROSS JOIN cents c
      ) WHERE ark = 1
    ),
    probes AS (
      SELECT q_vec_id, qe, centroid_id FROM (
        SELECT e.vec_id AS q_vec_id, e.v AS qe, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {csim} DESC, c.centroid_id ASC) AS prk
        FROM e CROSS JOIN cents c WHERE e.vec_id < 8
      ) WHERE prk <= {nprobe}
    ),
    sims AS (
      SELECT q_vec_id, cand_vec_id, {_COS.format(a="qe", b="ce")} AS sim
      FROM assigned JOIN probes USING (centroid_id)
      WHERE q_vec_id <> cand_vec_id
    )
    SELECT q_vec_id, cand_vec_id, sim, rk FROM (
      SELECT q_vec_id, cand_vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY sim DESC, cand_vec_id ASC) AS rk
      FROM sims
    ) WHERE rk <= {k}
    """


@register("cosine_topk_ivf", _ivf_topk_sql())
def q_cosine_topk_ivf(spark, sf_dir):
    """IVF ANN top-5: broadcast coarse quantizer (8 deterministic
    centroids) → inverted lists → nprobe=2 probing.  At scale the corpus
    is bucketed by centroid_id on write, making each probe a pruned
    scan; swap the centroid selection line for MLlib KMeans in
    production (plan shape unchanged)."""
    from ..operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"), as_double_array("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"), as_double_array("embedding").alias("ce")
    )
    return cosine_topk_ivf(q, c, k=5, n_centroids=8, nprobe=2)


@register("mllib_minhash_pairs", None)  # MLlib hash seeds are engine-internal
def q_mllib_minhash_pairs(spark, sf_dir):
    """MLlib's MinHashLSH (approxSimilarityJoin) over binarized shingle
    vectors — the library twin of the hand-rolled portable-hash MinHash
    (which IS oracle-checked); rows-only here since MLlib's hash family
    isn't reproducible outside Spark.

    Runs on a deterministic quarter of the corpus: this query exists to
    exercise the LIBRARY path next to the primary, not to re-dedup the
    corpus (the banded `minhash_lsh_pairs` is the production path, ~10×
    cheaper — VERDICT r1/r2 both flagged the twin's cost; never compose
    it into a pipeline)."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from ..operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 4) == 0
    )
    sh = docs.select("doc_id", shingles("text").alias("sh"))
    cv = CountVectorizer(inputCol="sh", outputCol="features", binary=True).fit(sh)
    # persist the vectorized corpus: approxSimilarityJoin consumes it
    # TWICE (self-join) and would re-run shingling+vectorization per side
    vec = cv.transform(sh).persist()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=2, seed=42).fit(vec)
    pairs = lsh.approxSimilarityJoin(vec, vec, 0.5, distCol="jaccard_dist")
    out = (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            "jaccard_dist",
        )
        .localCheckpoint(eager=True)  # materialize, then free the cache
    )
    vec.unpersist()
    # self-asserting, distributed (pair count is unbounded — never
    # collect it): every emitted pair must respect the join threshold
    # and the a<b dedup orientation; one 1-row violation aggregate.
    bad = out.filter(
        (F.col("jaccard_dist") < 0) | (F.col("jaccard_dist") > 0.5)
        | (F.col("doc_a") >= F.col("doc_b"))
    ).count()
    if bad:
        raise AssertionError(f"MinHashLSH pair invariant regression: {bad} bad pairs")
    return out


@register("mllib_ann_topk", None)  # random hyperplanes are engine-internal
def q_mllib_ann_topk(spark, sf_dir):
    """MLlib's BucketedRandomProjectionLSH approxNearestNeighbors for
    one probe vector — library twin of cosine_topk_lsh (oracle-checked);
    rows-only because the projection planes are MLlib-internal."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    vec = emb.select("vec_id", array_to_vector(as_double_array("embedding")).alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=42
    ).fit(vec)
    probe = vec.filter(F.col("vec_id") == 0).collect()[0]["features"]
    nn = lsh.approxNearestNeighbors(vec, probe, 6).select(
        "vec_id", "distCol"
    ).localCheckpoint(eager=True)
    # self-asserting: ≤6 neighbors with non-negative distances, and the
    # probe vector itself must surface at distance 0 (an ANN index that
    # can't find the query point is broken).  ≤6-row collect.
    rows = sorted(nn.collect(), key=lambda r: r["distCol"])
    ok = (
        0 < len(rows) <= 6
        and all(r["distCol"] >= 0.0 for r in rows)
        and rows[0]["vec_id"] == 0
        and rows[0]["distCol"] == 0.0
    )
    if not ok:
        raise AssertionError(f"ANN top-k invariant regression: {rows}")
    return nn


# ---------------------------------------------------------------------------
# int8 quantization: the production memory/bandwidth play for vector
# search — 8-bit codes + integer dot products (exact under any
# accumulation order, so fully oracle-checkable).
# ---------------------------------------------------------------------------

_QUANT_CTE = """
  base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
    FROM embeddings
  ),
  quant AS (
    SELECT vec_id, e, maxabs, 127.0 / maxabs AS scale,
           list_transform(e, x -> least(CAST(127 AS BIGINT),
               greatest(CAST(-127 AS BIGINT), CAST(floor(x * (127.0 / maxabs)) AS BIGINT)))) AS q
    FROM base WHERE maxabs > 0
  )
"""

_INT8_REPORT_SQL = f"""
WITH {_QUANT_CTE}
SELECT vec_id, maxabs,
       CAST(len(list_filter(q, v -> abs(v) = 127)) AS BIGINT) AS n_saturated,
       list_max(list_transform(list_zip(e, q), p ->
           abs(p[1] - CAST(p[2] AS DOUBLE) / scale))) AS max_abs_err
FROM quant
"""


@register("embedding_int8_quantize", _INT8_REPORT_SQL)
def q_embedding_int8_quantize(spark, sf_dir):
    """Per-vector int8 quantization report: scale denominator,
    saturated-dimension count, worst reconstruction error.  Entirely
    map-side (zero shuffles — the quantizer is a projection), so at
    100 TB this runs at scan bandwidth and writes 8× smaller codes."""
    from ..operators.similarity import (
        as_double_array,
        int8_dequant_err,
        int8_quantize,
        int8_scale,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double_array("embedding")
    base = emb.select(
        "vec_id", e.alias("e"), F.array_max(F.transform(e, F.abs)).alias("maxabs")
    ).filter(F.col("maxabs") > 0)
    scale = F.lit(127.0) / F.col("maxabs")
    withq = base.select(
        "vec_id", "e", "maxabs", scale.alias("scale"),
        int8_quantize(F.col("e"), scale).alias("q"),
    )
    return withq.select(
        "vec_id",
        "maxabs",
        F.size(F.filter("q", lambda v: F.abs(v) == 127)).cast("long").alias("n_saturated"),
        F.array_max(
            int8_dequant_err(F.col("e"), F.col("q"), F.col("scale"))
        ).alias("max_abs_err"),
    )


_INT8_TOPK_SQL = f"""
WITH {_QUANT_CTE},
qv AS (
  SELECT vec_id AS q_vec_id, CAST(q AS DOUBLE[]) AS qe FROM quant WHERE vec_id < 8
),
cv AS (
  SELECT vec_id AS cand_vec_id, CAST(q AS DOUBLE[]) AS ce FROM quant
),
sims AS (
  SELECT q_vec_id, cand_vec_id,
         list_dot_product(qe, ce)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS sim
  FROM cv, qv
  WHERE q_vec_id <> cand_vec_id
)
SELECT q_vec_id, cand_vec_id, sim, rk FROM (
  SELECT q_vec_id, cand_vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY sim DESC, cand_vec_id ASC) AS rk
  FROM sims
) WHERE rk <= 5
"""


@register("cosine_topk_int8", _INT8_TOPK_SQL)
def q_cosine_topk_int8(spark, sf_dir):
    """Quantized brute-force cosine top-5: identical shape to
    `cosine_topk` but over int8 codes — the integer dot product is
    EXACT under any accumulation order (every partial sum is an
    integer < 2^53), so unlike the float baseline this one's parity
    doesn't even depend on fold order.  Compare its neighbor lists
    against `cosine_topk` to read off the quantization recall cost;
    at 100 TB the candidate scan moves 8× fewer bytes."""
    from ..operators.similarity import (
        as_double_array,
        cosine_topk,
        int8_quantize,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double_array("embedding")
    base = emb.select(
        "vec_id", e.alias("e"), F.array_max(F.transform(e, F.abs)).alias("maxabs")
    ).filter(F.col("maxabs") > 0)
    scale = F.lit(127.0) / F.col("maxabs")
    quant = base.select(
        "vec_id",
        F.transform(int8_quantize(F.col("e"), scale), lambda v: v.cast("double")).alias("qd"),
    )
    q = quant.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"), F.col("qd").alias("qe")
    )
    c = quant.select(F.col("vec_id").alias("cand_vec_id"), F.col("qd").alias("ce"))
    return cosine_topk(q, c, k=5)


# ---------------------------------------------------------------------------
# Matryoshka truncation eval: how much retrieval quality survives when
# embeddings are cut to their leading 16/32 dims — the measurement
# behind MRL-style "pay for the dims you need" serving.
# ---------------------------------------------------------------------------

_MRL_K = 10
_MRL_DIMS = (16, 32)


def _mrl_sql() -> str:
    def topk_cte(name: str, dim_slice: str) -> str:
        return f"""
{name} AS (
  SELECT q_vec_id, cand_vec_id FROM (
    SELECT q.q_vec_id, c.cand_vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_vec_id ORDER BY
             list_dot_product(q.qe{dim_slice}, c.ce{dim_slice})
               / (sqrt(list_dot_product(q.qe{dim_slice}, q.qe{dim_slice}))
                  * sqrt(list_dot_product(c.ce{dim_slice}, c.ce{dim_slice})))
             DESC, c.cand_vec_id ASC) AS rk
    FROM qv q CROSS JOIN cv c WHERE q.q_vec_id <> c.cand_vec_id
  ) WHERE rk <= {_MRL_K}
)"""

    hit_cols = ",\n       ".join(
        f"""CAST((SELECT COUNT(*) FROM t{d} x
             WHERE x.q_vec_id = f.q_vec_id
               AND x.cand_vec_id IN (SELECT cand_vec_id FROM full_t y
                                     WHERE y.q_vec_id = f.q_vec_id))
            AS BIGINT) AS hits_{d},
       round(CAST((SELECT COUNT(*) FROM t{d} x
             WHERE x.q_vec_id = f.q_vec_id
               AND x.cand_vec_id IN (SELECT cand_vec_id FROM full_t y
                                     WHERE y.q_vec_id = f.q_vec_id))
            AS DOUBLE) / {_MRL_K}, 6) AS recall_{d}"""
        for d in _MRL_DIMS
    )
    ctes = ",".join(
        [
            """qv AS (SELECT vec_id AS q_vec_id, CAST(embedding AS DOUBLE[]) AS qe
             FROM embeddings WHERE vec_id < 8),
cv AS (SELECT vec_id AS cand_vec_id, CAST(embedding AS DOUBLE[]) AS ce
       FROM embeddings)""",
            topk_cte("full_t", ""),
        ]
        + [topk_cte(f"t{d}", f"[1:{d}]") for d in _MRL_DIMS]
    )
    return f"""
WITH {ctes}
SELECT f.q_vec_id, CAST(COUNT(*) AS BIGINT) AS n_full,
       {hit_cols}
FROM full_t f GROUP BY f.q_vec_id
"""


@register("matryoshka_truncation_recall", _mrl_sql())
def q_matryoshka_truncation_recall(spark, sf_dir):
    """Recall@{_MRL_K} of 16- and 32-dim truncated embeddings against
    the full 64-dim exact top-{_MRL_K} — the dimension/quality curve a
    serving team reads before truncating an index (the random fixture
    embeddings put truncated recall near chance, exactly what the
    measurement should say for non-Matryoshka-trained vectors; the
    int8 twin `ann_recall_eval`/`cosine_topk_int8` covers the
    precision axis).

    Scale plan: truncation is a map-side slice; each ranking reuses the
    brute-force baseline machinery over the same broadcast query set,
    and the recall join moves only (q, cand) id pairs."""
    from ..operators.similarity import as_double_array, cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"), as_double_array("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"), as_double_array("embedding").alias("ce")
    )
    full_t = cosine_topk(q, c, k=_MRL_K).select("q_vec_id", "cand_vec_id")
    base = full_t.groupBy("q_vec_id").agg(F.count(F.lit(1)).alias("n_full"))
    out = base
    for d in _MRL_DIMS:
        qd = q.select("q_vec_id", F.slice("qe", 1, d).alias("qe"))
        cd = c.select("cand_vec_id", F.slice("ce", 1, d).alias("ce"))
        td = cosine_topk(qd, cd, k=_MRL_K).select("q_vec_id", "cand_vec_id")
        hits = (
            full_t.join(td, ["q_vec_id", "cand_vec_id"])
            .groupBy("q_vec_id")
            .agg(F.count(F.lit(1)).alias(f"hits_{d}"))
        )
        out = out.join(hits, "q_vec_id", "left").withColumn(
            f"hits_{d}", F.coalesce(F.col(f"hits_{d}"), F.lit(0)).cast("long")
        ).withColumn(
            f"recall_{d}",
            F.round(F.col(f"hits_{d}").cast("double") / _MRL_K, 6),
        )
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance (ADC): the
# memory-bound ANN standard — each vector compresses to M sub-space
# code ids; query distances are M table lookups instead of a D-dim
# scan.  Codebooks here are the deterministic first-CODES subvectors
# (the IVF centroid trick), swapped for per-subspace KMeans in
# production with zero dataflow change.
# ---------------------------------------------------------------------------

_PQ_M = 4          # subspaces
_PQ_CODES = 16     # codewords per subspace
_PQ_DSUB = 16      # 64-dim fixture / 4
_PQ_K = 5
_PQ_NQ = 8

# squared L2 via three dot products, SAME op order both engines:
# (dot_aa - 2*dot_ab) + dot_bb
_L2 = "((list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})) + list_dot_product({b}, {b}))"


def _pq_sql() -> str:
    l2 = _L2
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (
      SELECT vec_id, m,
             v[(m * {_PQ_DSUB} + 1):((m + 1) * {_PQ_DSUB})] AS sub
      FROM e CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m)
    ),
    cb AS (
      SELECT m, CAST(vec_id AS BIGINT) AS j, sub AS w FROM subs WHERE vec_id < {_PQ_CODES}
    ),
    codes AS (
      SELECT vec_id, m, j AS code, d FROM (
        SELECT s.vec_id, s.m, cb.j,
               {l2.format(a='s.sub', b='cb.w')} AS d,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {l2.format(a='s.sub', b='cb.w')} ASC, cb.j ASC) AS ark
        FROM subs s JOIN cb USING (m)
      ) WHERE ark = 1
    ),
    qd AS (
      SELECT s.vec_id AS q_vec_id, s.m, cb.j,
             round({l2.format(a='s.sub', b='cb.w')}, 9) AS dq
      FROM subs s JOIN cb USING (m)
      WHERE s.vec_id < {_PQ_NQ}
    ),
    adc AS (
      SELECT qd.q_vec_id, c.vec_id AS cand_vec_id,
             {dec_double_sql("SUM(CAST(qd.dq AS DECIMAL(38, 9)))")} AS approx_d
      FROM codes c JOIN qd ON c.m = qd.m AND c.code = qd.j
      WHERE c.vec_id <> qd.q_vec_id
      GROUP BY 1, 2
    ),
    pq_top AS (
      SELECT q_vec_id, cand_vec_id FROM (
        SELECT q_vec_id, cand_vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_vec_id
                 ORDER BY approx_d ASC, cand_vec_id ASC) AS rk
        FROM adc
      ) WHERE rk <= {_PQ_K}
    ),
    exact_top AS (
      SELECT q_vec_id, cand_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS cand_vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {l2.format(a='q.v', b='c.v')} ASC, c.vec_id ASC) AS rk
        FROM e q CROSS JOIN e c
        WHERE q.vec_id < {_PQ_NQ} AND c.vec_id <> q.vec_id
      ) WHERE rk <= {_PQ_K}
    )
    SELECT x.q_vec_id,
           CAST(COUNT(p.cand_vec_id) AS BIGINT) AS n_hit,
           round(CAST(COUNT(p.cand_vec_id) AS DOUBLE) / {_PQ_K}, 6) AS recall_at_{_PQ_K}
    FROM exact_top x
    LEFT JOIN pq_top p
      ON x.q_vec_id = p.q_vec_id AND x.cand_vec_id = p.cand_vec_id
    GROUP BY x.q_vec_id
    """


@register("pq_adc_recall", _pq_sql())
def q_pq_adc_recall(spark, sf_dir):
    """Product quantization end to end, recall-audited: 64-dim vectors
    compress to {M} sub-space codes ({CODES} codewords each, ≈
    D·8 bytes → M·log2(CODES) bits); queries rank candidates by the
    asymmetric distance (sum of M precomputed query-to-codeword
    table entries, each quantized at 1e-9 and summed in DECIMAL so the
    M-term sum is order-free); output is per-query recall@5 against
    the exact-L2 top-5.  Honest-recall discipline of `ann_recall_eval`
    applied to the compression path.

    Scale plan: encoding is a candidate × (M·CODES) broadcast join —
    map-side, one pass, then the corpus is M small ints per vector;
    the ADC table is |queries|·M·CODES rows (broadcast); serving
    touches codes only — the 100 TB corpus is never rescanned at query
    time.  Codebooks: deterministic first-{CODES} subvectors here,
    per-subspace KMeans in production (dataflow unchanged)."""
    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double_array("embedding").alias("v"))
    ms = e.sparkSession.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    subs = e.crossJoin(F.broadcast(ms)).select(
        "vec_id",
        "m",
        F.expr(f"slice(v, m * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("sub"),
    )
    cb = subs.filter(F.col("vec_id") < _PQ_CODES).select(
        "m", F.col("vec_id").alias("j"), F.col("sub").alias("w")
    )

    def l2(a, b):
        return (dot(a, a) - 2 * dot(a, b)) + dot(b, b)

    paired = subs.join(F.broadcast(cb), "m")
    d = l2(F.col("sub"), F.col("w"))
    from pyspark.sql import Window

    w_ark = Window.partitionBy("vec_id", "m").orderBy(d.asc(), F.col("j").asc())
    codes = (
        paired.select("vec_id", "m", "j", F.row_number().over(w_ark).alias("ark"))
        .filter(F.col("ark") == 1)
        .select("vec_id", "m", F.col("j").alias("code"))
    )
    qd = (
        subs.filter(F.col("vec_id") < _PQ_NQ)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("q_vec_id"),
            "m",
            "j",
            F.round(l2(F.col("sub"), F.col("w")), 9).alias("dq"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (codes.m == qd.m) & (codes.code == qd.j) & (codes.vec_id != qd.q_vec_id),
        )
        .groupBy("q_vec_id", F.col("vec_id").alias("cand_vec_id"))
        .agg(
            F.sum(F.col("dq").cast("decimal(38, 9)"))
            .cast("double")
            .alias("approx_d")
        )
    )
    w_pq = Window.partitionBy("q_vec_id").orderBy(
        F.col("approx_d").asc(), F.col("cand_vec_id").asc()
    )
    pq_top = (
        adc.select("q_vec_id", "cand_vec_id", F.row_number().over(w_pq).alias("rk"))
        .filter(F.col("rk") <= _PQ_K)
        .select("q_vec_id", "cand_vec_id")
    )
    q = e.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("cand_vec_id"), F.col("v").alias("cv"))
    ex = q.crossJoin(c).filter(F.col("cand_vec_id") != F.col("q_vec_id"))
    w_ex = Window.partitionBy("q_vec_id").orderBy(
        l2(F.col("qv"), F.col("cv")).asc(), F.col("cand_vec_id").asc()
    )
    exact_top = (
        ex.select("q_vec_id", "cand_vec_id", F.row_number().over(w_ex).alias("rk"))
        .filter(F.col("rk") <= _PQ_K)
        .select("q_vec_id", "cand_vec_id")
    )
    hit = exact_top.join(
        pq_top.withColumnRenamed("cand_vec_id", "p_cand").withColumnRenamed(
            "q_vec_id", "p_q"
        ),
        (F.col("q_vec_id") == F.col("p_q"))
        & (F.col("cand_vec_id") == F.col("p_cand")),
        "left",
    )
    return hit.groupBy("q_vec_id").agg(
        F.count("p_cand").cast("long").alias("n_hit"),
        F.round(F.count("p_cand").cast("double") / _PQ_K, 6).alias(
            f"recall_at_{_PQ_K}"
        ),
    )


# ---------------------------------------------------------------------------
# Lloyd's k-means, unrolled and oracle-checked: deterministic first-K
# init, argmin assignment with id tiebreak, per-dimension DECIMAL-mean
# centroid updates — the algorithm `mllib_kmeans_*` runs as a rows-only
# twin, here certified through the full value-hash gate.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_T = 3

_KM_L2 = "((list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})) + list_dot_product({b}, {b}))"


def _kmeans_sql(k: int = _KM_K, iters: int = _KM_T) -> str:
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {k})",
    ]
    for i in range(1, iters + 1):
        d = _KM_L2.format(a="e.v", b="c.cv")
        parts.append(
            f"a{i} AS (SELECT vec_id, v, cid FROM ("
            f"SELECT e.vec_id, e.v, c.cid, "
            f"ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d} ASC, c.cid ASC) AS rk "
            f"FROM e CROSS JOIN c{i-1} c) WHERE rk = 1)"
        )
        # per-dimension decimal-exact mean, array rebuilt in dim order
        parts.append(
            f"c{i} AS (SELECT cid, list(m ORDER BY dim) AS cv FROM ("
            f"SELECT cid, dim, {dec_double_sql('SUM(CAST(val AS DECIMAL(38, 12)))')} / COUNT(*) AS m "
            f"FROM (SELECT cid, t.dim, v[t.dim] AS val FROM a{i} "
            f"CROSS JOIN (SELECT unnest(range(1, len((SELECT v FROM e LIMIT 1)) + 1)) AS dim) t) "
            f"GROUP BY cid, dim) GROUP BY cid)"
        )
    t = iters
    dfin = _KM_L2.format(a="a.v", b="c.cv")
    parts.append(
        f"scored AS (SELECT a.cid, round({dfin}, 9) AS d2 "
        f"FROM a{t} a JOIN c{t} c USING (cid))"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(cid AS BIGINT) AS cid, CAST(COUNT(*) AS BIGINT) AS n,
       {dec_double_sql("SUM(CAST(d2 AS DECIMAL(38, 9)))")} AS wcss
FROM scored GROUP BY cid
"""
    )


@register("kmeans_lloyd_exact", _kmeans_sql())
def q_kmeans_lloyd_exact(spark, sf_dir):
    """Lloyd's k-means over the embeddings (k=8, 3 unrolled
    iterations): deterministic first-k init, squared-L2 argmin
    assignment (cid tiebreak), centroid update as per-dimension
    DECIMAL-exact means — every float the two engines compare is
    produced by the same expression tree, so the final cluster sizes
    AND within-cluster sum of squares hash-match exactly.  The
    rows-only `mllib_kmeans_*` twins certify the library; this
    certifies the ALGORITHM.

    Scale plan: per iteration, assignment is a k-row broadcast cross
    join + argmin (map-side; the window partitions by vec_id), and the
    update is one (cid, dim)-keyed decimal aggregate — k·D cells.
    The posexplode fans each vector to D rows only inside the update
    aggregate, map-side combined; nothing quadratic anywhere."""
    from pyspark.sql import Window

    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double_array("embedding").alias("v"))
    cents = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    def l2(a, b):
        return (dot(a, a) - 2 * dot(a, b)) + dot(b, b)

    assigned = None
    for _ in range(_KM_T):
        paired = e.crossJoin(F.broadcast(cents))
        w = Window.partitionBy("vec_id").orderBy(
            l2(F.col("v"), F.col("cv")).asc(), F.col("cid").asc()
        )
        assigned = (
            paired.select("vec_id", "v", "cid", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") == 1)
            .select("vec_id", "v", "cid")
        )
        # the assignment feeds BOTH the centroid update and (on the
        # last iteration) the WCSS scoring — cut lineage so neither
        # consumer replays the argmin chain
        assigned = assigned.localCheckpoint(eager=False)
        dims = assigned.select(
            "cid", F.posexplode("v").alias("dim", "val")
        )
        means = dims.groupBy("cid", "dim").agg(
            (
                F.sum(F.col("val").cast("decimal(38, 12)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        cents = (
            means.groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("dm")
            )
            .select(
                "cid", F.transform("dm", lambda s: s["m"]).alias("cv")
            )
            .localCheckpoint(eager=False)  # k rows; cuts the iteration chain
        )
    scored = assigned.join(F.broadcast(cents), "cid").select(
        "cid", F.round(l2(F.col("v"), F.col("cv")), 9).alias("d2")
    )
    return scored.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("d2").cast("decimal(38, 9)"))
        .cast("double")
        .alias("wcss"),
    ).select(F.col("cid").cast("long").alias("cid"), "n", "wcss")


# ---------------------------------------------------------------------------
# PCA leading component by power iteration, oracle-checked: the
# covariance matrix accumulates from 1e-9-quantized centered products
# (row order free), then five unrolled matrix-vector steps with
# quantized norms — certifying the algorithm behind the rows-only
# `pca_embedding_variance` MLlib twin.
# ---------------------------------------------------------------------------

_PCA_D = 64
_PCA_T = 5
_PCA_TOP = 8


def _pca_sql() -> str:
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"dims AS (SELECT unnest(range(1, {_PCA_D + 1})) AS i)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e)",
        f"m AS (SELECT d.i, {q9_sum_sql('e.v[d.i]')} / ANY_VALUE(nn.n) AS mi "
        "FROM e CROSS JOIN dims d CROSS JOIN nn GROUP BY d.i)",
        "cells AS (SELECT e.vec_id, d.i, e.v[d.i] - m.mi AS c "
        "FROM e CROSS JOIN dims d JOIN m ON m.i = d.i)",
        f"cov AS MATERIALIZED (SELECT a.i, b.i AS j, {q9_sum_sql('a.c * b.c')} / ANY_VALUE(nn.n) AS cij "
        "FROM cells a JOIN cells b USING (vec_id) CROSS JOIN nn GROUP BY a.i, b.i)",
        "w0 AS (SELECT i, 1.0 AS w FROM dims)",
    ]
    for t in range(1, _PCA_T + 1):
        parts.append(
            f"u{t} AS (SELECT cov.i, {q9_sum_sql('cov.cij * w.w')} AS u "
            f"FROM cov JOIN w{t-1} w ON w.i = cov.j GROUP BY cov.i)"
        )
        parts.append(
            f"nm{t} AS (SELECT round(sqrt({q9_sum_sql('u * u')}), 9) AS s FROM u{t})"
        )
        parts.append(
            f"w{t} AS (SELECT u.i, u.u / nm.s AS w FROM u{t} u CROSS JOIN nm{t} nm)"
        )
    t = _PCA_T
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(i AS BIGINT) AS dim, round(w, 6) AS loading,
       (SELECT round(s, 6) FROM nm{t}) AS eigenvalue
FROM w{t}
ORDER BY abs(w) DESC, i ASC LIMIT {_PCA_TOP}
"""
    )


@register("pca_power_iteration_exact", _pca_sql())
def q_pca_power_iteration_exact(spark, sf_dir):
    """Leading principal component of the embedding covariance by five
    unrolled power-iteration steps, bit-exact across engines: the
    covariance accumulates from 1e-9-quantized centered products in
    DECIMAL (partition order can't move a bit), each matvec re-
    quantizes the same way, and the per-step norm rounds to the grid
    before dividing — so the top-{_PCA_TOP} loadings and the Rayleigh
    eigenvalue estimate hash-match exactly.  The rows-only MLlib
    `pca_embedding_variance` twin certifies the library; this
    certifies the algorithm.

    Scale plan: the covariance is ONE pass over the (vector, dim)
    cells — the self-join fans each vector to D² products map-side and
    the aggregate reduces to D² cells.  The five matvec steps then run
    IN-PROCESS on the collected D²-cell matrix (the config-bounded
    ≤k-row reduced-collect pattern, same class as the G8 confusion
    matrix and `markov_attribution_removal`'s r10 re-plan): D²=4096
    exact doubles, independent of data size, and the former Spark
    formulation spent ~20 scheduler-bound jobs on them (~17 s at
    sf0.1, ~3 s after; the distributed covariance pass is untouched).
    The in-process arithmetic replays the engine formulation bit-for-
    bit — repr-shortest HALF_UP 1e-9 quantization, exact Decimal
    accumulation (order-free), nearest-double conversion — and the
    unchanged DuckDB oracle pins it at both SFs.  At 10⁵+ dims you'd
    sketch (randomized SVD) — the documented tradeoff, same as
    exact-vs-KLL quantiles."""
    from ..operators.similarity import dot  # noqa: F401  (family marker)

    emb = load_table(spark, sf_dir, "embeddings")

    # The outer-product explode multiplies each input row D²-fold, so
    # the map side must be as parallel as the cluster even when the
    # vector table arrives in few scan partitions (a 2000-row parquet
    # is ONE split — the 8 M decimal products then ran serially: 16.7 s
    # at sf0.1, 0.3 s warm after spreading; no-op at real scale).
    from ..operators.skew import spread_scan

    e = spread_scan(emb.select("vec_id", as_double_array("embedding").alias("v")))
    dims = e.sparkSession.range(1, _PCA_D + 1).select(
        F.col("id").cast("int").alias("i")
    )
    nn = e.agg(F.count(F.lit(1)).cast("double").alias("n"))
    base = e.crossJoin(F.broadcast(dims)).select(
        "vec_id", "i", F.element_at("v", F.col("i")).alias("xi")
    )
    m = (
        base.crossJoin(F.broadcast(nn))
        .groupBy("i")
        .agg((q9_sum(F.col("xi")) / F.first("n")).alias("mi"))
    )
    # Centered vectors via the 1-row broadcast mean array; the outer
    # product explodes MAP-SIDE (flatten of the nested transform), so
    # the only covariance shuffle is the D²-cell partial aggregate.
    # (The previous cells-self-join pushed N·D² product rows through a
    # vec_id exchange first — same values, ~3× the wall time at sf0.1.)
    mu = m.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mi"))), lambda s: s["mi"]
        ).alias("mu")
    )
    cv = e.crossJoin(F.broadcast(mu)).select(
        F.zip_with("v", "mu", lambda x, mm: x - mm).alias("cv")
    )
    prods = cv.select(
        F.posexplode(
            F.flatten(
                F.transform(
                    "cv", lambda x: F.transform(F.col("cv"), lambda y: x * y)
                )
            )
        ).alias("p", "val")
    )
    cov = (
        prods.crossJoin(F.broadcast(nn))
        .groupBy(
            (F.floor(F.col("p") / _PCA_D) + 1).cast("int").alias("i"),
            (F.col("p") % _PCA_D + 1).cast("int").alias("j"),
        )
        .agg((q9_sum(F.col("val")) / F.first("n")).alias("cij"))
    )
    # Config-bounded reduced collect (D² = 4096 exact cells): the five
    # matvec steps below are float-identical to the former Spark
    # formulation — see the docstring; the unchanged oracle is the pin.
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    _GRID9 = Decimal("0.000000001")

    def d9(x: float) -> Decimal:
        # Spark's round(double, 9): shortest-repr value, HALF_UP to the
        # 1e-9 grid (java BigDecimal.valueOf semantics); cov cells and
        # unit-vector products are always finite here.
        return Decimal(repr(x)).quantize(_GRID9, rounding=ROUND_HALF_UP)

    def rnd(x: float, digits: int) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
            )
        )

    cells = [(r["i"], r["j"], r["cij"]) for r in cov.collect()]
    wv = {i: 1.0 for i in range(1, _PCA_D + 1)}
    s = 0.0
    for _ in range(_PCA_T):
        acc: dict = defaultdict(Decimal)  # exact, order-free accumulation
        for i, j, cij in cells:
            acc[i] += d9(cij * wv[j])
        u = {i: float(x) for i, x in acc.items()}  # nearest double
        nrm = Decimal(0)
        for x in u.values():
            nrm += d9(x * x)
        s = rnd(math.sqrt(float(nrm)), 9)
        wv = {i: x / s for i, x in u.items()}
    rows = sorted(
        (
            (int(i), rnd(x, 6), rnd(s, 6))
            for i, x in wv.items()
        ),
        key=lambda r: (-abs(r[1]), r[0]),
    )[:_PCA_TOP]
    return spark.createDataFrame(
        rows, "dim long, loading double, eigenvalue double"
    )


# ---------------------------------------------------------------------------
# Exact k-NN classification over the embeddings, accuracy-audited:
# the seventh member of the certified classical-ML family.
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_NQ = 40  # hash-held-out query set


def _knn_sql() -> str:
    l2 = _KM_L2
    split = hash_bucket_sql("vec_id", 10, seed="knn:")
    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v, ({split}) AS bkt
  FROM embeddings
),
test AS (SELECT * FROM e WHERE bkt = 0),
train AS (SELECT * FROM e WHERE bkt <> 0),
nn AS (
  SELECT q_vec_id, actual, label FROM (
    SELECT t.vec_id AS q_vec_id, t.label AS actual, c.label,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
             ORDER BY {l2.format(a='t.v', b='c.v')} ASC, c.vec_id ASC) AS rk
    FROM test t CROSS JOIN train c
  ) WHERE rk <= {_KNN_K}
),
voted AS (
  SELECT q_vec_id, actual, label AS predicted FROM (
    SELECT q_vec_id, actual, label,
           ROW_NUMBER() OVER (PARTITION BY q_vec_id
             ORDER BY COUNT(*) DESC, label ASC) AS vrk
    FROM nn GROUP BY q_vec_id, actual, label
  ) WHERE vrk = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS accuracy
FROM voted
"""


@register("knn_classifier_exact", _knn_sql())
def q_knn_classifier_exact(spark, sf_dir):
    """Exact {k}-NN label classification of a hash-held-out tenth of
    the embeddings against the rest: squared-L2 neighbors (vec_id
    tiebreak), majority vote (count desc, label asc), held-out
    accuracy — nearest-neighbor classification certified through the
    full oracle gate (the MLlib ANN twins are rows-only).  Random
    64-dim embeddings give near-chance accuracy; the number is the
    honest baseline the ANN recall variants are compared against.

    Scale plan: the brute-force scoring is the documented exact
    baseline (broadcast query side over the candidate scan, same as
    `cosine_topk`); the LSH/IVF/PQ paths are the approximate
    twins with published recall."""
    from pyspark.sql import Window

    from ..functions.hashing import hash_bucket
    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        as_double_array("embedding").alias("v"),
        hash_bucket("vec_id", 10, seed="knn:").alias("bkt"),
    )
    # Per-side squared norms ride each SIDE once (6k + 54k folds at
    # 30×), not each PAIR (was 3 folds × |pairs|); the pair expression
    # keeps the exact tree shape (q_n2 - 2·dot) + c_n2, so every
    # distance is bit-identical to the former per-pair formulation.
    test = e.filter(F.col("bkt") == 0).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("actual"),
        F.col("v").alias("qv"),
        dot(F.col("v"), F.col("v")).alias("q_n2"),
    )
    train = e.filter(F.col("bkt") != 0).select(
        F.col("vec_id").alias("cand_vec_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        dot(F.col("v"), F.col("v")).alias("c_n2"),
    )
    # Project the scalar distance IN the cross-join stage: the 128-dim
    # pair payload never reaches an exchange — the 30× run that sorted
    # pairs with both arrays attached (~1 KB/row over 324 M pairs) is
    # what OOMed the r10 scaling session; the skinny row is ~40 B.
    paired = test.crossJoin(train).select(
        "q_vec_id",
        "actual",
        "clabel",
        "cand_vec_id",
        (
            (F.col("q_n2") - 2 * dot(F.col("qv"), F.col("cv"))) + F.col("c_n2")
        ).alias("d2"),
    )
    w_nn = Window.partitionBy("q_vec_id").orderBy(
        F.col("d2").asc(), F.col("cand_vec_id").asc()
    )
    nn = (
        paired.select(
            "q_vec_id", "actual", "clabel", F.row_number().over(w_nn).alias("rk")
        )
        .filter(F.col("rk") <= _KNN_K)
    )
    w_vote = Window.partitionBy("q_vec_id").orderBy(
        F.col("c").desc(), F.col("clabel").asc()
    )
    voted = (
        nn.groupBy("q_vec_id", "actual", "clabel")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("vrk", F.row_number().over(w_vote))
        .filter(F.col("vrk") == 1)
    )
    correct = F.when(F.col("actual") == F.col("clabel"), 1).otherwise(0)
    return voted.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(correct).cast("long").alias("n_correct"),
        F.round(F.sum(correct).cast("double") / F.count(F.lit(1)), 6).alias(
            "accuracy"
        ),
    )


# ---------------------------------------------------------------------------
# Grid-density clustering (DBSCAN-lite): core cells by local density,
# clusters as connected components of the 8-neighborhood core-cell
# graph — density clustering certified end to end (DBSCAN itself is
# point-radius based; the grid form is its standard scalable
# approximation and is exactly reproducible).
# ---------------------------------------------------------------------------

_DB_EPS = 0.1
_DB_MINPTS = 4
_DB_ITERS = 10
_DB_OFF = 100  # cell-coordinate offset -> positive label encoding


def _dbscan_sql() -> str:
    parts = [
        "pts AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"cells AS (SELECT CAST(floor(e[1] / {_DB_EPS}) AS BIGINT) AS cx, "
        f"CAST(floor(e[2] / {_DB_EPS}) AS BIGINT) AS cy, COUNT(*) AS c "
        "FROM pts GROUP BY 1, 2)",
        f"core AS (SELECT cx, cy, c, (cx + {_DB_OFF}) * 1000 + (cy + {_DB_OFF}) AS lbl0 "
        f"FROM cells WHERE c >= {_DB_MINPTS})",
        "edges AS (SELECT a.cx AS ax, a.cy AS ay, b.cx AS bx, b.cy AS by "
        "FROM core a JOIN core b ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1)",
        "l0 AS (SELECT cx, cy, lbl0 AS lbl FROM core)",
    ]
    for i in range(1, _DB_ITERS + 1):
        parts.append(
            f"l{i} AS (SELECT e.ax AS cx, e.ay AS cy, MIN(l.lbl) AS lbl "
            f"FROM edges e JOIN l{i-1} l ON e.bx = l.cx AND e.by = l.cy "
            "GROUP BY e.ax, e.ay)"
        )
    t = _DB_ITERS
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
clustered AS (
  SELECT l.lbl AS cluster, COUNT(*) AS n_cells,
         CAST(SUM(c.c) AS BIGINT) AS n_points
  FROM l{t} l JOIN core c ON l.cx = c.cx AND l.cy = c.cy
  GROUP BY l.lbl
),
noise AS (
  SELECT CAST(-1 AS BIGINT) AS cluster,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_points
  FROM cells WHERE c < {_DB_MINPTS}
)
SELECT CAST(cluster AS BIGINT) AS cluster, CAST(n_cells AS BIGINT) AS n_cells, n_points FROM clustered
UNION ALL
SELECT cluster, n_cells, n_points FROM noise
"""
    )


@register("dbscan_grid_clusters", _dbscan_sql())
def q_dbscan_grid_clusters(spark, sf_dir):
    """Density clustering over the first two embedding dimensions:
    cells of side {eps} with >= {minpts} points are core; clusters are
    connected components of the 8-neighborhood core-cell graph
    (min-label propagation, {iters} supersteps — far beyond the grid
    diameter, so the fixpoint is certain); sparse cells report as the
    cluster = −1 noise row.  Density clustering joins the certified
    family beside the centroid-based k-means — the two disagree
    exactly where cluster shape is non-convex, which is the point.

    Scale plan: the point cloud collapses to the cell grid in ONE
    map-side-combined aggregate; everything after runs on the
    dim-sized cell relation (the 100 TB cost is the scan, not the
    clustering)."""
    from pyspark.sql import Window  # noqa: F401  (module convention)

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(as_double_array("embedding").alias("e"))
    cells = (
        pts.select(
            F.floor(F.element_at("e", 1) / _DB_EPS).cast("long").alias("cx"),
            F.floor(F.element_at("e", 2) / _DB_EPS).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = cells.localCheckpoint(eager=True)  # feeds core AND noise
    core = cells.filter(F.col("c") >= _DB_MINPTS).select(
        "cx",
        "cy",
        "c",
        ((F.col("cx") + _DB_OFF) * 1000 + (F.col("cy") + _DB_OFF)).alias("lbl"),
    )
    core = core.localCheckpoint(eager=True)  # dim-sized; reused everywhere
    a = core.select(F.col("cx").alias("ax"), F.col("cy").alias("ay"))
    b = core.select(F.col("cx").alias("bx"), F.col("cy").alias("by"))
    edges = a.join(
        b,
        (F.abs(F.col("ax") - F.col("bx")) <= 1)
        & (F.abs(F.col("ay") - F.col("by")) <= 1),
    ).localCheckpoint(eager=True)
    lbl = core.select("cx", "cy", "lbl")
    for _ in range(_DB_ITERS):
        lbl = (
            edges.join(
                lbl.select(
                    F.col("cx").alias("bx"), F.col("cy").alias("by"), "lbl"
                ),
                ["bx", "by"],
            )
            .groupBy(F.col("ax").alias("cx"), F.col("ay").alias("cy"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    clustered = (
        lbl.join(core.select("cx", "cy", "c"), ["cx", "cy"])
        .groupBy(F.col("lbl").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("c").cast("long").alias("n_points"),
        )
    )
    noise = cells.filter(F.col("c") < _DB_MINPTS).agg(
        F.lit(-1).cast("long").alias("cluster"),
        F.count(F.lit(1)).alias("n_cells"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_points"),
    )
    return clustered.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("n_cells").cast("long").alias("n_cells"),
        "n_points",
    ).unionByName(noise)


# ---------------------------------------------------------------------------
# Hard-negative mining: the contrastive-training data-prep step — for
# each anchor, the most-similar vectors that carry a DIFFERENT label.
# These near-miss negatives are what embedding-model trainers actually
# feed the loss (easy random negatives teach nothing); mining them is a
# corpus-engine job, not a trainer job.
# ---------------------------------------------------------------------------

_HNEG_NQ = 16  # anchors
_HNEG_K = 5

_HNEG_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_vec_id, label AS q_label,
         CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {_HNEG_NQ}
), c AS (
  SELECT vec_id AS cand_vec_id, label AS cand_label,
         CAST(embedding AS DOUBLE[]) AS ce
  FROM embeddings
), sims AS (
  SELECT q_vec_id, q_label, cand_vec_id, cand_label,
         list_dot_product(qe, ce)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS sim
  FROM c, q
  WHERE q_label <> cand_label
)
SELECT q_vec_id, q_label, cand_vec_id, cand_label, sim, rk FROM (
  SELECT q_vec_id, q_label, cand_vec_id, cand_label, sim,
         ROW_NUMBER() OVER (PARTITION BY q_vec_id
                            ORDER BY sim DESC, cand_vec_id ASC) AS rk
  FROM sims
) WHERE rk <= {_HNEG_K}
"""


@register("hard_negative_mining", _HNEG_SQL)
def q_hard_negative_mining(spark, sf_dir):
    """Top-k cross-label nearest neighbors per anchor — hard negatives
    for contrastive training.  Same exact-fold cosine and broadcast
    anchor-side shape as `cosine_topk` (the brute-force contract; at
    100 TB the candidate pass swaps to the IVF/LSH bucketed variants,
    `operators/similarity.py:92,143`, with the label-mismatch filter
    applied inside the bucket join).  The label filter runs BEFORE
    ranking, so negatives never displace into lower ranks when a
    same-label vector is nearer — rank is within the negative set, the
    semantics the loss wants."""
    from ..operators.similarity import _cosine_pre, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _HNEG_NQ).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_label"),
        as_double_array("embedding").alias("qe"),
    ).withColumn("__qn", l2_norm(F.col("qe")))
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"),
        F.col("label").alias("cand_label"),
        as_double_array("embedding").alias("ce"),
    ).withColumn("__cn", l2_norm(F.col("ce")))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_label") != F.col("cand_label"))
        .select(
            "q_vec_id",
            "q_label",
            "cand_vec_id",
            "cand_label",
            _cosine_pre(
                F.col("qe"), F.col("ce"), F.col("__qn"), F.col("__cn")
            ).alias("sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_vec_id").orderBy(F.desc("sim"), F.asc("cand_vec_id"))
    return sims.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _HNEG_K
    )


# ---------------------------------------------------------------------------
# k-center coreset selection (Gonzalez 1985 greedy farthest-point, the
# 2-approximation): pick K representatives maximizing coverage — the
# CORESET member of the curation family (SemDeDup prunes redundancy,
# k-means summarizes mass, k-center guarantees every point has a
# nearby representative, the property active-learning and data-pruning
# selection actually needs).  Each step promotes the point farthest
# from the current set; min-distances fold forward so the corpus is
# never rescanned against all centers.
# ---------------------------------------------------------------------------

_KC_K = 8

_KC_L2 = "(saa{a} - 2 * list_dot_product({va}, {vb}) + saa{b})"


def _kcenter_sql(k: int = _KC_K) -> str:
    parts = [
        """e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS saa
  FROM embeddings
),
c0 AS MATERIALIZED (SELECT vec_id, v, saa FROM e WHERE vec_id = 0),
m0 AS MATERIALIZED (
  SELECT e.vec_id, e.v, e.saa,
         round(e.saa - 2 * list_dot_product(e.v, c.v) + c.saa, 9) AS mind
  FROM e CROSS JOIN c0 c
)"""
    ]
    for i in range(1, k):
        parts.append(
            f"""b{i} AS MATERIALIZED (
  SELECT vec_id, v, saa FROM m{i - 1} ORDER BY mind DESC, vec_id ASC LIMIT 1
),
m{i} AS MATERIALIZED (
  SELECT m.vec_id, m.v, m.saa,
         LEAST(m.mind, round(m.saa - 2 * list_dot_product(m.v, b.v) + b.saa, 9)) AS mind
  FROM m{i - 1} m CROSS JOIN b{i} b
)"""
        )
    centers = "\n  UNION ALL ".join(
        ["SELECT 0 AS rank, vec_id, v, saa FROM c0"]
        + [f"SELECT {i} AS rank, vec_id, v, saa FROM b{i}" for i in range(1, k)]
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
centers AS MATERIALIZED ({centers}),
assigned AS (
  SELECT e.vec_id, c.rank, c.vec_id AS center_id,
         round(e.saa - 2 * list_dot_product(e.v, c.v) + c.saa, 9) AS d2,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY round(e.saa - 2 * list_dot_product(e.v, c.v) + c.saa, 9) ASC,
                                     c.rank ASC) AS rk
  FROM e CROSS JOIN centers c
)
SELECT CAST(rank AS BIGINT) AS sel_rank,
       CAST(center_id AS BIGINT) AS center_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       round(MAX(d2), 6) AS radius_sq
FROM assigned WHERE rk = 1
GROUP BY rank, center_id
"""
    )


@register("kcenter_coreset_select", _kcenter_sql())
def q_kcenter_coreset_select(spark, sf_dir):
    """Greedy k-center coreset over the embeddings (K={_KC_K}, seeded
    at vec_id 0): each step promotes the point with the largest
    min-squared-distance to the selected set (vec_id tiebreak), then
    every point is assigned to its nearest center and each center
    reports its selection rank, population, and coverage radius² —
    the max-coverage guarantee sheet of the 2-approximation.

    Scale plan: the point self-dot is computed once; each of the K−1
    steps is ONE scan of the checkpointed (point, mind) relation —
    the new center rides a 1-row broadcast, mind folds forward with a
    LEAST, and the argmax is TakeOrdered-shaped.  Total work K scans,
    never K×centers rescans; distances stay on the 1e-9 grid so the
    greedy choice sequence is engine-portable."""
    from pyspark.sql import Window

    from ..operators.similarity import as_double_array, dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = (
        emb.select("vec_id", as_double_array("embedding").alias("v"))
        .select("vec_id", "v", dot(F.col("v"), F.col("v")).alias("saa"))
        .localCheckpoint(eager=True)
    )

    def d2(va, vb, sa, sb):
        return F.round(sa - 2 * dot(va, vb) + sb, 9)

    c0 = e.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("rank"),
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("saa").alias("csaa"),
    ).localCheckpoint(eager=True)
    m = e.crossJoin(F.broadcast(c0.select("cv", "csaa"))).select(
        "vec_id",
        "v",
        "saa",
        d2(F.col("v"), F.col("cv"), F.col("saa"), F.col("csaa")).alias("mind"),
    ).localCheckpoint(eager=True)
    centers = [c0]
    for i in range(1, _KC_K):
        b = (
            m.orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.lit(i).alias("rank"),
                F.col("vec_id").alias("cid"),
                F.col("v").alias("cv"),
                F.col("saa").alias("csaa"),
            )
            .localCheckpoint(eager=True)
        )
        centers.append(b)
        m = (
            m.crossJoin(F.broadcast(b.select("cv", "csaa")))
            .select(
                "vec_id",
                "v",
                "saa",
                F.least(
                    F.col("mind"),
                    d2(F.col("v"), F.col("cv"), F.col("saa"), F.col("csaa")),
                ).alias("mind"),
            )
            .localCheckpoint(eager=True)
        )
    cents = centers[0]
    for c in centers[1:]:
        cents = cents.unionByName(c)
    cents = cents.localCheckpoint(eager=True)
    paired = e.crossJoin(F.broadcast(cents))
    dd = d2(F.col("v"), F.col("cv"), F.col("saa"), F.col("csaa"))
    wa = Window.partitionBy("vec_id").orderBy(dd.asc(), F.col("rank").asc())
    assigned = (
        paired.select(
            "vec_id", "rank", "cid", dd.alias("d2"), F.row_number().over(wa).alias("rk")
        )
        .filter(F.col("rk") == 1)
    )
    return assigned.groupBy("rank", "cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.round(F.max("d2"), 6).alias("radius_sq"),
    ).select(
        F.col("rank").cast("long").alias("sel_rank"),
        F.col("cid").cast("long").alias("center_vec_id"),
        "n_assigned",
        "radius_sq",
    )


# ---------------------------------------------------------------------------
# Embedding isotropy profile: per-dimension variance spread.  Strongly
# anisotropic embeddings (a few dominant directions) degrade cosine
# retrieval and near-dup thresholds (Ethayarajh 2019) — this is the
# cheap diagonal diagnostic a pipeline runs before trusting the
# `cosine_topk_*` family's thresholds on a new embedding version.
# ---------------------------------------------------------------------------

_ISO_SQL = f"""
WITH vals AS (
  SELECT i - 1 AS dim, v[i] AS val
  FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       UNNEST(range(1, len(v) + 1)) AS t(i)
),
per_dim AS (
  SELECT dim,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {q9_sum_sql("val")} AS s,
         {q9_sum_sql("val * val")} AS ss
  FROM vals GROUP BY dim
),
vars_ AS (
  SELECT dim, round((ss - s * s / n) / (n - 1.0), 9) AS var FROM per_dim
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
         {dec_double_sql("SUM(CAST(var AS DECIMAL(38, 9)))")} AS sv,
         {q9_sum_sql("var * var")} AS svv,
         MIN({{'var': var, 'dim': dim}}) AS lo,
         MAX({{'var': var, 'dim': dim}}) AS hi
  FROM vars_
),
nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings)
SELECT nv.n_vecs, agg.n_dims,
       round(sv / n_dims, 6) AS mean_var,
       round(sqrt((svv - sv * sv / n_dims) / (n_dims - 1.0))
             / (sv / n_dims), 6) AS cv_of_vars,
       CAST(hi.dim AS BIGINT) AS max_var_dim,
       round(hi.var, 6) AS max_var,
       CAST(lo.dim AS BIGINT) AS min_var_dim,
       round(lo.var, 6) AS min_var
FROM agg CROSS JOIN nv
"""


@register("embedding_isotropy_profile", _ISO_SQL)
def q_embedding_isotropy_profile(spark, sf_dir):
    """Diagonal isotropy diagnostic of the embedding table: per-dim
    variances (values quantized to the 1e-9 grid, DECIMAL-summed),
    their mean and coefficient of variation, and the extreme
    dimensions (lexicographic (var, dim) MIN/MAX, so ties are total).
    CV ≈ 0 means the diagonal is isotropic; large CV flags dominant
    directions that break cosine-threshold calibration.

    Scale plan: one posexplode feeds a map-side combined per-dim
    aggregate (D·N rows reduced to D); the summary is an aggregate
    over the D-row relation.  No joins, no windows, no covariance
    matrix — the full Σ spectrum is `pca_embedding_variance`'s job."""
    emb = load_table(spark, sf_dir, "embeddings")

    vals = emb.select(
        F.posexplode(as_double_array("embedding")).alias("dim", "val")
    )
    per_dim = vals.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        q9_sum(F.col("val")).alias("s"),
        q9_sum(F.col("val") * F.col("val")).alias("ss"),
    )
    vars_ = per_dim.select(
        "dim",
        F.round(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1.0),
            9,
        ).alias("var"),
    )
    agg = vars_.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.sum(F.col("var").cast("decimal(38, 9)")).cast("double").alias("sv"),
        q9_sum(F.col("var") * F.col("var")).alias("svv"),
        F.min(F.struct("var", "dim")).alias("lo"),
        F.max(F.struct("var", "dim")).alias("hi"),
    )
    nv = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    mean_var = F.col("sv") / F.col("n_dims")
    return agg.crossJoin(F.broadcast(nv)).select(
        "n_vecs",
        "n_dims",
        F.round(mean_var, 6).alias("mean_var"),
        F.round(
            F.sqrt(
                (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n_dims"))
                / (F.col("n_dims") - 1.0)
            )
            / mean_var,
            6,
        ).alias("cv_of_vars"),
        F.col("hi.dim").cast("long").alias("max_var_dim"),
        F.round(F.col("hi.var"), 6).alias("max_var"),
        F.col("lo.dim").cast("long").alias("min_var_dim"),
        F.round(F.col("lo.var"), 6).alias("min_var"),
    )


def _hard_neg_sql(k: int = 5) -> str:
    from ..operators.dedup import hyperplanes

    hps = hyperplanes(4, 64)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {hps[b]!r}) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(4)
    )
    flips = ", ".join(f"xor(bucket, {1 << b})" for b in range(4))
    return f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                      CAST({bucket} AS BIGINT) AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS q_vec_id, label AS q_label, v AS qe,
                 unnest([bucket, {flips}]) AS bucket
          FROM e WHERE vec_id < 8),
    c AS (SELECT vec_id AS cand_vec_id, label AS neg_label, v AS ce, bucket FROM e),
    sims AS (
      SELECT q_vec_id, q_label, cand_vec_id, neg_label,
             list_dot_product(qe, ce)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS sim
      FROM c JOIN q USING (bucket)
      WHERE q_vec_id <> cand_vec_id AND q_label <> neg_label
    )
    SELECT q_vec_id, q_label, cand_vec_id, neg_label, sim, rk FROM (
      SELECT q_vec_id, q_label, cand_vec_id, neg_label, sim,
             ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY sim DESC, cand_vec_id ASC) AS rk
      FROM sims
    ) WHERE rk <= {k}
    """


@register("hard_negative_mining_lsh", _hard_neg_sql())
def q_hard_negative_mining_lsh(spark, sf_dir):
    """Contrastive hard-negative mining: per query vector, the top-5
    most-cosine-similar candidates carrying a DIFFERENT label — the
    high-similarity wrong-class pairs contrastive embedding training
    mines from a labeled corpus.  Multi-probe sign-LSH candidate
    generation (bucket equi-join, broadcast query side, probe fan-out
    on the small side only) — same scale path as
    `cosine_topk_lsh_multiprobe`, same exact-double fold parity with
    the oracle; the label filter rides the bucket join."""
    from ..operators.dedup import hyperplanes
    from ..operators.similarity import hard_negatives_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_label"),
        as_double_array("embedding").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"),
        F.col("label").alias("neg_label"),
        as_double_array("embedding").alias("ce"),
    )
    return hard_negatives_lsh(q, c, k=5, hyperplanes=hyperplanes(4, 64))
