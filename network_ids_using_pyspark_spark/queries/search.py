"""Relevance-search queries: BM25 top-k retrieval over the corpus.

Query terms mix one selective token with two common ones so idf does
real work on the fixture (the word-soup vocabulary is small; 'dup'
appears in ~5% of docs, the others in ~80% — BM25 must rank the
selective-term docs on top for the result to hash-match).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql
from ..operators.search import bm25_topk, bm25_topk_sql
from ..sources.tables import load_table
from . import register

TERMS = ["dup", "stream", "merge"]
TOP_K = 20


@register("bm25_search_topk", bm25_topk_sql(TERMS, TOP_K))
def q_bm25_search_topk(spark, sf_dir):
    """BM25 top-20 for the query {dup, stream, merge}: map-side tf,
    one-row broadcast corpus stats, TakeOrderedAndProject top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, TERMS, k=TOP_K)


# ---------------------------------------------------------------------------
# ANN quality gate: recall@k of both approximate indexes vs the exact
# top-k, computed inside the engine (the eval every production ANN
# deployment runs before trusting an index).
# ---------------------------------------------------------------------------

_EVAL_K = 10


def _recall_sql(k: int = _EVAL_K) -> str:
    from .similarity import _brute_topk_sql, _ivf_topk_sql, _lsh_topk_sql

    return f"""
WITH exact AS ({_brute_topk_sql(k)}),
lsh AS ({_lsh_topk_sql(k)}),
mp AS ({_lsh_topk_sql(k, probe_hamming=1)}),
ivf AS ({_ivf_topk_sql(k=k)}),
hl AS (
  SELECT e.q_vec_id, COUNT(*) AS n FROM exact e
  JOIN lsh l ON e.q_vec_id = l.q_vec_id AND e.cand_vec_id = l.cand_vec_id
  GROUP BY e.q_vec_id
),
hm AS (
  SELECT e.q_vec_id, COUNT(*) AS n FROM exact e
  JOIN mp m ON e.q_vec_id = m.q_vec_id AND e.cand_vec_id = m.cand_vec_id
  GROUP BY e.q_vec_id
),
hi AS (
  SELECT e.q_vec_id, COUNT(*) AS n FROM exact e
  JOIN ivf i ON e.q_vec_id = i.q_vec_id AND e.cand_vec_id = i.cand_vec_id
  GROUP BY e.q_vec_id
)
SELECT e.q_vec_id,
       COUNT(*) AS n_exact,
       COALESCE(ANY_VALUE(hl.n), 0) AS n_lsh_hits,
       COALESCE(ANY_VALUE(hm.n), 0) AS n_mp_hits,
       COALESCE(ANY_VALUE(hi.n), 0) AS n_ivf_hits,
       CAST(COALESCE(ANY_VALUE(hl.n), 0) AS DOUBLE) / {k} AS recall_lsh,
       CAST(COALESCE(ANY_VALUE(hm.n), 0) AS DOUBLE) / {k} AS recall_lsh_multiprobe,
       CAST(COALESCE(ANY_VALUE(hi.n), 0) AS DOUBLE) / {k} AS recall_ivf
FROM exact e
LEFT JOIN hl ON e.q_vec_id = hl.q_vec_id
LEFT JOIN hm ON e.q_vec_id = hm.q_vec_id
LEFT JOIN hi ON e.q_vec_id = hi.q_vec_id
GROUP BY e.q_vec_id
"""


@register("ann_recall_eval", _recall_sql())
def q_ann_recall_eval(spark, sf_dir):
    """Per-query recall@10 of the sign-LSH and IVF indexes against the
    exact brute-force top-10.  All three rankings come from the same
    operators the standalone queries use; the ground-truth set is the
    expensive side and it's computed ONCE here — at 100 TB this runs on
    a sampled query set, never the full corpus, and the approximate
    sides stay bucket-pruned exactly as in production."""
    from ..operators.dedup import hyperplanes
    from ..operators.similarity import (
        as_double_array,
        cosine_topk,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_vec_id"), as_double_array("embedding").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_vec_id"), as_double_array("embedding").alias("ce")
    )
    exact = cosine_topk(q, c, k=_EVAL_K).select("q_vec_id", "cand_vec_id")
    lsh = cosine_topk_lsh(q, c, k=_EVAL_K, hyperplanes=hyperplanes(4, 64)).select(
        "q_vec_id", "cand_vec_id"
    )
    mp = cosine_topk_lsh(
        q, c, k=_EVAL_K, hyperplanes=hyperplanes(4, 64), probe_hamming=1
    ).select("q_vec_id", "cand_vec_id")
    ivf = cosine_topk_ivf(q, c, k=_EVAL_K, n_centroids=8, nprobe=2).select(
        "q_vec_id", "cand_vec_id"
    )

    def hits(approx, name):
        return (
            exact.join(approx, ["q_vec_id", "cand_vec_id"])
            .groupBy("q_vec_id")
            .agg(F.count(F.lit(1)).alias(name))
        )

    base = exact.groupBy("q_vec_id").agg(F.count(F.lit(1)).alias("n_exact"))
    out = (
        base.join(hits(lsh, "nl"), "q_vec_id", "left")
        .join(hits(mp, "nm"), "q_vec_id", "left")
        .join(hits(ivf, "ni"), "q_vec_id", "left")
        .select(
            "q_vec_id",
            "n_exact",
            F.coalesce("nl", F.lit(0)).alias("n_lsh_hits"),
            F.coalesce("nm", F.lit(0)).alias("n_mp_hits"),
            F.coalesce("ni", F.lit(0)).alias("n_ivf_hits"),
            (F.coalesce("nl", F.lit(0)).cast("double") / _EVAL_K).alias("recall_lsh"),
            (F.coalesce("nm", F.lit(0)).cast("double") / _EVAL_K).alias(
                "recall_lsh_multiprobe"
            ),
            (F.coalesce("ni", F.lit(0)).cast("double") / _EVAL_K).alias("recall_ivf"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Hybrid retrieval: RRF fusion of BM25 and Dirichlet query-likelihood.
# ---------------------------------------------------------------------------

from ..operators.search import hybrid_rrf_sql, hybrid_rrf_topk  # noqa: E402

_HY_K = 10
_HY_POOL = 50


@register("hybrid_search_rrf", hybrid_rrf_sql(TERMS, k=_HY_K, pool=_HY_POOL))
def q_hybrid_search_rrf(spark, sf_dir):
    """Reciprocal-rank fusion of two rankers over the same query —
    BM25 and a Dirichlet-smoothed query-likelihood LM — the classic
    hybrid-retrieval combiner for incomparable score scales (and the
    same shape used to fuse lexical with vector ANN rankings).  On the
    fixture the two rankers genuinely disagree (different top-1), so
    the fused ordering certifies real fusion, not a pass-through.

    Scale plan: one corpus scan computes both scores map-side off the
    shared 1-row stats broadcast; each pool cut is
    TakeOrderedAndProject; ranking windows and the fusion join touch
    ≤ pool rows.  No corpus-sized sort or window anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    return hybrid_rrf_topk(docs, TERMS, k=_HY_K, pool=_HY_POOL)


# ---------------------------------------------------------------------------
# IR ranking metrics: MRR / P@5 / nDCG@5 of the BM25 ranking against
# exact term-containment relevance — the retrieval-quality harness
# (the lexical sibling of `ann_recall_eval`).
# ---------------------------------------------------------------------------

# relevance PARTIALLY aligned with the ranking (contains the high-idf
# 'dup' but not 'stream'): saturated 1.0 — or flat 0.0 — metrics
# certify nothing; this definition yields MRR 0.25 / P@5 0.2 at the
# gate SF, exercising every branch of MRR/P@k/nDCG
_IR_REL_TERM = "dup"
_IR_K = 5
_IR_POOL = 20


def _ir_eval_sql() -> str:
    bm = bm25_topk_sql(TERMS, _IR_POOL)
    # 1/log2(i+1) discount constants as exact Python literals (libm
    # parity discipline)
    discounts = ", ".join(repr(1.0 / __import__("math").log2(i + 1)) for i in range(1, _IR_POOL + 1))
    return f"""
WITH ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
  FROM ({bm})
),
rel AS (
  SELECT doc_id FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
  )
  WHERE len(list_filter(w, t -> t = '{_IR_REL_TERM}')) > 0
    AND len(list_filter(w, t -> t = 'stream')) = 0
),
j AS (
  SELECT r.rk, CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM ranked r LEFT JOIN rel ON r.doc_id = rel.doc_id
),
n_rel AS (SELECT COUNT(*) AS nr FROM rel),
d AS (SELECT unnest([{discounts}]) AS disc, generate_subscripts([{discounts}], 1) AS i)
SELECT CAST((SELECT nr FROM n_rel) AS BIGINT) AS n_relevant,
       round(COALESCE(1.0 / MIN(CASE WHEN is_rel = 1 THEN rk END), 0.0), 6) AS mrr,
       round(CAST(SUM(CASE WHEN rk <= {_IR_K} THEN is_rel ELSE 0 END) AS DOUBLE)
             / {_IR_K}, 6) AS p_at_{_IR_K},
       round(
         {dec_double_sql(
             f"SUM(CASE WHEN rk <= {_IR_K} AND is_rel = 1"
             " THEN CAST(round((SELECT disc FROM d WHERE d.i = rk), 9)"
             " AS DECIMAL(20, 9)) ELSE CAST(0 AS DECIMAL(20, 9)) END)"
         )}
         / (SELECT {dec_double_sql("SUM(CAST(round(disc, 9) AS DECIMAL(20, 9)))")}
            FROM d WHERE i <= LEAST({_IR_K}, (SELECT nr FROM n_rel))), 6)
         AS ndcg_at_{_IR_K}
FROM j
"""


@register("search_ranking_metrics", _ir_eval_sql())
def q_search_ranking_metrics(spark, sf_dir):
    """MRR, precision@{_IR_K}, and nDCG@{_IR_K} of the BM25 top-{_IR_POOL}
    against exact containment relevance (docs containing
    '{_IR_REL_TERM}').  Discount constants 1/log₂(i+1) are
    Python-computed literals quantized to 1e-9 and summed in DECIMAL —
    the libm/DECIMAL discipline — so DCG and the ideal DCG divide as
    identical doubles.

    Scale plan: the ranking is the existing TakeOrdered BM25 path; the
    relevance join and all metric arithmetic run on the {_IR_POOL}-row
    pool plus one corpus scan for the (small) relevant set."""
    import math

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = bm25_topk(docs, TERMS, k=_IR_POOL).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rk"),
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    rel = docs.filter(
        F.array_contains(toks, _IR_REL_TERM) & ~F.array_contains(toks, "stream")
    ).select("doc_id", F.lit(1).alias("is_rel"))
    n_rel = rel.agg(F.count(F.lit(1)).alias("nr"))
    j = ranked.join(F.broadcast(rel), "doc_id", "left").select(
        "rk", F.coalesce("is_rel", F.lit(0)).alias("is_rel")
    )
    disc = [1.0 / math.log2(i + 1) for i in range(1, _IR_POOL + 1)]
    disc_arr = F.array(*[F.lit(v) for v in disc])
    dq = lambda c: F.round(c, 9).cast("decimal(20, 9)")  # noqa: E731
    dcg_term = F.when(
        (F.col("rk") <= _IR_K) & (F.col("is_rel") == 1),
        dq(F.element_at(disc_arr, F.col("rk"))),
    ).otherwise(F.lit(0).cast("decimal(20, 9)"))
    agg = j.crossJoin(F.broadcast(n_rel)).agg(
        F.first("nr").alias("nr"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rk"))).alias("first_rel"),
        F.sum(F.when(F.col("rk") <= _IR_K, F.col("is_rel")).otherwise(0)).alias(
            "hits_k"
        ),
        F.sum(dcg_term).cast("double").alias("dcg"),
    )
    # ideal DCG over min(K, n_rel) positions, decimal-summed identically
    idcg_expr = None
    for i in range(1, _IR_K + 1):
        term = F.when(
            F.col("nr") >= i, dq(F.lit(disc[i - 1]))
        ).otherwise(F.lit(0).cast("decimal(20, 9)"))
        idcg_expr = term if idcg_expr is None else idcg_expr + term
    return agg.select(
        F.col("nr").cast("long").alias("n_relevant"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(F.col("hits_k").cast("double") / _IR_K, 6).alias(f"p_at_{_IR_K}"),
        F.round(
            F.col("dcg") / idcg_expr.cast("double"), 6
        ).alias(f"ndcg_at_{_IR_K}"),
    )


# ---------------------------------------------------------------------------
# MMR diversified reranking: the retrieval step between ANN candidate
# generation and the context window — greedily pick results that are
# relevant to the query but not redundant with what's already picked
# (Carbonell & Goldstein 1998).  Runs over a per-query shortlist by
# construction (the pool IS the output of the top-k retrievers above),
# so the iterative part is constant-sized no matter the corpus scale —
# the same histogram-not-corpus posture as BPE training.
# ---------------------------------------------------------------------------

_MMR_Q = 0  # anchor vector
_MMR_POOL = 12
_MMR_K = 5
_MMR_L = 0.7  # relevance weight
_MMR_ML = 0.3  # diversity weight — literal, NOT computed as 1-0.7
#               (Python's 1 - 0.7 is 0.30000000000000004; the SQL
#                literal 0.3 is not — both sides use this constant)


def _mmr_sql() -> str:
    cos = (
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        " CAST(e.embedding AS DOUBLE[]))) * q.qn)"
    )
    parts = [
        f"""
WITH q AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS qe,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS qn
  FROM embeddings WHERE vec_id = {_MMR_Q}
),
pool AS MATERIALIZED (
  SELECT vec_id, rel FROM (
    SELECT vec_id, rel, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rnk
    FROM (
      SELECT e.vec_id, {cos} AS rel
      FROM embeddings e, q WHERE e.vec_id <> {_MMR_Q}
    )
  ) WHERE rnk <= {_MMR_POOL}
),
pe AS MATERIALIZED (
  SELECT p.vec_id, p.rel, CAST(e.embedding AS DOUBLE[]) AS ve,
         sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[]))) AS nrm
  FROM pool p JOIN embeddings e USING (vec_id)
),
pp AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) AS sim
  FROM pe a, pe b WHERE a.vec_id <> b.vec_id
),
s0 AS MATERIALIZED (
  SELECT vec_id, rel, 0.0 AS max_sim_sel, {_MMR_L} * rel AS mmr
  FROM pe ORDER BY mmr DESC, vec_id LIMIT 1
),
sel1 AS MATERIALIZED (SELECT vec_id FROM s0)"""
    ]
    for s in range(1, _MMR_K):
        parts.append(f"""
s{s} AS MATERIALIZED (
  SELECT vec_id, rel, ms AS max_sim_sel,
         {_MMR_L} * rel - {_MMR_ML} * ms AS mmr
  FROM (
    SELECT p.vec_id, p.rel, MAX(pp.sim) AS ms
    FROM pe p JOIN pp ON pp.va = p.vec_id
      AND pp.vb IN (SELECT vec_id FROM sel{s})
    WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{s})
    GROUP BY p.vec_id, p.rel
  )
  ORDER BY mmr DESC, vec_id LIMIT 1
),
sel{s + 1} AS MATERIALIZED (
  SELECT vec_id FROM sel{s} UNION ALL SELECT vec_id FROM s{s}
)""")
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({s + 1} AS INTEGER) AS mmr_rank, vec_id,"
        f" rel AS rel_sim, max_sim_sel AS max_sim_selected,"
        f" mmr AS mmr_score FROM s{s}"
        for s in range(_MMR_K)
    )
    return ",".join(parts) + "\n" + finals


@register("mmr_diversified_rerank", _mmr_sql())
def q_mmr_diversified_rerank(spark, sf_dir):
    """Greedy MMR selection of K results from the cosine top-{pool}:
    each step takes argmax of λ·rel − (1−λ)·max-sim-to-selected with a
    total (score DESC, vec_id) tie-break.  All cosines are the same
    sequential fold as `cosine_topk` (with per-row precomputed norms),
    so both engines walk an identical score sequence.

    Scale plan: pool construction is the existing top-k machinery
    (broadcast anchor, TakeOrderedAndProject); the K-step greedy loop
    touches only the pool-sized relations (argmax via 1-row broadcast,
    lineage cut per step) — per-query cost is O(pool²), independent of
    corpus size."""
    from pyspark.sql import Window

    from ..operators.similarity import _cosine_pre, as_double_array, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == _MMR_Q)
        .select(as_double_array("embedding").alias("qe"))
        .withColumn("qn", l2_norm(F.col("qe")))
    )
    scored = (
        emb.filter(F.col("vec_id") != _MMR_Q)
        .select("vec_id", as_double_array("embedding").alias("ve"))
        .withColumn("nrm", l2_norm(F.col("ve")))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "ve",
            "nrm",
            _cosine_pre(
                F.col("qe"), F.col("ve"), F.col("qn"), F.col("nrm")
            ).alias("rel"),
        )
    )
    pe = (
        scored.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a = pe.select(
        F.col("vec_id").alias("va"), F.col("ve").alias("vea"), F.col("nrm").alias("na")
    )
    b = pe.select(
        F.col("vec_id").alias("vb"), F.col("ve").alias("veb"), F.col("nrm").alias("nb")
    )
    pp = (
        a.crossJoin(b)
        .filter(F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            _cosine_pre(
                F.col("vea"), F.col("veb"), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    cand = pe.select("vec_id", "rel")
    sel = None
    picks = []
    for s in range(_MMR_K):
        if sel is None:
            stage = cand.select(
                "vec_id",
                "rel",
                F.lit(0.0).alias("max_sim_sel"),
                (F.lit(_MMR_L) * F.col("rel")).alias("mmr"),
            )
        else:
            ms = (
                pp.join(F.broadcast(sel.select(F.col("vec_id").alias("vb"))), "vb")
                .groupBy(F.col("va").alias("vec_id"))
                .agg(F.max("sim").alias("ms"))
            )
            stage = (
                cand.join(sel, "vec_id", "left_anti")
                .join(ms, "vec_id")
                .select(
                    "vec_id",
                    "rel",
                    F.col("ms").alias("max_sim_sel"),
                    (
                        F.lit(_MMR_L) * F.col("rel")
                        - F.lit(_MMR_ML) * F.col("ms")
                    ).alias("mmr"),
                )
            )
        best = (
            stage.orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(
            best.select(
                F.lit(s + 1).cast("int").alias("mmr_rank"),
                "vec_id",
                F.col("rel").alias("rel_sim"),
                F.col("max_sim_sel").alias("max_sim_selected"),
                F.col("mmr").alias("mmr_score"),
            )
        )
        newsel = best.select("vec_id")
        sel = (
            newsel if sel is None else sel.unionByName(newsel)
        ).localCheckpoint(eager=True)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Rank-biased overlap between two part rankings (price-ranked vs
# size-ranked): the top-weighted ranking-similarity measure used to
# compare retrieval systems (Webber et al., TOIS 2010) — here the
# truncated-at-K prefix sum RBO@K = Σ_{d≤K} (1−p)p^(d−1)·|A_d∩B_d|/d.
# The geometric weights are precomputed ONCE in Python and embedded as
# identical 17-digit literals on both engines (pow() may differ in the
# last ulp between runtimes); overlap counts stay integer; the
# weighted terms are 1e-12-quantized and DECIMAL-summed.
# ---------------------------------------------------------------------------

_RBO_K = 50
_RBO_P = 0.9


def _rbo_weights() -> list[str]:
    """Per-depth weight (1−p)p^(d−1)/d, pre-divided by d and quantized
    to EXACTLY 12 decimal places in Python's decimal domain.  p=0.9
    powers terminate in decimal, so any float-side rounding of
    wt·x/d lands exactly on 1e-12 grid ties where engine round()
    semantics differ (the bug this replaced); instead BOTH engines
    receive the identical 12-dp literal, keep it in DECIMAL, and the
    weighted sum wd·x runs exactly — zero float ops until the final
    cast."""
    from decimal import ROUND_HALF_EVEN, Decimal

    q = Decimal(1).scaleb(-12)
    return [
        str(
            (
                (1 - Decimal("0.9")) * Decimal("0.9") ** (d - 1) / d
            ).quantize(q, rounding=ROUND_HALF_EVEN)
        )
        for d in range(1, _RBO_K + 1)
    ]


_RBO_WD = _rbo_weights()

_RBO_SQL = f"""
WITH ra AS (
  SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS r
  FROM part QUALIFY r <= {_RBO_K}
),
rb AS (
  SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_size DESC, p_partkey ASC) AS r
  FROM part QUALIFY r <= {_RBO_K}
),
common AS (
  SELECT greatest(ra.r, rb.r) AS entry_depth
  FROM ra JOIN rb USING (p_partkey)
),
w(d, wd) AS (VALUES {", ".join(f"({d}, {w})" for d, w in zip(range(1, _RBO_K + 1), _RBO_WD))}),
xd AS (
  SELECT w.d, CAST(w.wd AS DECIMAL(14, 12)) AS wd,
         (SELECT COUNT(*) FROM common c WHERE c.entry_depth <= w.d) AS x
  FROM w
)
SELECT CAST({_RBO_K} AS BIGINT) AS k,
       CAST({_RBO_P} AS DOUBLE) AS p,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM common) AS overlap_at_k,
       round((SELECT CAST(COUNT(*) AS DOUBLE) FROM common)
             / ({2 * _RBO_K} - (SELECT COUNT(*) FROM common)), 6) AS jaccard_topk,
       {dec_double_sql("(SELECT SUM(CAST(wd * x AS DECIMAL(38, 12))) FROM xd)")} AS rbo_at_k
"""


@register("rank_biased_overlap_parts", _RBO_SQL)
def q_rank_biased_overlap_parts(spark, sf_dir):
    """RBO@50 (p=0.9) between the price-ranked and size-ranked part
    lists, plus the unweighted overlap and top-K Jaccard.  Each item
    common to both prefixes contributes to every depth ≥ its later
    entry rank, so one `greatest(ra, rb)` per item replaces a per-depth
    intersection.

    Scale plan: each top-K side is a TakeOrdered limit (never a global
    row_number over the fact table); ranks are assigned by a window
    over the ≤K-row bounded relation; the depth table (K rows) and the
    common set (≤K rows) broadcast."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    a_sorted = (
        part.select("p_partkey", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(_RBO_K)
    )
    b_sorted = (
        part.select("p_partkey", "p_size")
        .orderBy(F.desc("p_size"), F.asc("p_partkey"))
        .limit(_RBO_K)
    )
    wa = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    wb = Window.orderBy(F.desc("p_size"), F.asc("p_partkey"))
    ra = a_sorted.select("p_partkey", F.row_number().over(wa).alias("r"))
    rb = b_sorted.select("p_partkey", F.row_number().over(wb).alias("r2"))
    common = (
        ra.join(rb, "p_partkey")
        .select(F.greatest("r", "r2").alias("entry_depth"))
        .localCheckpoint(eager=True)  # ≤K rows, reused per depth
    )
    from decimal import Decimal

    spark_w = spark.createDataFrame(
        [(d, Decimal(w)) for d, w in zip(range(1, _RBO_K + 1), _RBO_WD)],
        "d int, wd decimal(14, 12)",
    )
    # ADVICE r6: Spark cannot broadcast the PRESERVED (left) side of a
    # left outer join — a hint there is silently ignored.  The ≤K-row
    # `common` set is the build side Spark can actually broadcast.
    xd = (
        spark_w.join(
            F.broadcast(common), common["entry_depth"] <= spark_w["d"], "left"
        )
        .groupBy("d", "wd")
        .agg(F.count("entry_depth").alias("x"))
    )
    body = xd.select(
        (F.col("wd") * F.col("x")).cast("decimal(38, 12)").alias("t")
    ).agg(F.sum("t").cast("double").alias("rbo"))
    n_common = common.count()
    return body.select(
        F.lit(_RBO_K).cast("long").alias("k"),
        F.lit(_RBO_P).cast("double").alias("p"),
        F.lit(n_common).cast("long").alias("overlap_at_k"),
        F.round(
            F.lit(float(n_common)) / F.lit(2 * _RBO_K - n_common), 6
        ).alias("jaccard_topk"),
        F.col("rbo").alias("rbo_at_k"),
    )
