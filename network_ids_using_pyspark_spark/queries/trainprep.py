"""Training-run data preparation: ordering, curriculum, mixtures, budgets.

The reference stops at train/test splitting (modelling.py:91-93's
collect-then-isin split; ISAA_Review_3.ipynb:900's unseeded
randomSplit).  A corpus engine feeding an actual training run needs the
steps AFTER the corpus is clean: a deterministic global shuffle per
epoch, difficulty binning for curricula, domain-mixture reweighting
toward a target distribution, and hard token-budget apportionment
across sources.  All four are deterministic (portable-hash or integer
arithmetic) so every one carries a full DuckDB oracle — the same
discipline as the sampling family (queries/sampling.py).

Scale notes per query in the docstrings; none of these touches a
global window over the corpus (the classic mistake — a 100 TB NTILE is
a global sort).  Orderings are expressed as sort KEYS the writer can
`repartitionByRange().sortWithinPartitions()` on; per-source relations
are |sources|-bounded and free to window over.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    hash_bucket,
    hash_bucket_sql,
    portable_hash64,
    portable_hash64_sql,
)
from ..functions.numeric import (
    dec_avg,
    dec_avg_sql,
    dec_double_sql,
    dec_sum_sql,
    grid_sum,
    grid_sum_sql,
    quantize,
    quantize_sql,
)
from ..sources.tables import load_table
from . import register

_N_EPOCHS = 2
_N_SHARDS = 32

# the per-epoch salted portable hash
_EPOCH_KEY_SQL = portable_hash64_sql(
    "concat(CAST(e.epoch AS VARCHAR), '-', CAST(d.doc_id AS VARCHAR))", seed="epoch-"
)

_EPOCH_SQL = f"""
SELECT d.doc_id, e.epoch,
       {_EPOCH_KEY_SQL} AS order_key,
       {_EPOCH_KEY_SQL} % {_N_SHARDS} AS shard
FROM documents d
CROSS JOIN (SELECT UNNEST(ARRAY[{", ".join(str(i) for i in range(_N_EPOCHS))}]) AS epoch) e
"""


@register("epoch_shuffle_order", _EPOCH_SQL)
def q_epoch_shuffle_order(spark, sf_dir):
    """Deterministic per-epoch global training order.

    Each epoch gets an independent pseudo-random permutation: the sort
    key is the portable 60-bit hash of the doc id salted with the epoch
    number, and the shard is that key mod N.  No RNG state, no driver
    round-trip, restart-safe: any executor can recompute any row's
    position.

    Scale plan: this is the 100 TB replacement for "orderBy(rand())"
    (a global sort with non-reproducible keys): the writer lays the
    epoch out with repartitionByRange(shard, order_key) +
    sortWithinPartitions(order_key) — a range shuffle, not a total
    order on the driver, and re-running any failed shard reproduces
    identical bytes.  The query itself is map-side only (hash + mod per
    row; the 2-row epoch dimension is a broadcast nested-loop fan-out)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    out = d.crossJoin(F.broadcast(epochs))
    salted = portable_hash64(
        F.concat(F.col("epoch").cast("string"), F.lit("-"), F.col("doc_id").cast("string")),
        seed="epoch-",
    )
    return out.select(
        "doc_id",
        "epoch",
        salted.alias("order_key"),
        (salted % _N_SHARDS).alias("shard"),
    )


_N_BINS = 10

_CURRICULUM_SQL = f"""
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {dec_avg_sql('n_chars')} AS avg_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT n_chars,
         LEAST({_N_BINS} - 1,
               CAST(FLOOR(LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                          * {_N_BINS}) AS INTEGER)) AS bin
  FROM documents
)
GROUP BY bin
"""


@register("curriculum_difficulty_bins", _CURRICULUM_SQL)
def q_curriculum_difficulty_bins(spark, sf_dir):
    """Curriculum binning on a FIXED difficulty grid (length as the
    difficulty proxy, capped at 500 chars → bins 0..9).

    Deliberately NOT an NTILE: equal-population quantile bins need a
    global sort (or an approx-percentile pre-pass) — at 100 TB a
    fixed-grid bin is computed map-side per row with zero coordination,
    and the trainer reads bins in order.  One tiny shuffle for the
    10-row aggregate."""
    d = load_table(spark, sf_dir, "documents")
    frac = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    bin_ = F.least(
        F.lit(_N_BINS - 1), F.floor(frac * _N_BINS).cast("int")
    ).alias("bin")
    return (
        d.select(bin_, "n_chars")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dec_avg("n_chars").alias("avg_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


_MIX_SQL = """
WITH per_src AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(src_chars) AS total_chars, COUNT(*) AS n_sources FROM per_src)
SELECT p.source, p.n_docs, p.src_chars,
       CAST(p.src_chars AS DOUBLE) / CAST(t.total_chars AS DOUBLE) AS actual_share,
       (CAST(t.total_chars AS DOUBLE) / CAST(t.n_sources AS DOUBLE))
         / CAST(p.src_chars AS DOUBLE) AS mix_weight
FROM per_src p, tot t
"""


@register("domain_mixture_weights", _MIX_SQL)
def q_domain_mixture_weights(spark, sf_dir):
    """Domain-mixture reweighting toward a target distribution (uniform
    over sources here; any literal target map drops in the same way):
    per-source sampling weight = target_share / actual_share, the
    multiplier a weighted sampler applies to hit the target mix.

    Scale plan: ONE source-keyed aggregate with map-side partial sums
    (char counts are exact BIGINTs); the global total is a WINDOW SUM
    over the |sources|-bounded aggregate — NOT a broadcast of a
    re-aggregated branch, which would re-plan the whole subtree and
    scan the 100 TB corpus twice (the scan is the dominant cost; the
    window's single-partition exchange moves ~20 rows).  The
    shares/weights are single double divides of identical integers on
    both engines — bit-stable.  This is the static half of a
    DoReMi-style mixture pipeline: downstream, `weighted_doc_sample`
    (queries/sampling.py) consumes exactly these weights."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("src_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w = Window.partitionBy()  # |sources| rows — a dim-sized window, not a corpus one
    return per_src.withColumn("total_chars", F.sum("src_chars").over(w)).withColumn(
        "n_sources", F.count(F.lit(1)).over(w)
    ).select(
        "source",
        "n_docs",
        "src_chars",
        (F.col("src_chars").cast("double") / F.col("total_chars").cast("double")).alias(
            "actual_share"
        ),
        (
            (F.col("total_chars").cast("double") / F.col("n_sources").cast("double"))
            / F.col("src_chars").cast("double")
        ).alias("mix_weight"),
    )


_BUDGET = 100_000

_BUDGET_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(src_chars) AS total_chars FROM per_src),
quota AS (
  SELECT p.source, p.src_chars,
         ({_BUDGET} * p.src_chars) // t.total_chars AS base_quota,
         ({_BUDGET} * p.src_chars) % t.total_chars AS remainder_key
  FROM per_src p, tot t
),
ranked AS (
  SELECT source, src_chars, base_quota,
         ROW_NUMBER() OVER (ORDER BY remainder_key DESC, source ASC) AS rk
  FROM quota
),
short AS (SELECT {_BUDGET} - SUM(base_quota) AS missing FROM ranked)
SELECT r.source, r.src_chars,
       CAST(r.base_quota + CASE WHEN r.rk <= s.missing THEN 1 ELSE 0 END AS BIGINT)
         AS token_quota
FROM ranked r, short s
"""


@register("token_budget_allocation", _BUDGET_SQL)
def q_token_budget_allocation(spark, sf_dir):
    """Hard token-budget apportionment across sources by the
    largest-remainder method: integer base quotas proportional to each
    source's char mass, then the rounding shortfall distributed to the
    largest fractional remainders (ties broken by source name).
    Quotas sum to the budget EXACTLY — the property samplers need and
    naive per-source rounding silently violates.

    Scale plan: pure integer arithmetic on the |sources|-bounded
    aggregate — the corpus is scanned ONCE by the source-keyed
    map-side-combined sum; the grand total, the remainder ranking, and
    the shortfall are all windows over that same ≤|sources|-row
    relation (re-aggregating branches would re-scan the corpus per
    branch — the window form keeps one FileScan in the whole plan).
    Dim-sized global windows are explicitly fine at 100 TB — it is the
    CORPUS that must never see one."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("src_chars"))
    w_all = Window.partitionBy()
    quota = per_src.withColumn("total_chars", F.sum("src_chars").over(w_all)).select(
        "source",
        "src_chars",
        # `div`, not floor(a/b): long/long division goes through IEEE
        # double, which can be off by one past 2^53 — exactly the
        # 100 TB regime; `div` matches the oracle's exact `//`
        F.expr(f"({_BUDGET} * src_chars) div total_chars").alias("base_quota"),
        ((F.lit(_BUDGET) * F.col("src_chars")) % F.col("total_chars")).alias(
            "remainder_key"
        ),
    )
    w = Window.orderBy(F.desc("remainder_key"), F.asc("source"))
    ranked = quota.withColumn("rk", F.row_number().over(w)).withColumn(
        "missing", F.lit(_BUDGET) - F.sum("base_quota").over(w_all)
    )
    return ranked.select(
        "source",
        "src_chars",
        (
            F.col("base_quota")
            + F.when(F.col("rk") <= F.col("missing"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("token_quota"),
    )


_EVAL_LABEL = 9
# 0.95 is the production paraphrase threshold; the fixture's random
# 64-dim embeddings top out at cosine ~0.47 cross-label, so the gate
# uses 0.40 to keep the flag column discriminating (same reasoning as
# embedding_near_dup's de-vacuified NEAR_DUP_T — a report that can only
# ever emit zeros certifies nothing)
_SEM_T = 0.40

_COS_SQL = (
    "(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
    "sqrt(list_dot_product({b}, {b}))))"
)

# norms are precomputed per ROW, not per pair — the pair loop then does
# ONE array fold (the cross dot) instead of three; the sqrt/divide are
# identical IEEE ops on identical doubles in both engines, so the
# comparison stays bit-exact
_SEMANTIC_SQL = f"""
WITH eval_set AS (
  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ev,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS en
  FROM embeddings WHERE label = {_EVAL_LABEL}
),
corpus AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS cn
  FROM embeddings WHERE label <> {_EVAL_LABEL}
),
sims AS (
  SELECT c.vec_id, c.label,
         MAX(list_dot_product(c.cv, e.ev) / (c.cn * e.en)) AS max_sim
  FROM corpus c CROSS JOIN eval_set e
  GROUP BY c.vec_id, c.label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN max_sim >= {_SEM_T} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       MAX(max_sim) AS max_sim
FROM sims
GROUP BY label
"""


@register("semantic_decontam_report", _SEMANTIC_SQL)
def q_semantic_decontam_report(spark, sf_dir):
    """Embedding-space decontamination: per corpus label, how many
    vectors sit within cosine {_SEM_T} of ANY eval-benchmark vector
    (label {_EVAL_LABEL} plays the benchmark).  The semantic sibling of
    the n-gram `decontam_overlap_report` — n-gram overlap misses
    paraphrased leakage; embedding similarity catches it.

    Scale plan: the eval set is benchmark-sized (thousands, not corpus-
    sized) so it BROADCASTS and the corpus streams past it map-side —
    a broadcast nested-loop whose cost is |corpus|×|eval| dot products
    with no shuffle of the corpus; the only exchange is the final
    per-label aggregate.  When the eval set outgrows broadcast, the
    sign-LSH band path (operators/similarity.py) drops in as the
    candidate generator — same contract as `cosine_topk` vs
    `cosine_topk_lsh`.  The max-cosine fold is order-independent
    (MAX of identical doubles), so the report is oracle-exact."""
    from ..operators.similarity import as_double_array, dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    ev = (
        emb.filter(F.col("label") == _EVAL_LABEL)
        .select(F.col("vec_id").alias("eval_id"), as_double_array("embedding").alias("ev"))
        .withColumn("en", l2_norm(F.col("ev")))
    )
    corpus = (
        emb.filter(F.col("label") != _EVAL_LABEL)
        .select("vec_id", "label", as_double_array("embedding").alias("cv"))
        .withColumn("cn", l2_norm(F.col("cv")))
    )
    # one fold per pair; norms were folded once per row above
    cos = dot(F.col("cv"), F.col("ev")) / (F.col("cn") * F.col("en"))
    sims = (
        corpus.crossJoin(F.broadcast(ev))
        .select("vec_id", "label", cos.alias("sim"))
        .groupBy("vec_id", "label")
        .agg(F.max("sim").alias("max_sim"))
    )
    return sims.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("max_sim") >= _SEM_T, 1).otherwise(0))
        .cast("bigint")
        .alias("n_contaminated"),
        F.max("max_sim").alias("max_sim"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling weights (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling" — public
# method): rank corpus docs by how target-like they are under hashed
# unigram language models of a target slice vs the general corpus.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_TARGET_LANG = "en"

_DSIR_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_DSIR_BUCKET = hash_bucket_sql("tok", _DSIR_BUCKETS, seed="dsir")

_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, {_DSIR_BUCKET} AS b
  FROM (SELECT doc_id, lang, unnest({_DSIR_TOKS}) AS tok FROM documents)
),
gen_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
tgt_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks
          WHERE lang = '{_DSIR_TARGET_LANG}'),
gen_p AS (
  SELECT b, (CAST(COUNT(*) AS DOUBLE) + 1.0)
              / ((SELECT n FROM gen_n) + {_DSIR_BUCKETS}) AS p
  FROM toks GROUP BY b
),
tgt_c AS (
  SELECT b, CAST(COUNT(*) AS DOUBLE) AS c FROM toks
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
),
scored AS (
  SELECT t.doc_id,
         round(log2((COALESCE(tc.c, 0.0) + 1.0)
                    / ((SELECT n FROM tgt_n) + {_DSIR_BUCKETS})), 6)
           - round(log2(g.p), 6) AS lr
  FROM toks t
  JOIN gen_p g ON t.b = g.b
  LEFT JOIN tgt_c tc ON t.b = tc.b
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ({dec_sum_sql("lr")}
          / COUNT(*)) AS mean_log2_weight
FROM scored
GROUP BY doc_id
"""


@register("dsir_importance_weights", _DSIR_SQL)
def q_dsir_importance_weights(spark, sf_dir):
    """Per-doc importance weight log2[p_target(doc)/p_general(doc)]
    under add-1-smoothed HASHED unigram models ({_DSIR_BUCKETS}
    buckets) — the DSIR recipe: a high-mean-weight doc looks more like
    the target slice (here lang='{_DSIR_TARGET_LANG}') than like the
    general corpus, and resampling by these weights shifts the mixture
    toward the target domain.  Hashing bounds the feature space, so
    the model tables have a FIXED size regardless of corpus vocabulary.

    Scale plan: one token explode feeds both model builds (bucket-keyed
    aggregates over ≤{_DSIR_BUCKETS} rows each — broadcast back) and
    the scoring join (bucket-keyed broadcast, doc-keyed final agg; the
    token relation shuffles once on doc_id).  Cross-engine parity: the
    same 1e-6-grid decimal-quantized-log discipline as
    `unigram_surprisal_score` — each log2 is gridded BEFORE the
    order-independent DECIMAL sum; only the final divide is float.
    Cites DSIR (arXiv:2302.03169) for the method; all code original."""
    from ..operators.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        hash_bucket(F.col("tok"), _DSIR_BUCKETS, seed="dsir").alias("b"),
    )
    # both model denominators in ONE pass over the explode (a separate
    # count per side would re-tokenize the corpus per scalar)
    ns = toks.agg(
        F.count(F.lit(1)).alias("gn"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)).alias("tn"),
    ).collect()[0]
    gen_n, tgt_n = float(ns["gn"]), float(ns["tn"])
    tgt_toks = toks.filter(F.col("lang") == _DSIR_TARGET_LANG)
    gen_p = toks.groupBy("b").agg(
        ((F.count(F.lit(1)).cast("double") + 1.0) / F.lit(gen_n + _DSIR_BUCKETS)).alias(
            "gp"
        )
    )
    tgt_c = tgt_toks.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("tc"))
    lr = (
        F.round(
            F.log2(
                (F.coalesce(F.col("tc"), F.lit(0.0)) + 1.0)
                / F.lit(tgt_n + _DSIR_BUCKETS)
            ),
            6,
        )
        - F.round(F.log2("gp"), 6)
    ).cast("decimal(30, 6)")
    return (
        toks.join(F.broadcast(gen_p), "b")
        .join(F.broadcast(tgt_c), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(lr).cast("double") / F.count(F.lit(1))).alias("mean_log2_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Weak supervision: labeling-function majority vote (Snorkel-style).
# Three deterministic LFs vote keep(+1)/drop(−1)/abstain(0) per doc;
# the report groups docs by majority label with per-LF coverage and
# pairwise-conflict counts — the LF diagnostics a labeling pipeline
# reads before training a label model.
# ---------------------------------------------------------------------------

_WEAK_SQL = """
WITH lf AS (
  SELECT doc_id,
    CASE WHEN n_chars > 400 THEN 1 WHEN n_chars < 80 THEN -1 ELSE 0 END AS lf_len,
    CASE WHEN len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) * 1.0
              / len(regexp_split_to_array(trim(text), '\\s+')) < 0.35 THEN -1
         WHEN len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) * 1.0
              / len(regexp_split_to_array(trim(text), '\\s+')) > 0.6 THEN 1
         ELSE 0 END AS lf_rep,
    CASE WHEN lang IN ('en', 'de') THEN 1 WHEN lang = 'zh' THEN -1
         ELSE 0 END AS lf_lang
  FROM documents
),
voted AS (
  SELECT *,
    CASE WHEN (lf_len + lf_rep + lf_lang) > 0 THEN 1
         WHEN (lf_len + lf_rep + lf_lang) < 0 THEN -1 ELSE 0 END AS maj
  FROM lf
)
SELECT maj,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN lf_len <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cov_len,
       CAST(SUM(CASE WHEN lf_rep <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cov_rep,
       CAST(SUM(CASE WHEN lf_lang <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cov_lang,
       CAST(SUM(CASE WHEN lf_len * lf_rep = -1 OR lf_len * lf_lang = -1
                       OR lf_rep * lf_lang = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_conflict
FROM voted GROUP BY maj
"""


@register("weak_label_report", _WEAK_SQL)
def q_weak_label_report(spark, sf_dir):
    """Majority vote over three labeling functions (length band,
    distinct-token ratio, language) with per-LF coverage and conflict
    counts per majority class.

    Scale plan: every LF is a map-side built-in expression over one
    corpus scan (the token-ratio LF reuses the array functions of the
    repetition profiler — no explode, no UDF); the vote and the report
    are a single small-keyed aggregate.  Adding LFs is adding columns,
    not passes — the one-scan shape is what makes iterating on dozens
    of LFs over 100 TB viable."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ratio = F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
    lf_len = (
        F.when(F.col("n_chars") > 400, 1).when(F.col("n_chars") < 80, -1).otherwise(0)
    )
    lf_rep = F.when(ratio < 0.35, -1).when(ratio > 0.6, 1).otherwise(0)
    lf_lang = (
        F.when(F.col("lang").isin("en", "de"), 1)
        .when(F.col("lang") == "zh", -1)
        .otherwise(0)
    )
    lf = d.select(
        lf_len.alias("lf_len"), lf_rep.alias("lf_rep"), lf_lang.alias("lf_lang")
    )
    s = F.col("lf_len") + F.col("lf_rep") + F.col("lf_lang")
    voted = lf.withColumn(
        "maj", F.when(s > 0, 1).when(s < 0, -1).otherwise(0)
    )
    conflict = (
        (F.col("lf_len") * F.col("lf_rep") == -1)
        | (F.col("lf_len") * F.col("lf_lang") == -1)
        | (F.col("lf_rep") * F.col("lf_lang") == -1)
    )
    return voted.groupBy("maj").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("lf_len") != 0).cast("long")).alias("cov_len"),
        F.sum((F.col("lf_rep") != 0).cast("long")).alias("cov_rep"),
        F.sum((F.col("lf_lang") != 0).cast("long")).alias("cov_lang"),
        F.sum(conflict.cast("long")).alias("n_conflict"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding: the categorical → numeric feature op
# with the leakage guard built in (each row's own target is excluded
# from its category mean), plus additive smoothing toward the global
# mean for rare categories.
# ---------------------------------------------------------------------------

_TE_ALPHA = 10
_TE_MOD = 40  # deterministic output sample: every 40th order key


def _te_sql() -> str:
    dec = "DECIMAL(30, 6)"
    return f"""
WITH cat AS (
  SELECT o_orderpriority AS cat,
         SUM(CAST(o_totalprice AS {dec})) AS cat_sum,
         COUNT(*) AS cat_n
  FROM orders GROUP BY 1
),
g AS (
  SELECT SUM(CAST(o_totalprice AS {dec})) AS g_sum, COUNT(*) AS g_n FROM orders
)
SELECT o.o_orderkey, o.o_orderpriority AS cat, o.o_totalprice AS target,
       {dec_double_sql(f"c.cat_sum - CAST(o.o_totalprice AS {dec})")}
         / (c.cat_n - 1) AS te_loo,
       ({dec_double_sql(f"c.cat_sum - CAST(o.o_totalprice AS {dec})")}
          + {_TE_ALPHA} * ({dec_double_sql('g.g_sum')} / g.g_n))
         / (c.cat_n - 1 + {_TE_ALPHA}) AS te_smooth
FROM orders o
JOIN cat c ON o.o_orderpriority = c.cat
CROSS JOIN g
WHERE o.o_orderkey % {_TE_MOD} = 0
"""


@register("target_encoding_loo", _te_sql())
def q_target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding of order priority against total
    price, with α={_TE_ALPHA} smoothing toward the global mean —
    the supervised categorical encoder whose naive (non-LOO) form leaks
    the label.  Category sums are exact DECIMAL; each row's encoding is
    then a fixed sequence of double ops identical in both engines
    (numerators read back as correctly rounded doubles).
    Output is a deterministic 1-in-{_TE_MOD} key sample.

    Scale plan: the category stats are a |cats|-row broadcast and the
    global mean a 1-row broadcast — the encoder itself is then pure
    map-side arithmetic over the fact scan; this is why LOO encoding
    at 100 TB is cheap despite touching every row."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(30, 6)"
    cat = o.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.sum(F.col("o_totalprice").cast(dec)).alias("cat_sum"),
        F.count(F.lit(1)).alias("cat_n"),
    )
    g = o.agg(
        F.sum(F.col("o_totalprice").cast(dec)).alias("g_sum"),
        F.count(F.lit(1)).alias("g_n"),
    )
    num = F.col("cat_sum") - F.col("o_totalprice").cast(dec)
    out = (
        o.filter(F.col("o_orderkey") % _TE_MOD == 0)
        .join(F.broadcast(cat), F.col("o_orderpriority") == F.col("cat"))
        .crossJoin(F.broadcast(g))
    )
    return out.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.col("o_totalprice").alias("target"),
        (num.cast("double") / (F.col("cat_n") - 1)).alias("te_loo"),
        (
            (num.cast("double") + _TE_ALPHA * (F.col("g_sum").cast("double") / F.col("g_n")))
            / (F.col("cat_n") - 1 + _TE_ALPHA)
        ).alias("te_smooth"),
    )


# ---------------------------------------------------------------------------
# Mutual information / entropy report for categorical feature pairs —
# the filter-method feature-selection primitive (which columns carry
# signal about which), with normalized MI for cross-pair comparison.
# ---------------------------------------------------------------------------


def _mi_pair_sql(pair: str, table: str, x: str, y: str) -> str:
    # MI = (1/N)·Σ n_xy·ln(n_xy·N / (n_x·n_y)); each log is quantized to
    # the 1e-9 grid then multiplied by the INTEGER n_xy inside DECIMAL —
    # the sum is exact, N divides once at the end (same discipline as
    # bigram_lm_logloss).  H(X) = ln(N) − (1/N)·Σ n_x·ln(n_x) likewise.
    t9 = "DECIMAL(38, 9)"
    return f"""
  SELECT pair, n, mi, h_x, h_y,
         -- NMI from the ROUNDED mi/h values (identical across engines);
         -- a single-category marginal gives H=0 (or a −1e-10 residue of
         -- the log quantization) → NULL, not a sqrt domain error
         CASE WHEN h_x > 0 AND h_y > 0
              THEN round(mi / sqrt(h_x * h_y), 6) END AS nmi
  FROM (
  SELECT '{pair}' AS pair, CAST(nn AS BIGINT) AS n,
         round(mi_num / nn, 6) AS mi,
         round(ln(nn) - hx_num / nn, 6) AS h_x,
         round(ln(nn) - hy_num / nn, 6) AS h_y
  FROM (
    SELECT ANY_VALUE(nn) AS nn,
           {dec_double_sql(f"SUM(CAST(nxy AS {t9}) * CAST(round(ln((CAST(nxy AS DOUBLE) * nn) / (CAST(nx AS DOUBLE) * ny)), 9) AS {t9}))")} AS mi_num,
           {dec_double_sql(f"SUM(CASE WHEN first_x THEN CAST(nx AS {t9}) * CAST(round(ln(CAST(nx AS DOUBLE)), 9) AS {t9}) ELSE CAST(0 AS {t9}) END)")} AS hx_num,
           {dec_double_sql(f"SUM(CASE WHEN first_y THEN CAST(ny AS {t9}) * CAST(round(ln(CAST(ny AS DOUBLE)), 9) AS {t9}) ELSE CAST(0 AS {t9}) END)")} AS hy_num
    FROM (
      SELECT nxy, nx, ny, nn,
             ROW_NUMBER() OVER (PARTITION BY x ORDER BY y) = 1 AS first_x,
             ROW_NUMBER() OVER (PARTITION BY y ORDER BY x) = 1 AS first_y
      FROM (
        SELECT x, y, COUNT(*) AS nxy FROM (SELECT {x} AS x, {y} AS y FROM {table}) GROUP BY 1, 2
      )
      JOIN (SELECT x, SUM(c) AS nx FROM (SELECT {x} AS x, COUNT(*) AS c FROM {table} GROUP BY 1) GROUP BY 1) USING (x)
      JOIN (SELECT y, SUM(c) AS ny FROM (SELECT {y} AS y, COUNT(*) AS c FROM {table} GROUP BY 1) GROUP BY 1) USING (y)
      CROSS JOIN (SELECT COUNT(*) AS nn FROM {table})
    )
  )
  )
"""


_MI_PAIRS = [
    ("events.type_x_hourband", "events", "event_type",
     "CAST(EXTRACT(hour FROM ts) // 6 AS BIGINT)"),
    ("orders.priority_x_status", "orders", "o_orderpriority", "o_orderstatus"),
    ("events.type_x_valueband", "events", "event_type",
     "LEAST(CAST(floor(value / 100) AS BIGINT), 9)"),
]

_MI_SQL = " UNION ALL ".join(
    _mi_pair_sql(p, t, x, y) for p, t, x, y in _MI_PAIRS
)


@register("mutual_information_report", _MI_SQL)
def q_mutual_information_report(spark, sf_dir):
    """MI, marginal entropies, and normalized MI for three categorical
    column pairs.  Quantized-log × integer-count DECIMAL sums keep the
    statistic exact until the final divisions (the engine's standard
    transcendental-parity discipline); marginal entropy terms are
    counted once per category via first-in-group flags so the joint
    relation is scanned exactly once per pair.

    Scale plan: per pair, the fact collapses to the joint contingency
    table first (one map-side-combined aggregate, |X|·|Y| cells); the
    marginals join onto it dim-sized.  The windows marking
    first-in-group run over the contingency table, never the fact."""
    from pyspark.sql import Window

    def pair_branch(pair, df, x_col, y_col):
        j = df.select(x_col.alias("x"), y_col.alias("y"))
        cxy = j.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
        cx = j.groupBy("x").agg(F.count(F.lit(1)).alias("nx"))
        cy = j.groupBy("y").agg(F.count(F.lit(1)).alias("ny"))
        nn = j.agg(F.count(F.lit(1)).alias("nn"))
        t9 = "decimal(38, 9)"
        base = (
            cxy.join(F.broadcast(cx), "x")
            .join(F.broadcast(cy), "y")
            .crossJoin(F.broadcast(nn))
            .withColumn(
                "first_x",
                F.row_number().over(Window.partitionBy("x").orderBy("y")) == 1,
            )
            .withColumn(
                "first_y",
                F.row_number().over(Window.partitionBy("y").orderBy("x")) == 1,
            )
        )
        mi_term = F.col("nxy").cast(t9) * F.round(
            F.log(
                (F.col("nxy").cast("double") * F.col("nn"))
                / (F.col("nx").cast("double") * F.col("ny"))
            ),
            9,
        ).cast(t9)
        hx_term = F.when(
            F.col("first_x"),
            F.col("nx").cast(t9)
            * F.round(F.log(F.col("nx").cast("double")), 9).cast(t9),
        ).otherwise(F.lit(0).cast(t9))
        hy_term = F.when(
            F.col("first_y"),
            F.col("ny").cast(t9)
            * F.round(F.log(F.col("ny").cast("double")), 9).cast(t9),
        ).otherwise(F.lit(0).cast(t9))
        agg = base.agg(
            F.first("nn").alias("nn"),
            F.sum(mi_term).cast("double").alias("mi_num"),
            F.sum(hx_term).cast("double").alias("hx_num"),
            F.sum(hy_term).cast("double").alias("hy_num"),
        )
        mi = F.col("mi_num") / F.col("nn")
        hx = F.log(F.col("nn").cast("double")) - F.col("hx_num") / F.col("nn")
        hy = F.log(F.col("nn").cast("double")) - F.col("hy_num") / F.col("nn")
        pre = agg.select(
            F.lit(pair).alias("pair"),
            F.col("nn").cast("long").alias("n"),
            F.round(mi, 6).alias("mi"),
            F.round(hx, 6).alias("h_x"),
            F.round(hy, 6).alias("h_y"),
        )
        return pre.select(
            "pair",
            "n",
            "mi",
            "h_x",
            "h_y",
            F.when(
                (F.col("h_x") > 0) & (F.col("h_y") > 0),
                F.round(F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")), 6),
            ).alias("nmi"),
        )

    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    out = pair_branch(
        "events.type_x_hourband", ev, F.col("event_type"),
        F.expr("CAST(hour(ts) div 6 AS BIGINT)"),
    )
    out = out.unionByName(
        pair_branch(
            "orders.priority_x_status", o, F.col("o_orderpriority"),
            F.col("o_orderstatus"),
        )
    )
    out = out.unionByName(
        pair_branch(
            "events.type_x_valueband", ev, F.col("event_type"),
            F.least(F.floor(F.col("value") / 100).cast("long"), F.lit(9)),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Labeling-function agreement: Cohen's kappa per LF pair — the
# chance-corrected companion to weak_label_report's raw conflict
# counts (two LFs can "agree" 90% by both abstaining; kappa exposes
# that).
# ---------------------------------------------------------------------------

_KAPPA_LF_SQL = """
  SELECT doc_id,
    CASE WHEN n_chars > 400 THEN 1 WHEN n_chars < 80 THEN -1 ELSE 0 END AS lf_len,
    CASE WHEN len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) * 1.0
              / len(regexp_split_to_array(trim(text), '\\s+')) < 0.35 THEN -1
         WHEN len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) * 1.0
              / len(regexp_split_to_array(trim(text), '\\s+')) > 0.6 THEN 1
         ELSE 0 END AS lf_rep,
    CASE WHEN lang IN ('en', 'de') THEN 1 WHEN lang = 'zh' THEN -1
         ELSE 0 END AS lf_lang
  FROM documents
"""


def _kappa_pair_sql(pair: str, a: str, b: str) -> str:
    # kappa = (N·Σ_agree − Σ_k n_a(k)·n_b(k)) / (N² − Σ_k n_a(k)·n_b(k))
    # — cleared to integers; one final division.
    return f"""
  SELECT '{pair}' AS pair,
         CAST(nn AS BIGINT) AS n,
         CAST(po_num AS BIGINT) AS n_agree,
         round(CAST(nn * po_num - pe_num AS DOUBLE)
               / (nn * nn - pe_num), 6) AS kappa
  FROM (
    SELECT COUNT(*) AS nn,
           SUM(CASE WHEN {a} = {b} THEN 1 ELSE 0 END) AS po_num,
           (SELECT SUM(na * nb) FROM (
              SELECT v, SUM(CASE WHEN src = 'a' THEN c ELSE 0 END) AS na,
                        SUM(CASE WHEN src = 'b' THEN c ELSE 0 END) AS nb
              FROM (
                SELECT 'a' AS src, {a} AS v, COUNT(*) AS c FROM lf GROUP BY 2
                UNION ALL
                SELECT 'b', {b}, COUNT(*) FROM lf GROUP BY 2
              ) GROUP BY v
           )) AS pe_num
    FROM lf
  )
"""


_KAPPA_SQL = (
    "WITH lf AS (" + _KAPPA_LF_SQL + ") "
    + " UNION ALL ".join(
        _kappa_pair_sql(p, a, b)
        for p, a, b in [
            ("len_vs_rep", "lf_len", "lf_rep"),
            ("len_vs_lang", "lf_len", "lf_lang"),
            ("rep_vs_lang", "lf_rep", "lf_lang"),
        ]
    )
)


@register("lf_agreement_kappa", _KAPPA_SQL)
def q_lf_agreement_kappa(spark, sf_dir):
    """Cohen's kappa for each labeling-function pair (same three LFs as
    `weak_label_report`): observed agreement minus chance agreement
    from the marginal vote distributions, the formula cleared to
    N·Σagree − Σ nₐ(k)·n_b(k) over N² − Σ nₐ(k)·n_b(k) — all integer
    until one division.

    Scale plan: one corpus scan computes all LF votes map-side; each
    pair needs only the 3×3 joint/marginal counts (constant-size
    aggregates)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ratio = F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
    lf = d.select(
        F.when(F.col("n_chars") > 400, 1)
        .when(F.col("n_chars") < 80, -1)
        .otherwise(0)
        .alias("lf_len"),
        F.when(ratio < 0.35, -1).when(ratio > 0.6, 1).otherwise(0).alias("lf_rep"),
        F.when(F.col("lang").isin("en", "de"), 1)
        .when(F.col("lang") == "zh", -1)
        .otherwise(0)
        .alias("lf_lang"),
    )

    def pair_branch(pair, a, b):
        base = lf.agg(
            F.count(F.lit(1)).alias("nn"),
            F.sum(F.when(F.col(a) == F.col(b), 1).otherwise(0)).alias("po_num"),
            *[
                F.sum(F.when(F.col(a) == v, 1).otherwise(0)).alias(f"na_{i}")
                for i, v in enumerate((-1, 0, 1))
            ],
            *[
                F.sum(F.when(F.col(b) == v, 1).otherwise(0)).alias(f"nb_{i}")
                for i, v in enumerate((-1, 0, 1))
            ],
        )
        pe_num = sum(F.col(f"na_{i}") * F.col(f"nb_{i}") for i in range(3))
        return base.select(
            F.lit(pair).alias("pair"),
            F.col("nn").cast("long").alias("n"),
            F.col("po_num").cast("long").alias("n_agree"),
            F.round(
                (F.col("nn") * F.col("po_num") - pe_num).cast("double")
                / (F.col("nn") * F.col("nn") - pe_num),
                6,
            ).alias("kappa"),
        )

    out = pair_branch("len_vs_rep", "lf_len", "lf_rep")
    out = out.unionByName(pair_branch("len_vs_lang", "lf_len", "lf_lang"))
    out = out.unionByName(pair_branch("rep_vs_lang", "lf_rep", "lf_lang"))
    return out


# ---------------------------------------------------------------------------
# Negative-sampling table — the word2vec/contrastive-training sampler
# (Mikolov et al. 2013): token probability ∝ count^0.75, materialized
# as a cumulative-range lookup table a trainer broadcasts and probes
# with a uniform hash.  Weights are 1e-9-quantized and accumulated as
# DECIMAL, so the cumulative boundaries are bit-identical across
# engines and partitionings — the table is REPRODUCIBLE, which is what
# distinguishes a data-pipeline artifact from an RNG call.
# ---------------------------------------------------------------------------

_NEG_POW = 0.75
_NEG_B = 4096  # bucket granularity of the integer lookup index


_NEG_SQL = f"""
WITH hist AS (
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '[^0-9a-z]+')) AS tok
    FROM documents
  )
  WHERE tok <> ''
  GROUP BY 1
),
wt AS (
  SELECT word, n,
         {quantize_sql(f"pow(CAST(n AS DOUBLE), {_NEG_POW})", 9)} AS w
  FROM hist
),
tot AS (SELECT SUM(w) AS t FROM wt),
cum AS (
  SELECT word, n, w,
         SUM(w) OVER (ORDER BY n DESC, word ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
         t
  FROM wt CROSS JOIN tot
)
SELECT word, n,
       round({dec_double_sql("w")} / {dec_double_sql("t")}, 9) AS prob,
       round({dec_double_sql("ch - w")} / {dec_double_sql("t")}, 9) AS cum_lo,
       round({dec_double_sql("ch")} / {dec_double_sql("t")}, 9) AS cum_hi,
       CAST(floor({dec_double_sql("ch")} / {dec_double_sql("t")} * {_NEG_B})
            - floor({dec_double_sql("ch - w")} / {dec_double_sql("t")} * {_NEG_B}) AS BIGINT) AS n_buckets
FROM cum
"""


@register("negative_sampling_table", _NEG_SQL)
def q_negative_sampling_table(spark, sf_dir):
    """Unigram^{_NEG_POW} negative-sampling table over the corpus word
    histogram: per token — count, sampling probability, the cumulative
    [cum_lo, cum_hi) range a uniform draw maps through, and how many of
    the {_NEG_B} integer index buckets the token owns.  Downweighting
    frequent tokens by the 3/4 power is the standard negative-sampling
    distribution for word2vec-style and contrastive objectives.

    Scale plan: one corpus scan builds the histogram (map-side
    combined); everything after runs on the |vocab| relation.  The
    cumulative window orders by (count desc, token) over vocab rows —
    at web scale that is a range-partitioned sort over millions of
    rows, nothing corpus-sized.  The finished table is broadcast-sized
    by construction: that is its purpose."""
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), "[^0-9a-z]+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy(F.col("tok").alias("word"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wt = hist.select(
        "word",
        "n",
        quantize(F.pow(F.col("n").cast("double"), F.lit(_NEG_POW)), 9).alias("w"),
    )
    tot = wt.agg(F.sum("w").alias("t"))
    wcum = Window.orderBy(F.desc("n"), F.asc("word")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = wt.crossJoin(F.broadcast(tot)).select(
        "word", "n", "w", F.sum("w").over(wcum).alias("ch"), "t"
    )
    lo = (F.col("ch") - F.col("w")).cast("double") / F.col("t").cast("double")
    hi = F.col("ch").cast("double") / F.col("t").cast("double")
    return cum.select(
        "word",
        "n",
        F.round(F.col("w").cast("double") / F.col("t").cast("double"), 9).alias("prob"),
        F.round(lo, 9).alias("cum_lo"),
        F.round(hi, 9).alias("cum_hi"),
        (F.floor(hi * _NEG_B) - F.floor(lo * _NEG_B)).cast("long").alias("n_buckets"),
    )


# ---------------------------------------------------------------------------
# Temporal-split leakage audit — the time-series counterpart of
# `grouped_split_no_leakage`: split at a date boundary (the only split
# that respects causality for forecasting / next-event models) and
# report how many entities STRADDLE it, because any user-level
# aggregate feature computed on the full span leaks future information
# into the training side for exactly those entities.
# ---------------------------------------------------------------------------

_TSPLIT_CUT = "2024-01-22"  # ~72/28 on the fixture's January span

_TSPLIT_SQL = f"""
WITH tagged AS (
  SELECT event_type, user_id,
         CASE WHEN CAST(ts AS DATE) < DATE '{_TSPLIT_CUT}' THEN 1 ELSE 0 END AS is_train
  FROM events
),
per_user AS (
  SELECT event_type, user_id,
         CAST(SUM(is_train) AS BIGINT) AS n_train,
         CAST(SUM(1 - is_train) AS BIGINT) AS n_test
  FROM tagged GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(n_train) AS BIGINT) AS n_train_rows,
       CAST(SUM(n_test) AS BIGINT) AS n_test_rows,
       CAST(SUM(CASE WHEN n_train > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_train,
       CAST(SUM(CASE WHEN n_test > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_test,
       CAST(SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling_users,
       round(CAST(SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN n_test > 0 THEN 1 ELSE 0 END), 6) AS test_user_leak_rate
FROM per_user
GROUP BY event_type
"""


@register("temporal_split_leakage", _TSPLIT_SQL)
def q_temporal_split_leakage(spark, sf_dir):
    """Audit a train/test split at {_TSPLIT_CUT}: per event type, row
    and user counts on each side and the users present on BOTH — the
    population for whom any full-span user-level feature would leak
    the future into training.  test_user_leak_rate near 1.0 (as on
    this fixture's active users) is the warning that user aggregates
    must be computed train-side only.

    Scale plan: one scan, two stacked map-side-combined aggregates
    (per-(type, user) counts, then the type rollup) — the same shape
    at any corpus size; the date predicate is scan-evaluable."""
    e = load_table(spark, sf_dir, "events")
    tagged = e.select(
        "event_type",
        "user_id",
        F.when(
            F.col("ts").cast("date") < F.lit(_TSPLIT_CUT).cast("date"), 1
        )
        .otherwise(0)
        .alias("is_train"),
    )
    per_user = tagged.groupBy("event_type", "user_id").agg(
        F.sum("is_train").cast("long").alias("n_train"),
        F.sum(1 - F.col("is_train")).cast("long").alias("n_test"),
    )
    straddle = F.sum(
        F.when((F.col("n_train") > 0) & (F.col("n_test") > 0), 1).otherwise(0)
    )
    test_users = F.sum(F.when(F.col("n_test") > 0, 1).otherwise(0))
    return per_user.groupBy("event_type").agg(
        F.sum("n_train").cast("long").alias("n_train_rows"),
        F.sum("n_test").cast("long").alias("n_test_rows"),
        F.sum(F.when(F.col("n_train") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_users_train"),
        test_users.cast("long").alias("n_users_test"),
        straddle.cast("long").alias("n_straddling_users"),
        F.round(straddle.cast("double") / test_users, 6).alias(
            "test_user_leak_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Preference-pair mining (DPO/RLHF data prep): within each
# (lang, source) bucket, pair the highest- and lowest-quality document
# as (chosen, rejected) when a real quality margin exists — the
# distributed construction step for preference-optimization datasets
# built from heuristic or model-scored corpora.
# ---------------------------------------------------------------------------

_PREF_SQL = """
WITH sc AS (
  SELECT lang, source, doc_id,
         round(CAST(length(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g'))
                    AS DOUBLE) / CAST(length(text) AS DOUBLE), 9) AS score
  FROM documents WHERE length(text) > 0
),
r AS (
  SELECT lang, source, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY score DESC, doc_id DESC) AS rb,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY score ASC, doc_id ASC) AS rw,
         COUNT(*) OVER (PARTITION BY lang, source) AS n_docs
  FROM sc
)
SELECT b.lang, b.source, CAST(b.n_docs AS BIGINT) AS n_docs,
       b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id,
       round(b.score, 6) AS chosen_score, round(w.score, 6) AS rejected_score,
       round(b.score - w.score, 6) AS margin
FROM r b JOIN r w ON b.lang = w.lang AND b.source = w.source
                 AND b.rb = 1 AND w.rw = 1
WHERE b.n_docs >= 2 AND b.score - w.score > 0
ORDER BY b.lang, b.source
"""


@register("preference_pair_mining", _PREF_SQL)
def q_preference_pair_mining(spark, sf_dir):
    """Mine (chosen, rejected) preference pairs per (lang, source)
    bucket: score every document (alphanumeric-density heuristic — the
    seat a learned reward/quality model takes in production), then
    emit the bucket's best-vs-worst pair wherever a positive quality
    margin exists.  The selection tie-break is total (score, then
    doc_id), so pairs are deterministic; scores sit on the 1e-9 grid
    (one division) and margins on the 1e-6 display grid.

    Scale plan: scoring is map-side; BOTH extremes come from ONE
    map-side-combinable group-by via lexicographic struct MAX/MIN —
    no per-bucket window, no sort, no self-join at the document grain
    (the oracle's rank-window form is the statement of record, not the
    plan).  At 100 TB this is a single shuffle on the bucket key with
    partial aggregation doing almost all the work."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    sc = docs.select(
        "lang",
        "source",
        "doc_id",
        F.round(
            F.length(F.regexp_replace("text", "[^0-9a-zA-Z]", "")).cast("double")
            / F.length("text").cast("double"),
            9,
        ).alias("score"),
    )
    agg = sc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max(F.struct("score", "doc_id")).alias("best"),
        F.min(F.struct("score", "doc_id")).alias("worst"),
    )
    return (
        agg.filter(
            (F.col("n_docs") >= 2)
            & (F.col("best.score") - F.col("worst.score") > 0)
        )
        .select(
            "lang",
            "source",
            "n_docs",
            F.col("best.doc_id").alias("chosen_doc_id"),
            F.col("worst.doc_id").alias("rejected_doc_id"),
            F.round(F.col("best.score"), 6).alias("chosen_score"),
            F.round(F.col("worst.score"), 6).alias("rejected_score"),
            F.round(F.col("best.score") - F.col("worst.score"), 6).alias("margin"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Leave-one-source-out corpus ablation: for each source, the corpus
# quality metrics WITHOUT it, computed as totals minus the per-source
# slice — the exact marginal-contribution readout a mixture owner
# checks before dropping or down-weighting a source (the zero-training
# sibling of `dsir_importance_weights` / `domain_mixture_weights`).
# ---------------------------------------------------------------------------

_LOO_SQL = f"""
WITH per_doc AS (
  SELECT source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks,
         round(CAST(length(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g'))
                    AS DOUBLE) / CAST(length(text) AS DOUBLE), 9) AS q
  FROM documents WHERE length(text) > 0
),
per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS n_toks,
         {dec_double_sql("SUM(CAST(q AS DECIMAL(38, 9)))")} AS sq
  FROM per_doc GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS t_docs,
         CAST(SUM(n_toks) AS BIGINT) AS t_toks,
         {dec_double_sql("SUM(CAST(sq AS DECIMAL(38, 9)))")} AS t_q
  FROM per_src
)
SELECT source, n_docs,
       round(CAST(n_toks AS DOUBLE) / t_toks, 6) AS token_share,
       round(t_q / t_docs, 6) AS mean_quality_full,
       round((t_q - sq) / (t_docs - n_docs), 6) AS mean_quality_without,
       round((t_q - sq) / (t_docs - n_docs) - t_q / t_docs, 6) AS quality_delta
FROM per_src CROSS JOIN tot
ORDER BY source
"""


@register("loo_source_ablation", _LOO_SQL)
def q_loo_source_ablation(spark, sf_dir):
    """Leave-one-source-out ablation: per source, the corpus mean
    quality WITHOUT that source ((total - slice) / (n - n_s)) next to
    its token share — positive quality_delta means the corpus improves
    when the source is removed.  Per-doc quality (alnum density) sits
    on the 1e-9 grid and sums in DECIMAL at both the source and corpus
    level, so every ablation is exact arithmetic on the per-source
    relation, not a rescan per source (the naive form is |sources|
    scans; this is ONE).

    Scale plan: one map-side combined group-by to the source grain,
    a second tiny aggregate for the totals, broadcast back — O(1)
    passes regardless of |sources|."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    per_doc = docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_toks"),
        F.round(
            F.length(F.regexp_replace("text", "[^0-9a-zA-Z]", "")).cast("double")
            / F.length("text").cast("double"),
            9,
        ).alias("q"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_toks"),
        F.sum(F.col("q").cast("decimal(38, 9)"))
        .cast("double")
        .alias("sq"),
    ).localCheckpoint(eager=True)  # |sources| rows: totals reuse it, no rescan
    tot = per_src.agg(
        F.sum("n_docs").cast("long").alias("t_docs"),
        F.sum("n_toks").cast("long").alias("t_toks"),
        F.sum(F.col("sq").cast("decimal(38, 9)"))
        .cast("double")
        .alias("t_q"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_toks").cast("double") / F.col("t_toks"), 6).alias(
                "token_share"
            ),
            F.round(F.col("t_q") / F.col("t_docs"), 6).alias("mean_quality_full"),
            F.round(
                (F.col("t_q") - F.col("sq"))
                / (F.col("t_docs") - F.col("n_docs")),
                6,
            ).alias("mean_quality_without"),
            F.round(
                (F.col("t_q") - F.col("sq"))
                / (F.col("t_docs") - F.col("n_docs"))
                - F.col("t_q") / F.col("t_docs"),
                6,
            ).alias("quality_delta"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# KL(source ‖ corpus) over add-1-smoothed word distributions — the
# distribution-level divergence readout next to DSIR's per-doc
# weights: which sources are far from the mixture they feed.  The
# unobserved-word mass (every vocab word the source never used) is
# handled ALGEBRAICALLY — q_s·(V·lg q_s − Σ_vocab lg p_w) minus the
# observed-word correction — so the V×|sources| grid is never
# materialized.
# ---------------------------------------------------------------------------

_KL_LGP_W = "round(log2((wc.c_w + 1.0) / (corpus.n + corpus.v)), 6)"
_KL_OBS_TERM = (
    "(sw.c_sw + 1.0) / (src.n_s + corpus.v)"
    " * (round(log2((sw.c_sw + 1.0) / (src.n_s + corpus.v)), 6)"
    f" - {_KL_LGP_W})"
)
_KL_OBS_CORR = (
    "1.0 / (src.n_s + corpus.v)"
    f" * (round(log2(1.0 / (src.n_s + corpus.v)), 6) - {_KL_LGP_W})"
)
_KL_SQL = f"""
WITH toks AS (
  SELECT source, UNNEST(regexp_split_to_array(trim(lower(text)), '[^0-9a-z]+'))
           AS w
  FROM documents
),
sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
  FROM toks WHERE w <> '' GROUP BY source, w
),
wc AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(c_w) AS BIGINT) AS n FROM wc
),
corpus AS (
  SELECT tot.v, tot.n,
         {grid_sum_sql("log2((c_w + 1.0) / (tot.n + tot.v))", 6)} AS lp_sum
  FROM wc CROSS JOIN tot GROUP BY tot.v, tot.n
),
src AS (
  SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
         CAST(COUNT(*) AS BIGINT) AS k_s
  FROM sw GROUP BY source
),
terms AS (
  SELECT sw.source,
         {grid_sum_sql(_KL_OBS_TERM, 9)} AS obs_term,
         {grid_sum_sql(_KL_OBS_CORR, 9)} AS obs_corr
  FROM sw JOIN wc USING (w) JOIN src ON sw.source = src.source
  CROSS JOIN corpus
  GROUP BY sw.source
)
SELECT src.source, src.n_s AS n_tokens, src.k_s AS n_types_observed,
       round(t.obs_term
             + 1.0 / (src.n_s + corpus.v)
               * (corpus.v * round(log2(1.0 / (src.n_s + corpus.v)), 6)
                  - corpus.lp_sum)
             - t.obs_corr, 6) AS kl_bits
FROM src JOIN terms t ON src.source = t.source CROSS JOIN corpus
ORDER BY src.source
"""


@register("kl_divergence_by_source", _KL_SQL)
def q_kl_divergence_by_source(spark, sf_dir):
    """KL(p_source ‖ p_corpus) in bits over add-1-smoothed unigram
    distributions on the shared corpus vocabulary.  Every log2 is
    quantized to the 1e-6 grid BEFORE entering a DECIMAL sum (the
    `dsir_importance_weights` discipline); the mass of vocabulary
    words a source never used enters through the closed form
    q_s·(V·lg q_s − Σ_vocab lg p_w) minus the observed-word
    correction — identical regrouped expression on both engines — so
    the full-vocabulary KL costs only the OBSERVED (source, word)
    relation.

    Scale plan: one token explode → (source, word) counts; word
    marginals and the corpus scalar reduce from that histogram; the
    per-source divergence is a histogram-space aggregate.  Nothing is
    V×|sources|."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), "[^0-9a-z]+")).alias("w"),
    ).filter(F.col("w") != "")
    sw = (
        toks.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_sw"))
        .localCheckpoint(eager=True)
    )
    wc = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    lg6 = lambda c: F.round(F.log2(c), 6)  # noqa: E731
    corpus = wc.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c_w").cast("long").alias("n"),
    )
    corpus = (
        wc.crossJoin(F.broadcast(corpus))
        .agg(
            F.first("v").alias("v"),
            F.first("n").alias("n"),
            grid_sum(F.log2((F.col("c_w") + 1.0) / (F.col("n") + F.col("v"))), 6).alias("lp_sum"),
        )
    )
    src = sw.groupBy("source").agg(
        F.sum("c_sw").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("k_s"),
    )
    j = (
        sw.join(wc, "w")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(corpus))
    )
    q_s = 1.0 / (F.col("n_s") + F.col("v"))
    p_sw = (F.col("c_sw") + 1.0) / (F.col("n_s") + F.col("v"))
    lgp_w = lg6((F.col("c_w") + 1.0) / (F.col("n") + F.col("v")))
    terms = j.groupBy("source").agg(
        grid_sum(p_sw * (lg6(p_sw) - lgp_w), 9).alias("obs_term"),
        grid_sum(q_s * (lg6(q_s) - lgp_w), 9).alias("obs_corr"),
    )
    out = (
        src.join(terms, "source")
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("k_s").alias("n_types_observed"),
            F.round(
                F.col("obs_term")
                + (1.0 / (F.col("n_s") + F.col("v")))
                * (
                    F.col("v") * lg6(1.0 / (F.col("n_s") + F.col("v")))
                    - F.col("lp_sum")
                )
                - F.col("obs_corr"),
                6,
            ).alias("kl_bits"),
        )
        .orderBy("source")
    )
    return out
