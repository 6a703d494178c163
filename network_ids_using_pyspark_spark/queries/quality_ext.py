"""Published corpus-quality rule sets + graph authority scoring.

Round-5 additions on the LLM-data side (reference has no counterpart;
SURVEY.md §2 "beyond-reference training-data ops"):

* ``gopher_quality_filter`` — the Gopher rule set (Rae et al. 2021,
  appendix A1.1): word-count window, mean-word-length window,
  symbol-to-word ratio, alphabetic-word fraction, stop-word floor.
* ``c4_line_filter_report`` — the C4 line-level cleaning pass
  (Raffel et al. 2020 §2.2): terminal-punctuation lines only, >=5
  words per line, line-level ``javascript`` drop, page-level
  ``lorem ipsum`` / ``{`` drop, >=3 retained lines per page.
* ``hits_hub_authority`` — HITS (Kleinberg 1999) on the bipartite
  customer->supplier trade graph, unnormalized integer supersteps
  (hub/authority path counts) so every score is exact BIGINT.
* ``kn_bigram_score`` — interpolated Kneser-Ney bigram LM
  (Kneser & Ney 1995) scoring every doc by mean bits/bigram, one
  modeling notch above ``bigram_lm_logloss``'s additive smoothing.

Cross-engine discipline (see queries/__init__.py): deterministic
text injections make every rule non-vacuous on the synthetic corpus
(same established pattern as ``text_normalize_profile``); every
double either comes from a single IEEE division of exact integers or
is log2-quantized to the 1e-6 grid and DECIMAL-summed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numeric import grid_sum, grid_sum_sql
from ..sources.tables import load_table
from ..operators.textops import tokens
from . import register

# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, A1.1).  The synthetic corpus is
# symbol-free, so symbol-heavy / ellipsis-heavy tails are injected
# deterministically on both sides to keep those rules non-vacuous.
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_GOPHER_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in _GOPHER_STOPS) + "]"

_GOPHER_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 7 = 0 THEN ' ### ## #' ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN ' wait... more... hmm...' ELSE '' END
           AS text
  FROM documents
), toks AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM injected
), feat AS (
  SELECT doc_id,
         CAST(len(w) AS INTEGER) AS n_words,
         CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS sum_word_len,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
           AS n_symbols,
         CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS INTEGER)
           AS n_alpha_words,
         CAST(len(list_filter(w, t -> list_contains({_GOPHER_STOPS_SQL}, t)))
              AS INTEGER) AS n_stopwords
  FROM toks
)
SELECT doc_id, n_words,
       CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
       CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) AS symbol_word_ratio,
       CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_word_frac,
       n_stopwords,
       (n_words BETWEEN 50 AND 100000
        AND CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0
        AND CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1
        AND CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
        AND n_stopwords >= 2) AS keep
FROM feat
"""


@register("gopher_quality_filter", _GOPHER_SQL)
def q_gopher_quality_filter(spark, sf_dir):
    """Gopher rule-set quality filter (Rae et al. 2021 A1.1): per-doc
    rule features + the conjunctive keep decision.  Word-count window
    50..100k, mean word length 3..10, symbol-to-word ratio (# and
    ellipsis) <= 0.1, >=80% words with an alphabetic char, >=2 stop
    words.

    Scale: pure map-side higher-order array expressions in whole-stage
    codegen — zero shuffles, rides the scan at 100 TB exactly like
    `text_quality`."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when((F.col("doc_id") % 7) == 0, F.lit(" ### ## #")).otherwise(F.lit("")),
            F.when((F.col("doc_id") % 11) == 0, F.lit(" wait... more... hmm...")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    w = tokens("text")
    feat = injected.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.expr(
            "aggregate(split(trim(text), '\\\\s+'), 0L, (acc, t) -> acc + length(t))"
        ).alias("sum_word_len"),
        (
            (F.length("text") - F.length(F.expr("replace(text, '#', '')"))).cast("long")
            + (
                (F.length("text") - F.length(F.expr("replace(text, '...', '')"))) / 3
            ).cast("long")
        ).alias("n_symbols"),
        F.size(F.expr("filter(split(trim(text), '\\\\s+'), t -> t rlike '[A-Za-z]')")).alias(
            "n_alpha_words"
        ),
        F.size(
            F.filter(w, lambda t: F.array_contains(F.array(*[F.lit(s) for s in _GOPHER_STOPS]), t))
        ).alias("n_stopwords"),
    )
    mean_wl = F.col("sum_word_len").cast("double") / F.col("n_words").cast("double")
    sym_r = F.col("n_symbols").cast("double") / F.col("n_words").cast("double")
    alpha_f = F.col("n_alpha_words").cast("double") / F.col("n_words").cast("double")
    return feat.select(
        "doc_id",
        "n_words",
        mean_wl.alias("mean_word_len"),
        sym_r.alias("symbol_word_ratio"),
        alpha_f.alias("alpha_word_frac"),
        "n_stopwords",
        (
            F.col("n_words").between(50, 100000)
            & mean_wl.between(3.0, 10.0)
            & (sym_r <= 0.1)
            & (alpha_f >= 0.8)
            & (F.col("n_stopwords") >= 2)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# C4 line filters (Raffel et al. 2020 §2.2).  The corpus has no line
# structure, so lines are synthesized deterministically on both sides
# (12-token lines), then the trigger terms / terminal punctuation are
# injected by doc_id+line-index arithmetic — every rule fires on a
# known, reproducible subset.
# ---------------------------------------------------------------------------

_C4_LINE_W = 12

# identical line-construction + injection expression, written once per
# engine dialect; i is the 0-based line index
_C4_LINES_DUCK = f"""
list_transform(range(0, CAST(ceil(len(w) / {_C4_LINE_W}.0) AS BIGINT)),
  i -> array_to_string(list_slice(w, i * {_C4_LINE_W} + 1, (i + 1) * {_C4_LINE_W}), ' ')
       || CASE WHEN (doc_id * 31 + i) % 17 = 0 THEN ' lorem ipsum' ELSE '' END
       || CASE WHEN (doc_id * 13 + i) % 19 = 0 THEN ' {{code}}' ELSE '' END
       || CASE WHEN (doc_id * 7 + i) % 23 = 0 THEN ' enable javascript now ok' ELSE '' END
       || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END)
"""

_C4_KEEP_DUCK = (
    "list_filter(lines, l -> l LIKE '%.'"
    " AND len(regexp_split_to_array(l, '\\s+')) >= 5"
    " AND NOT contains(l, 'javascript'))"
)

_C4_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), lined AS (
  SELECT doc_id, {_C4_LINES_DUCK} AS lines FROM toks
), kept AS (
  SELECT doc_id, lines, {_C4_KEEP_DUCK} AS keep_lines FROM lined
)
SELECT doc_id,
       CAST(len(lines) AS INTEGER) AS n_lines,
       CAST(len(keep_lines) AS INTEGER) AS n_lines_kept,
       CAST(COALESCE(list_sum(list_transform(keep_lines, l -> length(l))), 0)
            AS BIGINT) AS n_chars_kept,
       (len(list_filter(lines, l -> contains(l, 'lorem ipsum'))) > 0
        OR len(list_filter(lines, l -> contains(l, '{{'))) > 0
        OR len(keep_lines) < 3) AS doc_dropped,
       md5(COALESCE(array_to_string(keep_lines, chr(10)), '')) AS kept_md5
FROM kept
"""


@register("c4_line_filter_report", _C4_SQL)
def q_c4_line_filter_report(spark, sf_dir):
    """C4 cleaning pass (Raffel et al. 2020 §2.2) over synthesized
    {12}-token lines: retain only lines ending in terminal punctuation
    with >=5 words and no 'javascript'; drop whole pages containing
    'lorem ipsum' or '{{', or with <3 retained lines.  Reports per-doc
    line/char retention plus an md5 of the retained text (the content
    contract a downstream stage would consume).

    Scale: line synthesis, filtering, and the md5 are all higher-order
    array expressions on the row — map-side, zero shuffles; the page
    drop is a per-row flag, not a join."""
    docs = load_table(spark, sf_dir, "documents")
    lines_expr = (
        f"transform(sequence(0, CAST(ceil(size(w) / {_C4_LINE_W}.0) AS INT) - 1), "
        f"i -> concat(array_join(slice(w, i * {_C4_LINE_W} + 1, {_C4_LINE_W}), ' '), "
        "CASE WHEN (doc_id * 31 + i) % 17 = 0 THEN ' lorem ipsum' ELSE '' END, "
        "CASE WHEN (doc_id * 13 + i) % 19 = 0 THEN ' {code}' ELSE '' END, "
        "CASE WHEN (doc_id * 7 + i) % 23 = 0 THEN ' enable javascript now ok' ELSE '' END, "
        "CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END))"
    )
    keep_expr = (
        "filter(lines, l -> l LIKE '%.' "
        "AND size(split(l, '\\\\s+')) >= 5 "
        "AND NOT contains(l, 'javascript'))"
    )
    lined = docs.select(
        "doc_id", tokens("text").alias("w")
    ).select("doc_id", F.expr(lines_expr).alias("lines"))
    kept = lined.select("doc_id", "lines", F.expr(keep_expr).alias("keep_lines"))
    return kept.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.size("keep_lines").alias("n_lines_kept"),
        F.expr("aggregate(keep_lines, 0L, (acc, l) -> acc + length(l))").alias(
            "n_chars_kept"
        ),
        (
            F.exists("lines", lambda l: l.contains("lorem ipsum"))
            | F.exists("lines", lambda l: l.contains("{"))
            | (F.size("keep_lines") < 3)
        ).alias("doc_dropped"),
        F.md5(F.array_join("keep_lines", "\n")).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# HITS on the bipartite trade graph.  Unnormalized integer supersteps:
# auth1(s) = customer-degree, hub1(c) = sum of adjacent auth1,
# auth2(s) = sum of adjacent hub1 — exact path counts, no float
# normalization to disagree across engines.
# ---------------------------------------------------------------------------

_HITS_TOPK = 25

_HITS_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
a1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS auth1 FROM pairs GROUP BY s),
h1 AS (
  SELECT p.c, CAST(SUM(a1.auth1) AS BIGINT) AS hub1
  FROM pairs p JOIN a1 ON p.s = a1.s GROUP BY p.c
),
a2 AS (
  SELECT p.s, CAST(SUM(h1.hub1) AS BIGINT) AS auth2
  FROM pairs p JOIN h1 ON p.c = h1.c GROUP BY p.s
)
SELECT * FROM (
  SELECT 'supplier' AS side, CAST(s AS BIGINT) AS node, auth2 AS score
  FROM a2 ORDER BY score DESC, node ASC LIMIT {_HITS_TOPK}
)
UNION ALL
SELECT * FROM (
  SELECT 'customer' AS side, CAST(c AS BIGINT) AS node, hub1 AS score
  FROM h1 ORDER BY score DESC, node ASC LIMIT {_HITS_TOPK}
)
"""


@register("hits_hub_authority", _HITS_SQL)
def q_hits_hub_authority(spark, sf_dir):
    """HITS (Kleinberg 1999) hubs & authorities on the bipartite
    customer->supplier trade graph, two unnormalized integer
    supersteps (scores are 1- and 2-step path counts, exact BIGINT —
    the same no-float-normalization design as `pagerank_int`).
    Returns the top-{25} authorities (suppliers) and hubs (customers).

    Scale: edge build = one distinct shuffle; each superstep is one
    hash join + one groupBy on a key whose cardinality is the node
    set, not the edge set; the degree relations (|suppliers|,
    |customers| rows — dimension-sized) broadcast; top-k is
    TakeOrderedAndProject, never a global sort."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a1 = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("auth1"))
    h1 = (
        pairs.join(F.broadcast(a1), "s")
        .groupBy("c")
        .agg(F.sum("auth1").alias("hub1"))
    )
    a2 = (
        pairs.join(F.broadcast(h1), "c")
        .groupBy("s")
        .agg(F.sum("hub1").alias("auth2"))
    )
    top_auth = (
        a2.select(
            F.lit("supplier").alias("side"),
            F.col("s").cast("long").alias("node"),
            F.col("auth2").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(_HITS_TOPK)
    )
    top_hub = (
        h1.select(
            F.lit("customer").alias("side"),
            F.col("c").cast("long").alias("node"),
            F.col("hub1").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(_HITS_TOPK)
    )
    return top_auth.unionByName(top_hub)


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring.  One notch above
# `bigram_lm_logloss`: absolute discounting plus the continuation-count
# backoff that made KN the standard n-gram smoother.
# ---------------------------------------------------------------------------

_KN_D = 0.75

_KN_LOG2_P = f"""log2(
           (GREATEST(CAST(cb.n_bi AS DOUBLE) - {_KN_D}, 0.0)
            + {_KN_D} * CAST(cu.n_follow AS DOUBLE)
              * (CAST(cc.n_prec AS DOUBLE) / CAST(tt.n_types AS DOUBLE)))
           / CAST(cu.n_ctx AS DOUBLE))"""

_KN_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
),
big AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM t, UNNEST(range(1, len(w))) AS r(i)
  WHERE len(w) >= 2
),
cb AS (SELECT w1, w2, COUNT(*) AS n_bi FROM big GROUP BY 1, 2),
cu AS (
  SELECT w1, COUNT(*) AS n_ctx, COUNT(DISTINCT w2) AS n_follow
  FROM big GROUP BY 1
),
cc AS (SELECT w2, COUNT(DISTINCT w1) AS n_prec FROM big GROUP BY 1),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM cb)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       -{grid_sum_sql(_KN_LOG2_P, 6)} / COUNT(*) AS mean_kn_bits
FROM big b
JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
JOIN cu ON b.w1 = cu.w1
JOIN cc ON b.w2 = cc.w2
CROSS JOIN tt
GROUP BY b.doc_id
"""


@register("kn_bigram_score", _KN_SQL)
def q_kn_bigram_score(spark, sf_dir):
    """Per-doc mean bits/bigram under an interpolated Kneser-Ney bigram
    LM (Kneser & Ney 1995) trained on the corpus itself: absolute
    discount D={0.75}, continuation-probability backoff
    P_cont(w2) = N1+(.w2) / |bigram types|.  Same parity discipline as
    `bigram_lm_logloss`: each log2 quantized to the 1e-6 grid, exact
    DECIMAL sum, one final IEEE divide.

    Scale plan (identical shape to `bigram_lm_logloss`): the four LM
    relations (bigram counts, context counts+fan-out, continuation
    counts, type total) are vocabulary-bounded and build with map-side
    combined aggregates, then attach to the scoring pass by BROADCAST
    — the corpus itself is shuffled only on doc_id for the final
    per-doc mean, never on the skewed token key."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 2)
    big = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_bi"))
    cu = big.groupBy("w1").agg(
        F.count(F.lit(1)).alias("n_ctx"), F.countDistinct("w2").alias("n_follow")
    )
    cc = big.groupBy("w2").agg(F.countDistinct("w1").alias("n_prec"))
    tt = cb.agg(F.count(F.lit(1)).alias("n_types"))
    p = (
        F.greatest(F.col("n_bi").cast("double") - F.lit(_KN_D), F.lit(0.0))
        + F.lit(_KN_D)
        * F.col("n_follow").cast("double")
        * (F.col("n_prec").cast("double") / F.col("n_types").cast("double"))
    ) / F.col("n_ctx").cast("double")
    logp = F.log2(p)
    return (
        big.join(F.broadcast(cb), ["w1", "w2"])
        .join(F.broadcast(cu), "w1")
        .join(F.broadcast(cc), "w2")
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-grid_sum(logp, 6) / F.count(F.lit(1))).alias("mean_kn_bits"),
        )
    )
