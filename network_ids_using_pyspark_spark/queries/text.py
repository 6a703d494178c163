"""Text-analysis + exact-dedup queries over the ``documents`` table.

Every op is a pure projection/agg of built-in string expressions, so all
get full DuckDB oracles.  NOTE on oracle SQL: DuckDB ``regexp_replace``
needs the explicit ``'g'`` flag to match Spark's replace-all semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64_sql
from ..functions.numeric import dec_double_sql, grid_sum, grid_sum_sql
from ..sources.tables import load_table
from ..operators.textops import (
    doc_fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from . import register

_STOPWORDS = ["the", "a", "and", "of", "to", "in"]
_STOP_SQL = "['the', 'a', 'and', 'of', 'to', 'in']"

_TOKS_SQL = r"regexp_split_to_array(trim(text), '\s+')"
_NTOK_SQL = f"len({_TOKS_SQL})"
_PUNCT_SQL = (
    r"(CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[0-9A-Za-z\s]', '', 'g')) AS DOUBLE)"
    r" / CAST(length(text) AS DOUBLE) ELSE 0.0 END)"
)
_STOPR_SQL = (
    f"(CASE WHEN {_NTOK_SQL} > 0 THEN CAST(len(list_filter({_TOKS_SQL},"
    f" t -> list_contains({_STOP_SQL}, t))) AS DOUBLE) / CAST({_NTOK_SQL} AS DOUBLE)"
    f" ELSE 0.0 END)"
)


@register(
    "dedup_exact",
    """
    SELECT MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup as hash-groupBy on content: one shuffle on the text
    (at 100 TB: on a 128-bit content fingerprint instead of the raw
    text — same plan shape, tiny keys).  Keeper = min doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keeper_doc_id", "n_copies")


@register(
    "token_stats",
    f"""
    SELECT doc_id,
           CAST({_NTOK_SQL} AS INTEGER) AS n_tokens,
           CAST(len(regexp_split_to_array(trim(text), '[^0-9A-Za-z]+')) AS INTEGER)
             AS n_word_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           n_chars
    FROM documents
    """,
)
def q_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish word-piece proxy: the
    word/number boundary regex BPE pre-tokenizers split on) + char
    counts — LLM-pipeline staple."""
    from ..operators.textops import word_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        word_token_count("text").alias("n_word_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        "n_chars",
    )


@register(
    "text_quality",
    f"""
    SELECT doc_id,
           {_PUNCT_SQL} AS punct_ratio,
           {_STOPR_SQL} AS stopword_ratio,
           (LEAST(CAST({_NTOK_SQL} AS DOUBLE) / 20.0, 1.0) * 0.4
            + (1.0 - LEAST({_PUNCT_SQL} * 4, 1.0)) * 0.3
            + LEAST({_STOPR_SQL} * 5, 1.0) * 0.3) AS quality
    FROM documents
    """,
)
def q_text_quality(spark, sf_dir):
    """Quality scoring: length/punctuation/stopword heuristics composed
    into a [0,1] score — identical expression tree on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text", _STOPWORDS).alias("stopword_ratio"),
        quality_score("text", _STOPWORDS).alias("quality"),
    )


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           substring(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Whitespace-normalized md5 content fingerprint (the join key for
    exact dedup at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


@register(
    "lang_histogram",
    "SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang, source",
)
def q_lang_histogram(spark, sf_dir):
    """Corpus composition: docs + chars per (lang, source) — the
    mixture-accounting query every training-data pipeline runs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
    )


_MARKERS = {"de": ["der", "und"], "en": ["the", "a"], "es": ["el", "la"]}


def _hits_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{m}'" for m in _MARKERS[lang]) + "]"
    return (
        f"len(list_filter({_TOKS_SQL}, t -> list_contains({arr}, t)))"
    )


_LANG_PRED_SQL = f"""
    SELECT doc_id, lang,
           CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de > 0 THEN 'de'
                WHEN h_en >= h_es AND h_en > 0 THEN 'en'
                WHEN h_es > 0 THEN 'es'
                ELSE 'und' END AS predicted_lang
    FROM (
      SELECT doc_id, lang,
             {_hits_sql('de')} AS h_de,
             {_hits_sql('en')} AS h_en,
             {_hits_sql('es')} AS h_es
      FROM documents
    )
"""


@register("lang_id_predict", _LANG_PRED_SQL)
def q_lang_id(spark, sf_dir):
    """Marker-token language ID (n-gram-heuristic family): argmax of
    per-language marker hits, ties to the EARLIER language code
    (sorted order), no hits → 'und'.  Pure array expressions — the
    broadcast-map shape of a real lang-ID at scale."""
    from ..operators.textops import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", lang_id("text", _MARKERS).alias("predicted_lang")
    )


@register(
    "dedup_keep_best",
    f"""
    WITH scored AS (
      SELECT doc_id,
             substring(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16)
               AS fingerprint,
             {_NTOK_SQL} AS n_tokens
      FROM documents
    )
    SELECT fingerprint, doc_id AS keeper_doc_id, n_tokens FROM (
      SELECT fingerprint, doc_id, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY fingerprint ORDER BY n_tokens DESC, doc_id ASC
             ) AS rk
      FROM scored
    ) WHERE rk = 1
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Dedup keeper policy: within each content-fingerprint group keep
    the 'best' doc (longest, tie → lowest id) — the argmax-per-group
    pattern every dedup pipeline needs, via a partitioned window."""
    from pyspark.sql import Window
    from ..operators.textops import doc_fingerprint, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        doc_fingerprint("text").alias("fingerprint"),
        token_count("text").alias("n_tokens"),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("fingerprint", F.col("doc_id").alias("keeper_doc_id"), "n_tokens")
    )


@register(
    "corpus_ngram_counts",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 1),
                    i -> array_to_string(w[i:i+2], ' '))) AS ngram
      FROM toks WHERE len(w) >= 3
    )
    SELECT ngram, n, n_docs FROM (
      SELECT ngram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, ngram ASC) AS rk
      FROM sh GROUP BY ngram
    ) WHERE rk <= 20
    """,
)
def q_corpus_ngram_counts(spark, sf_dir):
    """Corpus-level 3-gram frequency table (top 20) — the LM-data
    n-gram statistics op.  Shingles counted with term frequency (not
    per-doc distinct), plus document frequency; global top-k via
    TakeOrderedAndProject after the grouped agg."""
    from ..operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(shingles("text")).alias("ngram"))
    counts = sh.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n"), F.asc("ngram")).limit(20)


@register(
    "top_terms_per_doc",
    r"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term
    )
    SELECT doc_id, term, tf FROM (
      SELECT doc_id, term, tf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rk
      FROM tf
    ) WHERE rk <= 3
    """,
)
def q_top_terms_per_doc(spark, sf_dir):
    """Per-document top-3 terms by term frequency (integer tf → no
    float concerns; the tf half of TF-IDF, with the idf weighting left
    to MLlib's IDF where log portability doesn't matter)."""
    from pyspark.sql import Window
    from ..operators.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    return tf.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3).drop("rk")


@register(
    "pandas_udf_fingerprint",
    r"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q_pandas_udf_fingerprint(spark, sf_dir):
    """The sanctioned slow path, demonstrated: an Arrow-batched
    @pandas_udf (vectorized, ~10-100x a row-at-a-time Python UDF —
    SURVEY.md §4.2) computing the whitespace-normalized content md5.
    Matches the pure-SQL oracle, proving the Python kernel is
    semantics-equivalent to the native expression used everywhere else."""
    import hashlib
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no annotations: `from __future__ import annotations` stringifies
    # hints, which pandas_udf's inference can't read — declare the type
    ws = _re.compile(r"\s+")

    def _fp(texts):
        return texts.map(
            lambda t: hashlib.md5(ws.sub(" ", t.strip()).lower().encode()).hexdigest()
        )

    fp_udf = pandas_udf(_fp, "string")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fp_udf("text").alias("fp"))


@register(
    "corpus_filter_pipeline",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             {_NTOK_SQL} AS n_tokens,
             (LEAST(CAST({_NTOK_SQL} AS DOUBLE) / 20.0, 1.0) * 0.4
              + (1.0 - LEAST({_PUNCT_SQL} * 4, 1.0)) * 0.3
              + LEAST({_STOPR_SQL} * 5, 1.0) * 0.3) AS quality
      FROM documents
    ) WHERE quality >= 0.5 AND n_tokens >= 10
    """,
)
def q_corpus_filter_pipeline(spark, sf_dir):
    """The training-data filtering pipeline: quality score ≥ 0.5 AND
    length ≥ 10 tokens — the compose-filters-then-keep-ids shape every
    corpus cleaning run uses.  Pure codegen'd expressions; at 100 TB
    this pipelines inside the scan stage."""
    from ..operators.textops import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            token_count("text").alias("n_tokens"),
            quality_score("text", _STOPWORDS).alias("quality"),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 10))
        .select("doc_id", "lang")
    )


@register("mllib_tfidf_norms", None)  # hashing-trick bucket ids are engine-internal
def q_mllib_tfidf_norms(spark, sf_dir):
    """MLlib TF-IDF (HashingTF → IDF): per-doc vector norms — the
    library featurization path beside the oracle-checked tf statistics
    (`top_terms_per_doc`).  Rows-only: the hashing trick's bucket
    assignment is Spark-internal."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer
    from pyspark.ml.functions import vector_to_array

    docs = load_table(spark, sf_dir, "documents")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=1 << 12).transform(toks)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tf).transform(tf)
    arr = vector_to_array("tfidf")
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x))
    out = idf.select("doc_id", norm.alias("tfidf_l2")).localCheckpoint(eager=True)
    # self-asserting, distributed: one norm per document, all finite
    # and non-negative, and at least one strictly positive (an all-zero
    # featurization is a broken pipeline).  Two scalar aggregates.
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("tfidf_l2").alias("lo"),
        F.max("tfidf_l2").alias("hi"),
    ).collect()[0]
    n_docs = docs.count()
    if not (stats["n"] == n_docs and stats["lo"] >= 0.0 and stats["hi"] > 0.0):
        raise AssertionError(
            f"TF-IDF norm invariant regression: {stats} vs {n_docs} docs"
        )
    return out


def _winnow_sql(k: int = 3, w: int = 4) -> str:
    h = portable_hash64_sql("g", seed="winnow:")
    return rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds FROM documents
    ),
    f AS (SELECT doc_id, wds FROM t WHERE len(wds) >= {k + w - 1}),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(wds) - {k - 1} + 1),
                            i -> array_to_string(wds[i:i + {k - 1}], ' ')) AS grams
      FROM f
    ),
    h AS (SELECT doc_id, list_transform(grams, g -> {h}) AS hs FROM g),
    wnd AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - {w - 1} + 1),
                                          i -> list_min(hs[i:i + {w - 1}]))) AS fps
      FROM h
    )
    SELECT doc_id, unnest(fps) AS fp FROM wnd
    """


@register("doc_winnow_fingerprints", _winnow_sql())
def q_doc_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprinting via winnowing (MOSS): k-gram
    rolling hashes, per-window minima, distinct per doc — detects
    partial overlap, not just whole-doc duplication."""
    from ..operators.textops import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, w=4)


@register(
    "arrow_udf_fingerprint",
    r"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q_arrow_udf_fingerprint(spark, sf_dir):
    """The Spark 4 Arrow-optimized scalar UDF (`@udf(useArrow=True)`):
    row-at-a-time author ergonomics, Arrow-batch transfer underneath —
    the migration path for legacy @udf code that can't be vectorized.
    Same oracle as `pandas_udf_fingerprint`, proving all three Python
    kernels (pandas_udf, arrow udf, native expression) agree bit-wise.
    Still the slow path at 100 TB: per-row Python call cost remains,
    only serialization improves — prefer the native-expression
    fingerprint (`doc_fingerprint`) in hot paths."""
    import hashlib
    import re as _re

    from pyspark.sql.functions import udf

    ws = _re.compile(r"\s+")

    def _fp(t):
        return hashlib.md5(ws.sub(" ", t.strip()).lower().encode()).hexdigest()

    fp_udf = udf(_fp, "string", useArrow=True)
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fp_udf("text").alias("fp"))


_COLLATE_SQL = """
SELECT lower(min(w)) AS token_lc, COUNT(*) AS n
FROM (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
) t
WHERE regexp_full_match(w, '[A-Za-z]+')
GROUP BY lower(w)
ORDER BY n DESC, token_lc ASC
LIMIT 20
"""


@register("collated_token_histogram", _COLLATE_SQL)
def q_collated_token_histogram(spark, sf_dir):
    """String-collation surface (Spark 4): case-insensitive token
    grouping via `COLLATE UNICODE_CI` — the engine-native way to fold
    case in GROUP BY without rewriting values.  Tokens are restricted
    to ASCII alpha so UNICODE_CI grouping coincides exactly with the
    oracle's lower() grouping (the two differ on locale-special
    casings like ß).  Group representative = binary MIN then lower()
    — deterministic on both engines.  Scale: collation compares are
    JVM-side ICU, grouping is an ordinary hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w").rlike("^[A-Za-z]+$")
    )
    return (
        toks.groupBy(F.expr("w COLLATE UNICODE_CI").alias("wc"))
        .agg(F.lower(F.min("w")).alias("token_lc"), F.count(F.lit(1)).alias("n"))
        .select("token_lc", "n")
        .orderBy(F.desc("n"), F.asc("token_lc"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Hashing-trick vectorizer profile: tokens → fixed {_FH_DIMS}-dim space
# via the portable hash; per-dimension collision/occupancy report.
# ---------------------------------------------------------------------------

_FH_DIMS = 64


def _fh_sql() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("tok", seed="fh:")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
cell AS (
  SELECT doc_id, {h} % {_FH_DIMS} AS dim, tok
  FROM toks
)
SELECT dim,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_tokens_distinct,
       CAST(COUNT(*) AS BIGINT) AS total_cnt,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_touched
FROM cell GROUP BY dim
"""


@register("feature_hash_profile", _fh_sql())
def q_feature_hash_profile(spark, sf_dir):
    """The hashing-trick vectorizer (HashingTF's portable twin) audited
    per output dimension: distinct tokens colliding into the dim, total
    mass, document reach — the table you read before choosing the
    hash-space width for a linear text model.  The dimension assignment
    is the engine's portable md5 hash, so the vectorizer itself (not
    just this report) is cross-engine reproducible — unlike
    `HashingTF`'s murmur3, which is Spark-internal (its twin lives in
    `mllib_tfidf_norms`, rows-only for exactly that reason).

    Scale plan: one scan → explode → one (dim, token)-combined
    aggregate; output is {_FH_DIMS} rows regardless of corpus size."""
    from ..functions.hashing import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    from ..operators.textops import tokens as tok_arr

    toks = docs.select("doc_id", F.explode(tok_arr("text")).alias("tok"))
    cell = toks.select(
        "doc_id", "tok", (portable_hash64("tok", seed="fh:") % _FH_DIMS).alias("dim")
    )
    return cell.groupBy("dim").agg(
        F.countDistinct("tok").alias("n_tokens_distinct"),
        F.count(F.lit(1)).alias("total_cnt"),
        F.countDistinct("doc_id").alias("n_docs_touched"),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit: OLS slope of log-frequency on log-rank over the top
# vocabulary — the corpus-health diagnostic (natural text ≈ −1; a
# templated/synthetic corpus shows a flatter or kinked curve).
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 100


_ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents
),
freq AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
  ORDER BY c DESC, tok LIMIT {_ZIPF_TOPK}
),
pts AS (
  SELECT CAST(round(ln(ROW_NUMBER() OVER (ORDER BY c DESC, tok)), 6)
              AS DECIMAL(30, 6)) AS lx,
         CAST(round(ln(c), 6) AS DECIMAL(30, 6)) AS ly
  FROM freq
),
m AS (
  SELECT COUNT(*) AS n,
         {dec_double_sql("SUM(lx)")} AS sx,
         {dec_double_sql("SUM(ly)")} AS sy,
         {dec_double_sql("SUM(lx * lx)")} AS sxx,
         {dec_double_sql("SUM(lx * ly)")} AS sxy
  FROM pts
)
SELECT n_points, zipf_slope,
       round((sy - zipf_slope * sx) / n_points, 6) AS intercept
FROM (
  SELECT CAST(n AS BIGINT) AS n_points, sx, sy,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
  FROM m
)
"""


@register("zipf_fit_report", _ZIPF_SQL)
def q_zipf_fit_report(spark, sf_dir):
    """Zipf exponent of the corpus: least-squares slope of ln(freq) on
    ln(rank) over the top-{_ZIPF_TOPK} vocabulary.  Logs quantized to
    the 1e-6 grid, moment sums exact DECIMAL (the engine's standard
    transcendental-parity discipline), closed-form OLS from identical
    doubles.

    Scale plan: the token count is one map-side-combined aggregate;
    the ranked top-K is TakeOrderedAndProject; every window after runs
    over ≤{_ZIPF_TOPK} rows."""
    from pyspark.sql import Window

    from ..operators.textops import tokens as tok_arr

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tok_arr("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_ZIPF_TOPK)
    )
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    pts = freq.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6)
        .cast("decimal(30, 6)")
        .alias("lx"),
        F.round(F.log(F.col("c").cast("double")), 6)
        .cast("decimal(30, 6)")
        .alias("ly"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("double").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    # intercept is derived from the ROUNDED slope: the unrounded slope
    # can differ by 1 ulp across engines (fma vs separate mul/add), and
    # that ulp flips the intercept's own 1e-6 rounding; the quantized
    # slope is engine-identical by construction
    pre = m.select(
        F.col("n").cast("long").alias("n_points"),
        "sx",
        "sy",
        F.round(slope, 6).alias("zipf_slope"),
    )
    return pre.select(
        "n_points",
        "zipf_slope",
        F.round(
            (F.col("sy") - F.col("zipf_slope") * F.col("sx")) / F.col("n_points"), 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# PPMI co-occurrence associations — the count-based distributional-
# semantics table (Church & Hanks 1990; Levy & Goldberg 2014 showed
# word2vec's SGNS implicitly factorizes it): symmetric ±2-window
# co-occurrence counts, positive pointwise mutual information per
# pair, top pairs reported.  The pre-neural embedding baseline a
# training-data platform keeps around as the cheap sanity mirror for
# its learned vectors.
# ---------------------------------------------------------------------------

_PPMI_WIN = 2
_PPMI_TOP = 40

_PPMI_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[^0-9a-z]+'),
                     t -> t <> '') AS ts
  FROM documents
),
pairs0 AS (
  SELECT ts[i] AS w, ts[i + o] AS c
  FROM toks,
       UNNEST(range(1, len(ts) + 1)) AS ti(i),
       UNNEST(range(1, {_PPMI_WIN} + 1)) AS to_(o)
  WHERE i + o <= len(ts)
),
pairs AS (
  SELECT w, c FROM pairs0
  UNION ALL
  SELECT c AS w, w AS c FROM pairs0
),
cwc AS (SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n_pair FROM pairs GROUP BY 1, 2),
cw AS (SELECT w, CAST(SUM(n_pair) AS BIGINT) AS n_w FROM cwc GROUP BY 1),
tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n FROM cwc)
SELECT w AS word, c AS context, n_pair,
       round(GREATEST(0.0,
         round(ln((CAST(n_pair AS DOUBLE) * CAST(tot.n AS DOUBLE))
                  / (CAST(a.n_w AS DOUBLE) * CAST(b.n_w AS DOUBLE))), 9)), 6) AS ppmi
FROM cwc
JOIN cw a USING (w)
JOIN cw b ON b.w = cwc.c
CROSS JOIN tot
ORDER BY round(GREATEST(0.0,
         round(ln((CAST(n_pair AS DOUBLE) * CAST(tot.n AS DOUBLE))
                  / (CAST(a.n_w AS DOUBLE) * CAST(b.n_w AS DOUBLE))), 9)), 6) DESC,
         word ASC, context ASC
LIMIT {_PPMI_TOP}
"""


@register("ppmi_cooccurrence_topk", _PPMI_SQL)
def q_ppmi_cooccurrence_topk(spark, sf_dir):
    """Top-{_PPMI_TOP} word-context associations by positive PMI over
    symmetric ±{_PPMI_WIN}-token windows: pair counts, marginals, and
    ppmi = max(0, ln(C(w,c)·N / (C(w)·C(c)))) on the 1e-9 grid (then
    1e-6 for display), total order (ppmi desc, pair lexicographic).

    Scale plan: pair generation is MAP-SIDE (offsets materialized from
    each doc's token array — no self-join on position); the count
    relation is vocab²-bounded, far under the corpus; marginals attach
    by broadcast and the top-k is TakeOrderedAndProject.  The N scalar
    rides a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(trim(lower(text)), '[^0-9a-z]+'), t -> t <> '')").alias(
            "ts"
        )
    )
    pairs0 = toks.select(
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, size(ts)),
                     i -> filter(transform(sequence(1, {_PPMI_WIN}),
                                  o -> CASE WHEN i + o <= size(ts)
                                       THEN struct(element_at(ts, i) AS w,
                                                   element_at(ts, i + o) AS c) END),
                                 p -> p IS NOT NULL)))"""
            )
        ).alias("p")
    ).select(F.col("p.w").alias("w"), F.col("p.c").alias("c"))
    pairs = pairs0.unionByName(
        pairs0.select(F.col("c").alias("w"), F.col("w").alias("c"))
    )
    cwc = pairs.groupBy("w", "c").agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    cwc = cwc.localCheckpoint(eager=False)  # feeds marginals AND the scored join
    cw = cwc.groupBy("w").agg(F.sum("n_pair").cast("long").alias("n_w"))
    tot = cwc.agg(F.sum("n_pair").cast("long").alias("n"))
    ppmi = F.round(
        F.greatest(
            F.lit(0.0),
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") * F.col("n").cast("double"))
                    / (F.col("n_w").cast("double") * F.col("n_c").cast("double"))
                ),
                9,
            ),
        ),
        6,
    )
    return (
        cwc.join(F.broadcast(cw), "w")
        .join(
            F.broadcast(
                cw.select(F.col("w").alias("c"), F.col("n_w").alias("n_c"))
            ),
            "c",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("word"),
            F.col("c").alias("context"),
            "n_pair",
            ppmi.alias("ppmi"),
        )
        .orderBy(F.desc("ppmi"), F.asc("word"), F.asc("context"))
        .limit(_PPMI_TOP)
    )


# ---------------------------------------------------------------------------
# Count-vector synonym scorer — the ORACLE-CHECKED algorithmic twin of
# the MLlib `word2vec_synonyms` entry (queries/ml.py:392, rows-only by
# contract: SGD is not bit-reproducible across engines).  Same
# distributional-semantics premise word2vec learns (Levy & Goldberg
# 2014: SGNS ≈ factorized co-occurrence), but computed EXACTLY: cosine
# similarity between sparse ±2-window co-occurrence count vectors, for
# the corpus's most frequent token vs every other vocab word, top-5.
# All-integer accumulations (order-independent, hash-stable) with a
# single final double division — fully SQL-expressible, so this entry
# certifies the synonym-query semantics the MLlib twin only
# smoke-tests (VERDICT r9 ask #5; the pca_power_iteration_exact vs
# pca_embedding_variance pattern, queries/similarity.py:886).
# ---------------------------------------------------------------------------

_W2V_TOPK = 5

_W2V_COOC_SQL = f"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '[^0-9a-z]+'),
                     t -> t <> '') AS ts
  FROM documents
),
pairs0 AS (
  SELECT ts[i] AS w, ts[i + o] AS c
  FROM toks,
       UNNEST(range(1, len(ts) + 1)) AS ti(i),
       UNNEST(range(1, {_PPMI_WIN} + 1)) AS to_(o)
  WHERE i + o <= len(ts)
),
pairs AS (
  SELECT w, c FROM pairs0
  UNION ALL
  SELECT c AS w, w AS c FROM pairs0
),
cwc AS (SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2),
freq AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks, UNNEST(ts) AS u(t) GROUP BY 1
),
qw AS (SELECT w AS qword FROM freq ORDER BY cnt DESC, w ASC LIMIT 1),
qvec AS (
  SELECT cwc.c, cwc.n AS qn FROM cwc JOIN qw ON cwc.w = qw.qword
),
qnorm AS (SELECT CAST(SUM(qn * qn) AS BIGINT) AS q2 FROM qvec),
norms AS (SELECT w, CAST(SUM(n * n) AS BIGINT) AS w2 FROM cwc GROUP BY 1),
dots AS (
  SELECT cwc.w, CAST(SUM(cwc.n * qvec.qn) AS BIGINT) AS dot
  FROM cwc JOIN qvec ON cwc.c = qvec.c
  GROUP BY 1
)
SELECT qw.qword AS query_word, dots.w AS word,
       round(round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(w2 AS DOUBLE)) * sqrt(CAST(q2 AS DOUBLE))),
             9), 6) AS similarity
FROM dots
JOIN norms ON norms.w = dots.w
CROSS JOIN qnorm
CROSS JOIN qw
WHERE dots.w <> qw.qword
ORDER BY similarity DESC, word ASC
LIMIT {_W2V_TOPK}
"""


@register("word2vec_cooc_synonyms", _W2V_COOC_SQL)
def q_word2vec_cooc_synonyms(spark, sf_dir):
    """Deterministic synonym top-{_W2V_TOPK}: cosine over sparse
    ±{_PPMI_WIN}-window co-occurrence count vectors, query = most
    frequent corpus token (count desc, word asc).  Dot products and
    norms are exact BIGINT sums (order-independent across engines);
    the only float op is the final division+sqrt on the 1e-9 grid
    (1e-6 display), so both engines agree bitwise.

    Scale plan: pair generation is MAP-SIDE from each doc's token
    array (the ppmi_cooccurrence_topk plan); `cwc` is vocab²-bounded
    — orders of magnitude under the corpus; the query word's context
    vector and norm are vocab-bounded 1-col relations attached by
    BROADCAST joins, so the scoring pass is one linear scan of `cwc`
    plus a vocab-sized aggregate; top-k is TakeOrderedAndProject.
    No corpus-sized shuffle after the pair count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(trim(lower(text)), '[^0-9a-z]+'), t -> t <> '')").alias(
            "ts"
        )
    )
    pairs0 = toks.select(
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, size(ts)),
                     i -> filter(transform(sequence(1, {_PPMI_WIN}),
                                  o -> CASE WHEN i + o <= size(ts)
                                       THEN struct(element_at(ts, i) AS w,
                                                   element_at(ts, i + o) AS c) END),
                                 p -> p IS NOT NULL)))"""
            )
        ).alias("p")
    ).select(F.col("p.w").alias("w"), F.col("p.c").alias("c"))
    pairs = pairs0.unionByName(
        pairs0.select(F.col("c").alias("w"), F.col("w").alias("c"))
    )
    cwc = pairs.groupBy("w", "c").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cwc = cwc.localCheckpoint(eager=False)  # feeds qvec, norms AND dots
    freq = toks.select(F.explode("ts").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    qw = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(1).select(
        F.col("w").alias("qword")
    )
    qvec = cwc.join(F.broadcast(qw), cwc["w"] == qw["qword"]).select(
        "c", F.col("n").alias("qn")
    )
    qnorm = qvec.agg(
        F.sum(F.col("qn") * F.col("qn")).cast("long").alias("q2")
    )
    norms = cwc.groupBy("w").agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("w2")
    )
    dots = (
        cwc.join(F.broadcast(qvec), "c")
        .groupBy("w")
        .agg(F.sum(F.col("n") * F.col("qn")).cast("long").alias("dot"))
    )
    sim = F.round(
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("w2").cast("double")) * F.sqrt(F.col("q2").cast("double"))),
            9,
        ),
        6,
    )
    return (
        dots.join(norms, "w")
        .crossJoin(F.broadcast(qnorm))
        .crossJoin(F.broadcast(qw))
        .where(F.col("w") != F.col("qword"))
        .select(
            F.col("qword").alias("query_word"),
            F.col("w").alias("word"),
            sim.alias("similarity"),
        )
        .orderBy(F.desc("similarity"), F.asc("word"))
        .limit(_W2V_TOPK)
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): candidate phrases are
# maximal stopword-free token runs; a word scores deg/freq (deg = sum
# of lengths of phrases it appears in, freq = its occurrence count);
# a phrase scores the sum of its words' scores.  The corpus-level
# keyword list no text family here covers yet — tf-idf
# (`top_terms_per_doc`) ranks single terms per doc; RAKE ranks
# multi-word PHRASES corpus-wide.
# ---------------------------------------------------------------------------

_RAKE_TOPK = 20


def _rake_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, i AS pos, l[i] AS w
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '[^0-9a-z]+') AS l
        FROM documents),
       UNNEST(range(1, len(l) + 1)) AS t(i)
),
phrased AS (
  SELECT doc_id, pos, w,
         SUM(CASE WHEN w = '' OR w IN {_STOP_SQL.replace('[', '(').replace(']', ')')}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
         (w = '' OR w IN {_STOP_SQL.replace('[', '(').replace(']', ')')}) AS stop
  FROM toks
),
occ AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM phrased WHERE NOT stop
  GROUP BY doc_id, phrase_id
),
mem AS (
  SELECT o.doc_id, o.phrase_id, o.phrase, o.plen, p.w
  FROM occ o JOIN phrased p
    ON p.doc_id = o.doc_id AND p.phrase_id = o.phrase_id AND NOT p.stop
),
ws AS (
  SELECT w, round(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 9) AS wscore
  FROM mem GROUP BY w
),
oscore AS (
  SELECT m.doc_id, m.phrase_id, m.phrase, m.plen, {grid_sum_sql("wscore", 9)} AS score
  FROM mem m JOIN ws USING (w)
  GROUP BY m.doc_id, m.phrase_id, m.phrase, m.plen
)
SELECT phrase, CAST(plen AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       round(MAX(score), 6) AS rake_score
FROM oscore GROUP BY phrase, plen
ORDER BY rake_score DESC, phrase
LIMIT {_RAKE_TOPK}
"""


@register("rake_keyword_extraction", _rake_sql())
def q_rake_keyword_extraction(spark, sf_dir):
    """Top-{k} corpus keywords by RAKE (Rose et al. 2010): tokenize,
    split each document into stopword-free candidate phrases (prefix
    count of stopword boundaries = phrase id), score words deg/freq
    over phrase occurrences, score phrases as the sum of member-word
    scores.  Word scores are one integer division on the 1e-9 grid;
    phrase sums are quantized DECIMAL (member fan-in > 2); the final
    ranking breaks ties on the phrase text, so the cut is total.

    Scale plan: phrase building is a per-document window (bounded
    partitions) over one scan; word scoring is a map-side combined
    group-by on the word; the members-to-scores join is a hash join on
    the word key (vocabulary-bounded); the cut is
    TakeOrderedAndProject.  No global windows, nothing quadratic."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), "[^0-9a-z]+")).alias(
            "pos", "w"
        ),
    )
    stop = (F.col("w") == "") | F.col("w").isin(_STOPWORDS)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    phrased = toks.select(
        "doc_id",
        "pos",
        "w",
        F.sum(stop.cast("int")).over(w_doc).alias("phrase_id"),
        stop.alias("stop"),
    )
    occ = (
        phrased.filter(~F.col("stop"))
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ).alias("words")
        )
        .select(
            "doc_id",
            "phrase_id",
            F.array_join("words", " ").alias("phrase"),
            F.size("words").cast("long").alias("plen"),
            "words",
        )
    )
    mem = occ.select(
        "doc_id", "phrase_id", "phrase", "plen", F.explode("words").alias("w")
    )
    ws = mem.groupBy("w").agg(
        F.round(
            F.sum("plen").cast("double") / F.count(F.lit(1)).cast("double"), 9
        ).alias("wscore")
    )
    oscore = (
        mem.join(ws, "w")
        .groupBy("doc_id", "phrase_id", "phrase", "plen")
        .agg(
            grid_sum(F.col("wscore"), 9).alias("score")
        )
    )
    return (
        oscore.groupBy("phrase", "plen")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.round(F.max("score"), 6).alias("rake_score"),
        )
        .select(
            "phrase",
            F.col("plen").alias("n_words"),
            "n_occurrences",
            "rake_score",
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOPK)
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: per-class precision/recall/F1 of the marker
# heuristic against the corpus's labeled lang column — the eval
# harness a pipeline runs before trusting a classifier as a routing or
# filtering gate (`quality_classifier_filter`'s eval counterpart for
# the lang axis).
# ---------------------------------------------------------------------------

_LANG_EVAL_SQL = f"""
WITH pred AS ({_LANG_PRED_SQL}),
per_true AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_actual,
         CAST(SUM(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM pred GROUP BY lang
),
per_pred AS (
  SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_predicted
  FROM pred GROUP BY predicted_lang
)
SELECT t.lang, t.n_actual, t.n_correct,
       COALESCE(p.n_predicted, 0) AS n_predicted,
       round(CASE WHEN COALESCE(p.n_predicted, 0) = 0 THEN 0.0
                  ELSE CAST(t.n_correct AS DOUBLE) / p.n_predicted END, 6)
         AS precision,
       round(CAST(t.n_correct AS DOUBLE) / t.n_actual, 6) AS recall,
       round(CASE WHEN COALESCE(p.n_predicted, 0) = 0 OR t.n_correct = 0
                  THEN 0.0
                  ELSE 2.0 * (CAST(t.n_correct AS DOUBLE) / p.n_predicted)
                       * (CAST(t.n_correct AS DOUBLE) / t.n_actual)
                       / (CAST(t.n_correct AS DOUBLE) / p.n_predicted
                          + CAST(t.n_correct AS DOUBLE) / t.n_actual) END, 6)
         AS f1
FROM per_true t LEFT JOIN per_pred p ON t.lang = p.predicted_lang
ORDER BY t.lang
"""


@register("lang_id_eval_metrics", _LANG_EVAL_SQL)
def q_lang_id_eval_metrics(spark, sf_dir):
    """Per-class precision/recall/F1 of `lang_id_predict` against the
    labeled lang column: counts are exact integers, each metric is one
    or two IEEE divisions of exact counts (zero-denominator classes
    report 0.0), so the table is bit-stable.

    Scale plan: predictions are map-side array expressions; the eval
    is two map-side combined group-bys on the tiny class key plus one
    broadcast-sized class-level join — the document grain is never
    shuffled."""
    from ..operators.textops import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", lang_id("text", _MARKERS).alias("predicted_lang")
    )
    per_true = pred.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_actual"),
        F.sum((F.col("predicted_lang") == F.col("lang")).cast("int"))
        .cast("long")
        .alias("n_correct"),
    )
    per_pred = pred.groupBy(F.col("predicted_lang").alias("plang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_predicted_raw")
    )
    j = per_true.join(
        F.broadcast(per_pred), per_true["lang"] == per_pred["plang"], "left"
    ).select(
        "lang",
        "n_actual",
        "n_correct",
        F.coalesce(F.col("n_predicted_raw"), F.lit(0)).alias("n_predicted"),
    )
    prec = F.when(F.col("n_predicted") == 0, F.lit(0.0)).otherwise(
        F.col("n_correct").cast("double") / F.col("n_predicted")
    )
    rec = F.col("n_correct").cast("double") / F.col("n_actual")
    f1 = F.when(
        (F.col("n_predicted") == 0) | (F.col("n_correct") == 0), F.lit(0.0)
    ).otherwise(2.0 * prec * rec / (prec + rec))
    return j.select(
        "lang",
        "n_actual",
        "n_correct",
        "n_predicted",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Lexical diversity by source: type/token ratio, hapax share, and
# Simpson's diversity over the word distribution — the repetition/
# template-detection audit (a source whose TTR collapses is boiler-
# plate or spam; complements `repetition_profile`'s per-doc view with
# the per-source rollup mixture owners actually compare).
# ---------------------------------------------------------------------------

_LEXDIV_SQL = """
WITH toks AS (
  SELECT source, UNNEST(regexp_split_to_array(trim(lower(text)), '[^0-9a-z]+'))
           AS w
  FROM documents
),
wc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE w <> '' GROUP BY source, w
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio,
       round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hapax_share,
       round(1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
                   / (SUM(c) * (SUM(c) - 1.0)), 6) AS simpson_diversity
FROM wc GROUP BY source
ORDER BY source
"""


@register("lexical_diversity_by_source", _LEXDIV_SQL)
def q_lexical_diversity_by_source(spark, sf_dir):
    """Per-source lexical diversity: type/token ratio, hapax share,
    and Simpson's diversity 1 - Σc(c-1)/(N(N-1)) over the word
    histogram.  Counts are exact integers; each metric is one shared
    double expression.

    Scale plan: ONE token explode feeds a map-side combined
    (source, word) count; the per-source rollup then runs on the
    vocabulary-bounded histogram, never re-touching the corpus.  The
    skew risk (one giant source) stays bounded because the first
    group-by key includes the word."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), "[^0-9a-z]+")).alias("w"),
    ).filter(F.col("w") != "")
    wc = toks.groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_tok = F.sum("c").cast("long")
    n_typ = F.count(F.lit(1)).cast("long")
    n_hap = F.sum((F.col("c") == 1).cast("int")).cast("long")
    return (
        wc.groupBy("source")
        .agg(
            n_tok.alias("n_tokens"),
            n_typ.alias("n_types"),
            n_hap.alias("n_hapax"),
            F.round(n_typ.cast("double") / n_tok, 6).alias("type_token_ratio"),
            F.round(n_hap.cast("double") / n_typ, 6).alias("hapax_share"),
            F.round(
                1.0
                - F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
                / (n_tok * (n_tok - F.lit(1.0))),
                6,
            ).alias("simpson_diversity"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# McNemar's paired test: is the marker lang-ID actually better than
# the majority-class baseline on the SAME documents?  The paired test
# (b-c)²/(b+c) on the discordant counts is the correct comparison —
# two accuracy numbers computed on the same rows are not independent
# samples, so a two-proportion z-test overstates significance.
# ---------------------------------------------------------------------------

_MCNEMAR_SQL = f"""
WITH pred AS ({_LANG_PRED_SQL}),
base AS (
  SELECT lang AS maj FROM pred GROUP BY lang
  ORDER BY COUNT(*) DESC, lang LIMIT 1
),
paired AS (
  SELECT CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END AS a_right,
         CASE WHEN (SELECT maj FROM base) = lang THEN 1 ELSE 0 END AS b_right
  FROM pred
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a_right) AS BIGINT) AS n_model_right,
       CAST(SUM(b_right) AS BIGINT) AS n_baseline_right,
       CAST(SUM(CASE WHEN a_right = 1 AND b_right = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS b_discordant,
       CAST(SUM(CASE WHEN a_right = 0 AND b_right = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c_discordant,
       round(CAST(SUM(CASE WHEN a_right <> b_right THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS discordant_share,
       round(CASE WHEN SUM(CASE WHEN a_right <> b_right THEN 1 ELSE 0 END) = 0
                  THEN 0.0
                  ELSE POW(CAST(SUM(CASE WHEN a_right = 1 AND b_right = 0
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           - SUM(CASE WHEN a_right = 0 AND b_right = 1
                                      THEN 1 ELSE 0 END), 2)
                       / SUM(CASE WHEN a_right <> b_right THEN 1 ELSE 0 END)
             END, 6) AS mcnemar_chi2
FROM paired
"""


@register("mcnemar_langid_vs_baseline", _MCNEMAR_SQL)
def q_mcnemar_langid_vs_baseline(spark, sf_dir):
    """McNemar's paired chi-square comparing `lang_id_predict` against
    the majority-class baseline on the same documents: discordant
    counts b (model right, baseline wrong) and c (the reverse),
    χ² = (b-c)²/(b+c).  All counts exact; the statistic is one shared
    expression (0.0 when no discordant pairs).

    Scale plan: the majority class is a 1-row TakeOrdered over the
    class histogram, broadcast into ONE conditional-sum pass — the
    paired test costs a single scan."""
    from ..operators.textops import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("lang", lang_id("text", _MARKERS).alias("predicted_lang"))
    base = (
        pred.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(F.col("lang").alias("maj"))
    )
    paired = pred.crossJoin(F.broadcast(base)).select(
        (F.col("predicted_lang") == F.col("lang")).cast("int").alias("a_right"),
        (F.col("maj") == F.col("lang")).cast("int").alias("b_right"),
    )
    b = F.sum(((F.col("a_right") == 1) & (F.col("b_right") == 0)).cast("int")).cast(
        "long"
    )
    c = F.sum(((F.col("a_right") == 0) & (F.col("b_right") == 1)).cast("int")).cast(
        "long"
    )
    disc = F.sum((F.col("a_right") != F.col("b_right")).cast("int")).cast("long")
    agg = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a_right").cast("long").alias("n_model_right"),
        F.sum("b_right").cast("long").alias("n_baseline_right"),
        b.alias("b_discordant"),
        c.alias("c_discordant"),
        disc.alias("n_discordant"),
    )
    return agg.select(
        "n",
        "n_model_right",
        "n_baseline_right",
        "b_discordant",
        "c_discordant",
        F.round(F.col("n_discordant").cast("double") / F.col("n"), 6).alias(
            "discordant_share"
        ),
        F.round(
            F.when(F.col("n_discordant") == 0, F.lit(0.0)).otherwise(
                F.pow(
                    F.col("b_discordant").cast("double") - F.col("c_discordant"),
                    2,
                )
                / F.col("n_discordant")
            ),
            6,
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# Flesch reading-ease by source: words per sentence + syllables per
# word (vowel-group heuristic), composed into the classic 206.835 -
# 1.015·W/S - 84.6·Sy/W score — the readability lens next to the
# quality/diversity rollups (template text scores uniform; scraped
# prose spreads).
# ---------------------------------------------------------------------------

_READABILITY_SQL = r"""
WITH per_doc AS (
  SELECT source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         GREATEST(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
           AS n_sentences,
         GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS n_syllables
  FROM documents WHERE length(trim(text)) > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_sentences) AS BIGINT) AS n_sentences,
       CAST(SUM(n_syllables) AS BIGINT) AS n_syllables,
       round(206.835
             - 1.015 * (CAST(SUM(n_words) AS DOUBLE) / SUM(n_sentences))
             - 84.6 * (CAST(SUM(n_syllables) AS DOUBLE) / SUM(n_words)), 6)
         AS flesch_reading_ease
FROM per_doc GROUP BY source
ORDER BY source
"""


@register("readability_by_source", _READABILITY_SQL)
def q_readability_by_source(spark, sf_dir):
    """Flesch reading ease per source from exact integer counts:
    whitespace words, [.!?]-terminated sentences (floored at 1),
    vowel-group syllables (the standard cheap heuristic) — the score
    is one shared double expression over corpus-level sums, so the
    rollup is bit-stable.

    Scale plan: counting is map-side regex arithmetic; ONE group-by on
    source moves three integers per doc."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    per_doc = docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_words"),
        F.greatest(
            F.size(F.split("text", r"[.!?]+")) - 1, F.lit(1)
        )
        .cast("long")
        .alias("n_sentences"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
            F.lit(1),
        )
        .cast("long")
        .alias("n_syllables"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_sentences").cast("long").alias("n_sentences"),
            F.sum("n_syllables").cast("long").alias("n_syllables"),
            F.round(
                206.835
                - 1.015 * (F.sum("n_words").cast("double") / F.sum("n_sentences"))
                - 84.6 * (F.sum("n_syllables").cast("double") / F.sum("n_words")),
                6,
            ).alias("flesch_reading_ease"),
        )
        .orderBy("source")
    )
