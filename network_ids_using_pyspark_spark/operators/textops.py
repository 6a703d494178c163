"""Text-analysis operators for the LLM-data-pipeline surface.

All pure built-in string expressions (JVM-side, codegen'd) — no Python
UDFs.  Each returns *columns* (composable into any projection) plus a
convenience DataFrame wrapper used by the query registry.

Scale: every op here is embarrassingly parallel per row — no shuffle, no
state; at 100 TB they pipeline inside the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64

# Whitespace tokenization shared by token counting / shingling.
_WS = r"\s+"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), _WS)


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def word_token_count(col: Column | str) -> Column:
    """BPE-ish word-piece proxy: count of word/number/punctuation units
    (the regex families BPE pre-tokenizers split on)."""
    c = F.col(col) if isinstance(col, str) else col
    # count by removing matches is fragile; instead split on boundaries:
    return F.size(F.split(F.trim(c), r"[^0-9A-Za-z]+"))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    n_punct = F.length(F.regexp_replace(c, r"[0-9A-Za-z\s]", ""))
    return F.when(n > 0, n_punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords — computed with
    array-native ops (filter over the token array), no UDF."""
    toks = tokens(col)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n = F.size(toks)
    return F.when(n > 0, n_stop.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: Column | str, stopwords: list[str]) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation density, and stopword-free (keyword-spam-like) text.
    Integer/ratio arithmetic only — reproducible cross-engine."""
    n_toks = token_count(col)
    len_score = F.least(n_toks.cast("double") / F.lit(20.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    stop_score = F.least(stopword_ratio(col, stopwords) * 5, F.lit(1.0))
    return (len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3)


def lang_id(col: Column | str, markers: dict[str, list[str]], default: str = "und") -> Column:
    """Marker-token language ID: pick the language with the most marker-
    token hits; ties broken by language code order.  A CASE/array
    expression chain — the 100 TB path is a broadcast map of markers,
    which this compiles to."""
    toks = tokens(col)
    codes = sorted(markers)
    scores = []
    for i, lang_code in enumerate(codes):
        marker_arr = F.array(*[F.lit(m) for m in markers[lang_code]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
        # struct comparison is fieldwise: (hits, priority) — earlier codes
        # get the HIGHER priority, so greatest() prefers them on tied hits
        scores.append(
            F.struct(
                hits.alias("hits"),
                F.lit(len(codes) - i).alias("pri"),
                F.lit(lang_code).alias("lang"),
            )
        )
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(default))


def doc_fingerprint(col: Column | str, n_chars: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-
    normalized, lowercased text (prefix ``n_chars`` hex digits).  The
    normalization makes it a *content* fingerprint (stable under
    whitespace variation), the md5 makes it portable cross-engine."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), _WS, " "))
    return F.substring(F.md5(normalized), 1, n_chars)


def winnow_fingerprints(
    docs, k: int = 3, w: int = 4, id_col: str = "doc_id", text_col: str = "text"
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every token k-gram with a rolling window of
    positions, keep the minimum hash of each w-length window, emit the
    distinct selected fingerprints per document.

    Guarantees: any shared substring of ≥ w+k-1 tokens between two
    documents yields at least one shared fingerprint — the basis of
    partial-overlap (not just whole-doc) dedup.  Everything is built-in
    array expressions (sequence/slice/transform/array_min) over the
    portable hash — codegen'd, shuffle-free until the final distinct,
    and bit-reproducible in the SQL oracle."""
    from pyspark.sql import functions as F

    d = docs.select(id_col, tokens(text_col).alias("wds")).filter(
        F.size("wds") >= k + w - 1
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("wds") - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice("wds", i, k)),
    )
    hs = F.transform(grams, lambda g: portable_hash64(g, seed="winnow:"))
    d = d.select(id_col, hs.alias("hs"))
    fps = F.transform(
        F.sequence(F.lit(1), F.size("hs") - (w - 1)),
        lambda i: F.array_min(F.slice("hs", i, w)),
    )
    return d.select(id_col, F.explode(F.array_distinct(fps)).alias("fp"))


# ---------------------------------------------------------------------
# Chunking, repetition signals, PII scrubbing — the remaining text ops a
# training-data pipeline runs between raw corpus and tokenizer.
# ---------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    window: int = 50,
    stride: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-window chunks —
    (doc_id, chunk_idx, chunk_text, n_tokens) — the unit LLM training
    and embedding pipelines feed downstream.

    ``window`` tokens per chunk, ``stride`` tokens between chunk starts
    (``stride < window`` ⇒ overlap).  Pure array expressions
    (sequence/slice/posexplode) — map-side only, pipelines inside the
    scan at any scale; chunk identity is (doc_id, chunk_idx), stable
    under any partitioning."""
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("__toks") - window + stride, F.lit(1)),
        F.lit(stride),
    )
    chunks = F.transform(starts, lambda s: F.array_join(F.slice("__toks", s, window), " "))
    return (
        docs.select(id_col, tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") >= 1)
        .select(id_col, F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .withColumn("n_tokens", token_count("chunk_text"))
    )


def dup_ngram_fraction(col: Column | str, n: int = 2) -> Column:
    """Gopher-style repetition signal: fraction of n-grams that are
    repeats of an earlier n-gram (1 − distinct/total).  High values
    flag boilerplate / keyword-stuffed / looping text."""
    toks = tokens(col)
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(
        k >= 1,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / k.cast("double"),
    ).otherwise(F.lit(0.0))


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition profile: duplicate 2-gram / 3-gram
    fractions (map-side array math) and the top-token fraction (count of
    the most frequent token / token count — one explode + grouped agg,
    shuffle keyed by doc id).  The standard Gopher quality-filter
    inputs."""
    base = docs.select(
        id_col,
        dup_ngram_fraction(text_col, 2).alias("dup_2gram_frac"),
        dup_ngram_fraction(text_col, 3).alias("dup_3gram_frac"),
    )
    per_tok = (
        docs.select(id_col, F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "top_token_frac"
            )
        )
    )
    return base.join(per_tok, id_col)


# Conservative patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround.  The ssn pattern (added r8 for
# the per-source release gate `pii_scan_report`) is disjoint from the
# loose phone pattern: \d{3,4} cannot match the 2-digit middle group,
# so neither pattern ever claims the other's matches.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}-\d{3,4}-?\d{0,4}\b", "<PHONE>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}

# Scrub order matters for overlapping families (IP before phone: phone
# patterns could prefix-match dotted quads).  Replacement tags contain
# no digits/@/dots, so a tag can never be re-matched by a later pass.
PII_SCRUB_ORDER = ("email", "ip", "ssn", "phone")


def scrub_pii(col: Column | str) -> Column:
    """Replace emails / IPv4 literals / SSNs / phone numbers with typed
    placeholder tags, in ``PII_SCRUB_ORDER``."""
    c = F.col(col) if isinstance(col, str) else col
    for key in PII_SCRUB_ORDER:
        pat, repl = PII_PATTERNS[key]
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind redaction counts (regexp_extract_all → size) — the audit
    trail a compliance pipeline stores beside the scrubbed text."""
    c = F.col(col) if isinstance(col, str) else col
    out = {}
    for key in PII_SCRUB_ORDER:
        pat, _ = PII_PATTERNS[key]
        out[f"n_{key}"] = F.size(F.regexp_extract_all(c, F.lit(pat), 0))
    return out
