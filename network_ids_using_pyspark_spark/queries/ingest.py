"""Ingest-boundary queries (SURVEY.md §2.1 A1).

Certifies the CSV edge of the engine: a multi-file flow CSV written by
Spark, scanned back through ``scan_flows`` with the PINNED schema
(never ``inferSchema`` — the reference pays a full extra discovery scan
per run, ``modelling.py:50``), canonicalized, and profiled.  The DuckDB
oracle regenerates the fixture itself (``synth_flows_sql``), so Spark's
CSV write and its pinned-schema scan together must reproduce values
from an independent generator.

The aggregate touches only integer/string columns: CSV round-trips of
NaN/±Inf doubles are representation-sensitive ("Infinity" vs "Inf")
across engines, and the dirty-double columns have their own dedicated
cleaning queries (``queries/cleaning.py``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import scratch_dir
from ..sources.synthetic import synth_flows, synth_flows_sql
from ..sources.tables import load_table, scan_flows
from . import register

_N = 60_000

_SCAN_FLOWS_SQL = f"""
SELECT label, dst_port, protocol,
       COUNT(*) AS n,
       CAST(SUM(syn) AS BIGINT) AS n_syn,
       MAX(flow_duration) AS max_duration,
       MIN(flow_duration) AS min_duration
FROM ({synth_flows_sql(_N)})
GROUP BY 1, 2, 3
"""


@register("scan_flows_csv_profile", _SCAN_FLOWS_SQL)
def q_scan_flows_csv_profile(spark, sf_dir):
    """A1: write the 60k flow fixture as a 4-file CSV, scan it back with
    the pinned ``FLOW_SCHEMA`` (union-of-files handled by the scan node,
    no driver loop), canonicalize names, profile per (label, port,
    protocol).  The oracle regenerates the fixture in DuckDB — a defect
    in the CSV writer or the scan shows up as a mismatch."""
    csv_dir = scratch_dir(spark, "flows-csv")
    synth_flows(spark, _N).repartition(4).write.mode("overwrite").option(
        "header", True
    ).csv(csv_dir)

    flows = scan_flows(spark, csv_dir, fmt="csv")  # pinned FLOW_SCHEMA
    return flows.groupBy(
        F.col("label"),
        F.col("dst_port"),
        F.col("protocol"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("syn_flag_cnt").alias("n_syn"),
        F.max("flow_duration").alias("max_duration"),
        F.min("flow_duration").alias("min_duration"),
    )


_RECORDLOG_SQL = """
SELECT COUNT(*) AS n_records,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_payload_bytes,
       COUNT(DISTINCT md5(text)) AS n_distinct_payloads
FROM documents
"""


@register("recordlog_roundtrip_profile", _RECORDLOG_SQL)
def q_recordlog_roundtrip_profile(spark, sf_dir):
    """Custom binary container ingestion (Python DataSource API): write
    the corpus as length-prefixed record-log shards (executor-parallel,
    one shard per partition — the WARC/TFRecord shape), scan them back
    partition-parallel through the registered ``recordlog`` format, and
    profile the payload stream.  The oracle profiles the source
    documents directly — equality proves the container round-trip is
    lossless."""
    from ..sources.recordlog import scan_recordlog, write_recordlog

    docs = load_table(spark, sf_dir, "documents").select(
        F.encode("text", "utf-8").alias("payload")
    )
    shards = scratch_dir(spark, "recordlog-shards")
    write_recordlog(docs.repartition(4), "payload", shards)

    back = scan_recordlog(spark, shards)
    return back.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.length("payload")).alias("total_payload_bytes"),
        F.countDistinct(F.md5("payload")).alias("n_distinct_payloads"),
    )


_BINARY_SCAN_SQL = """
SELECT doc_id,
       CAST(length(text) + 1 AS BIGINT) AS n_bytes,
       md5(text || chr(10)) AS content_md5
FROM documents
WHERE doc_id % 13 = 0
"""


@register("binary_file_scan_profile", _BINARY_SCAN_SQL)
def q_binary_file_scan_profile(spark, sf_dir):
    """The `binaryFile` source — the ingest edge for raw media/blob
    corpora (one file per object: images, audio, model shards).  A
    deterministic document subset is materialized as one file per doc
    (hive-style doc_id= partition dirs, written executor-parallel —
    no driver loop), scanned back via ``format("binaryFile")`` with
    recursive lookup + glob, the doc id recovered from the partition
    path, and each payload fingerprinted.  The oracle recomputes the
    same byte lengths/md5s from the source table, so the file
    round-trip itself is what gets hash-checked (text sink appends one
    LF per row — the +1/chr(10) in the oracle).

    Scale: binaryFile scans parallelize per-file and prune on
    pathGlobFilter; payload bytes stay executor-side (the md5 reduces
    them before any exchange).  The small-files tax this query embodies
    is exactly what `small_files_compaction_plan` measures/fixes."""
    bf_dir = scratch_dir(spark, "binary-files")
    docs = load_table(spark, sf_dir, "documents")
    sub = docs.filter((F.col("doc_id") % 13) == 0).select("doc_id", "text")
    sub.write.partitionBy("doc_id").mode("overwrite").text(bf_dir)

    bf = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt")
        .load(bf_dir)
    )
    return bf.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


# Blank-text guard on BOTH sides: the XML reader's empty-element
# convention (null) can't round-trip a visually-empty string.
_XML_SCAN_SQL = """
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS content_md5
FROM documents
WHERE doc_id % 11 = 0 AND length(trim(text)) > 0
"""


@register("xml_scan_profile", _XML_SCAN_SQL)
def q_xml_scan_profile(spark, sf_dir):
    """Spark 4's NATIVE XML source, round-tripped: a deterministic
    document subset is written as XML (rowTag=doc), scanned back with a
    PINNED schema (the inferSchema ban applies to every ingest format —
    modelling.py:50), and fingerprinted; the oracle recomputes the same
    md5s from the source table, so XML escaping/unescaping fidelity is
    part of what gets hash-checked.

    Scale: the XML reader splits by rowTag like any text-delimited
    source — per-file parallel scans, schema enforced, no discovery
    pass."""
    xml_dir = scratch_dir(spark, "xml-docs")
    docs = load_table(spark, sf_dir, "documents")
    sub = docs.filter(
        ((F.col("doc_id") % 11) == 0) & (F.length(F.trim("text")) > 0)
    ).select("doc_id", "lang", "text")
    (
        sub.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(xml_dir)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        # default trims element-surrounding whitespace — must be off for
        # the md5 round-trip to hold on padded text
        .option("ignoreSurroundingSpaces", "false")
        .schema("doc_id long, lang string, text string")
        .load(xml_dir)
    )
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("content_md5"),
    )


_RL_STREAM_SQL = """
SELECT COUNT(*) AS n_records,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_payloads
FROM documents
WHERE doc_id % 7 = 0
"""


@register("stream_recordlog_ingest", _RL_STREAM_SQL)
def q_stream_recordlog_ingest(spark, sf_dir):
    """The custom Python DataSource consumed as a STREAM (Spark 4
    streaming DataSource API): a deterministic document subset is
    written as record-log shards, then read back incrementally — the
    shard directory is an append-only log and the checkpointed offset
    is the consumed-shard count, so each payload is delivered exactly
    once.  The oracle recomputes record and distinct-payload counts
    from the source table, certifying the full write→stream→aggregate
    loop.  Incremental-restart semantics (new shards only, no
    duplicates) are pinned by tests/test_sources.py."""
    from ..sources.recordlog import stream_recordlog, write_recordlog
    from ..streaming.stream import run_to_memory

    rl_dir = scratch_dir(spark, "recordlog-stream")
    docs = load_table(spark, sf_dir, "documents").filter((F.col("doc_id") % 7) == 0)
    payloads = docs.select(F.encode("text", "utf-8").alias("payload"))
    write_recordlog(payloads.repartition(4), "payload", rl_dir)

    stream = stream_recordlog(spark, rl_dir)
    # streaming forbids DISTINCT aggregates — keyed counts are the
    # streaming-native shape (state = one row per distinct payload
    # hash); the tiny distinct roll-up happens batch-side on the sink
    per_hash = stream.groupBy(F.md5("payload").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    sink = run_to_memory(per_hash, "complete")
    return sink.agg(
        F.sum("n").cast("long").alias("n_records"),
        F.count(F.lit(1)).alias("n_distinct_payloads"),
    )


_JSONL_SCAN_SQL = """
SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS content_md5
FROM documents
WHERE doc_id % 13 = 0 AND length(trim(text)) > 0
"""


@register("jsonl_scan_profile", _JSONL_SCAN_SQL)
def q_jsonl_scan_profile(spark, sf_dir):
    """JSON-lines source round-trip: a deterministic document subset is
    written as newline-delimited JSON and scanned back with a PINNED
    schema (no inferSchema discovery pass — the ban applies to every
    ingest format, modelling.py:50); the md5 fingerprint certifies
    JSON string-escaping fidelity (quotes, backslashes, non-ASCII)
    through the full encode→decode loop against the oracle's view of
    the source table.

    Scale: JSONL is line-splittable, so the scan parallelizes per
    block like CSV; the pinned schema keeps the reader single-pass and
    projection-pruned (only the requested fields are parsed)."""
    json_dir = scratch_dir(spark, "jsonl-docs")
    docs = load_table(spark, sf_dir, "documents")
    sub = docs.filter(
        ((F.col("doc_id") % 13) == 0) & (F.length(F.trim("text")) > 0)
    ).select("doc_id", "lang", "text")
    sub.write.mode("overwrite").json(json_dir)
    back = (
        spark.read.schema("doc_id long, lang string, text string").json(json_dir)
    )
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("content_md5"),
    )


_ORC_SCAN_SQL = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
FROM documents
WHERE doc_id % 3 = 0
GROUP BY lang
"""


@register("orc_scan_profile", _ORC_SCAN_SQL)
def q_orc_scan_profile(spark, sf_dir):
    """ORC source round-trip: the second columnar format beside
    parquet, exercised write→scan→aggregate with predicate pushdown
    intact (ORC carries row-group min/max stats like parquet, so the
    same PushedFilters machinery applies — certified in
    tests/test_sources.py).

    Scale: columnar + splittable + stats-pruned — operationally
    interchangeable with parquet; this query certifies that nothing in
    the engine is parquet-specific."""
    orc_dir = scratch_dir(spark, "orc-docs")
    docs = load_table(spark, sf_dir, "documents")
    sub = docs.filter((F.col("doc_id") % 3) == 0).select(
        "doc_id", "lang", "text", "n_chars"
    )
    sub.write.mode("overwrite").orc(orc_dir)
    back = spark.read.schema("doc_id long, lang string, text string, n_chars long").orc(
        orc_dir
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_distinct"),
    )
