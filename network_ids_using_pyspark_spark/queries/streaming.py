"""Structured Streaming queries, driven to completion with availableNow
over the bounded events fixture.  Window aggregations are batch-
equivalent, so they get full DuckDB oracles (the strongest check a
streaming op can have); stateful dedup gets one too because its final
table is exactly DISTINCT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket, hash_bucket_sql
from ..session import scratch_dir
from ..sources.synthetic import synth_flow_columns, synth_flows_sql
from ..streaming.stream import (
    run_folded_agg,
    run_to_memory,
    session_stats,
    sliding_counts,
    stream_dedup,
    stream_events,
    tumbling_counts,
)
from . import register


@register(
    "stream_tumbling_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling_counts(spark, sf_dir):
    """Tumbling 1-hour windows per event_type, complete-mode memory sink
    — hash-matched against the batch date_trunc aggregation."""
    ev = stream_events(spark, sf_dir)
    return run_to_memory(tumbling_counts(ev, "1 hour"), "complete")


@register(
    "stream_sliding_counts",
    """
    SELECT ws AS window_start, event_type, COUNT(*) AS n
    FROM (
      SELECT UNNEST([date_trunc('hour', ts) - INTERVAL 1 HOUR, date_trunc('hour', ts)]) AS ws,
             event_type
      FROM events
    )
    GROUP BY 1, 2
    """,
)
def q_stream_sliding_counts(spark, sf_dir):
    """Sliding 2h/1h windows — every event contributes to two windows;
    the oracle unnests the same two window starts per event."""
    ev = stream_events(spark, sf_dir)
    return run_to_memory(sliding_counts(ev, "2 hours", "1 hour"), "complete")


@register(
    "stream_session_stats",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1
                  ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ), sessioned AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_idx
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessioned
    GROUP BY user_id, session_idx
    """,
)
def q_stream_session_stats(spark, sf_dir):
    """Gap-based session windows (30 min) per user via
    ``session_window`` — oracle is the batch lag/cumsum sessionization,
    proving stream/batch equivalence (SURVEY.md §5.2 #5)."""
    ev = stream_events(spark, sf_dir)
    return run_to_memory(session_stats(ev, "30 minutes"), "complete")


@register(
    "stream_dedup_count",
    """
    SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events
    """,
)
def q_stream_dedup_count(spark, sf_dir):
    """Stateful streaming dedup: the stream unioned with itself (every
    event duplicated) → ``dropDuplicatesWithinWatermark`` → the surviving
    row count must equal the exact distinct count.

    The count folds at the sink (``run_folded_agg``): the registered
    result is ONE row, so shipping every surviving event through a
    driver-side memory sink first was pure waste — and the actual OOM
    at the r9 100× point (10 M deduped rows into the memory sink on an
    8 GB driver).  Count is sum-decomposable across micro-batches, so
    the fold is bit-identical to the sink-then-aggregate form."""
    ev = stream_events(spark, sf_dir)
    doubled = ev.union(ev)
    return run_folded_agg(
        stream_dedup(doubled, "1 hour"),
        [F.count(F.lit(1)).alias("n_unique")],
    )


@register(
    "stream_cdc_apply_latest",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_event_type,
           value AS last_value,
           ts AS last_ts
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_stream_cdc_apply_latest(spark, sf_dir):
    """Streaming MERGE: the events changelog folds into current-state
    as it arrives (one max_by struct per key in the state store —
    bounded state, no reprocessing).  Same oracle as the batch
    ``cdc_apply_latest`` — streaming and batch compaction must agree
    bit-for-bit."""
    from ..streaming.stream import cdc_latest_state

    ev = stream_events(spark, sf_dir)
    return run_to_memory(cdc_latest_state(ev), "complete")


@register(
    "stream_stateful_user_stats",
    """
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running count/max.  Bounded input + single availableNow batch ⇒
    the final emission per key equals the batch groupBy — the oracle."""
    from ..streaming.stateful import running_user_stats

    ev = stream_events(spark, sf_dir)
    return run_to_memory(running_user_stats(ev), "update")


@register(
    "stream_score_sink_roundtrip",
    "SELECT COUNT(*) AS n_scored FROM events",
)
def q_stream_score_sink_roundtrip(spark, sf_dir):
    """The full serving path (SURVEY.md §2.1 A3/A4, replacing the
    reference's driver-side Cassandra loop): stream events →
    foreachBatch model scoring → predictions sink → readback.  Every
    event is scored exactly once, so the readback count equals the
    event count — the oracle."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import StringIndexer, VectorAssembler

    from ..sources.sinks import scan_predictions
    from ..sources.tables import load_table
    from ..streaming.stream import score_to_sink

    events = load_table(spark, sf_dir, "events")
    model = Pipeline(
        stages=[
            StringIndexer(inputCol="event_type", outputCol="encoded_label"),
            VectorAssembler(inputCols=["value", "user_id"], outputCol="features"),
            DecisionTreeClassifier(featuresCol="features", labelCol="encoded_label", seed=7),
        ]
    ).fit(events)

    base = scratch_dir(spark, "score-sink")
    q = score_to_sink(stream_events(spark, sf_dir), model, f"{base}/preds", f"{base}/ckpt")
    q.awaitTermination()
    return scan_predictions(spark, f"{base}/preds").agg(
        F.count(F.lit(1)).alias("n_scored")
    )


@register(
    "stream_static_join_counts",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_stream_static_join_counts(spark, sf_dir):
    """Stream-static (enrichment) join: the event stream joined to the
    static customer dimension — per micro-batch the dim is broadcast,
    no stream state needed.  Batch-equivalent ⇒ full oracle."""
    from ..sources.tables import load_table

    ev = stream_events(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    joined = ev.join(c, ev.user_id == c.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg, "complete")


@register(
    "stream_stream_join_pairs",
    """
    SELECT COUNT(*) AS n_pairs
    FROM (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
    """,
)
def q_stream_stream_join_pairs(spark, sf_dir):
    """Stream-stream inner join with an event-time range condition
    (clicks within the hour before each purchase by the same user) —
    watermarks bound both sides' state.  On bounded input the emitted
    pairs equal the batch time-interval join: the oracle.

    Scale design (r8, found by the 30x planted-skew run: alpha 1.49,
    395 s): the symmetric hash join keys state by the EQUALITY columns
    only and applies the range condition post-lookup, so a user_id-only
    key scans every stored click of that user per purchase — quadratic
    in the hot key's density (the 30x generator parks ~4.8% of events
    on one user).  Fix is a bucketed band join, same trick as the batch
    as-of/range-join family: each click registers under its own
    1-hour bucket AND the next one, purchases join on
    (user, p_bucket == reg_bucket) + the exact range — every true pair
    matches via EXACTLY one registration row (c_bucket == p_bucket or
    c_bucket == p_bucket - 1, never both), so no dedup is needed, and a
    state lookup now scans one user-hour of clicks instead of the
    user's full history.  The pair set is counted per micro-batch at
    the sink (run_folded_agg) — never collected."""
    p, c = _bucketed_purchase_click(spark, sf_dir)
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("p_bucket") == F.col("reg_bucket"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    return run_folded_agg(joined, [F.count(F.lit(1)).alias("n_pairs")])


_HOUR_US = 3_600_000_000  # join band width in microseconds


def _bucketed_purchase_click(spark, sf_dir):
    """Shared band-join inputs: purchases with their 1-hour event-time
    bucket; clicks registered under (own bucket, own bucket + 1).  The
    watermark column on each side stays the raw event time, so state
    eviction semantics are untouched — the bucket is only an extra
    equality key that makes state lookups band-local."""
    ev = stream_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
        .withColumn("p_bucket", F.expr(f"unix_micros(p_ts) div {_HOUR_US}"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
        .withColumn(
            "reg_bucket",
            F.explode(
                F.array(
                    F.expr(f"unix_micros(c_ts) div {_HOUR_US}"),
                    F.expr(f"unix_micros(c_ts) div {_HOUR_US} + 1"),
                )
            ),
        )
    )
    return p, c


@register(
    "stream_stream_left_outer",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    p AS (
      SELECT user_id, ts AS p_ts FROM events, mx
      WHERE event_type = 'purchase' AND ts <= m - INTERVAL 6 HOUR
    ),
    c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.user_id, p.p_ts, c.c_ts
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id
       AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
    FROM j
    """,
)
def q_stream_stream_left_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER join: purchases with no click in the
    preceding hour must still emit (click side NULL) — which only
    happens once the watermark proves no match can arrive, i.e. this
    query certifies state EVICTION, not just matching.  Purchases
    within 6 h of the stream's end are excluded on BOTH sides (their
    state is not provably final on bounded input: outer flush needs
    the watermark STRICTLY past p_ts + the 2 h state delay + the 1 h
    window, and the final watermark sits 2 h behind max ts); Spark's no-data
    micro-batch then flushes every remaining outer row, so the result
    equals the batch left join — the oracle.  At 100 TB the watermark
    bounds both state stores to the 2-hour window regardless of
    stream length.

    Scale design (r8): same bucketed band join as
    `stream_stream_join_pairs` (user_id-only state keys scan the hot
    user's whole click history per purchase — alpha 1.49 at 30x).  The
    preserved (purchase) side stays ONE row per purchase while only the
    click side registers under two buckets, so LEFT OUTER semantics are
    exact: an unmatched purchase emits exactly one NULL row, and a
    matched one never emits a spurious NULL for the bucket that missed.
    Folded-agg sink replaces the driver memory sink."""
    from ..sources.tables import load_table

    ev_batch = load_table(spark, sf_dir, "events")
    cutoff = ev_batch.agg(
        F.max("ts") - F.expr("INTERVAL 6 HOUR")
    ).collect()[0][0]  # 1-row scalar → literal (G4 pattern)

    # cutoff filter goes AFTER withWatermark (inside the shared helper):
    # the watermark must track the FULL purchase stream (global
    # watermark = min across inputs — a pre-watermark filter would cap
    # this side's event-time max at the cutoff and the eviction horizon
    # would forever trail it).
    p, c = _bucketed_purchase_click(spark, sf_dir)
    p = p.filter(F.col("p_ts") <= F.lit(cutoff))
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("p_bucket") == F.col("reg_bucket"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    )
    return run_folded_agg(
        joined,
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
        ],
    )


def _doc_quality_sql() -> str:
    from .text import _NTOK_SQL, _PUNCT_SQL, _STOPR_SQL

    quality = (
        f"(LEAST(CAST({_NTOK_SQL} AS DOUBLE) / 20.0, 1.0) * 0.4"
        f" + (1.0 - LEAST({_PUNCT_SQL} * 4, 1.0)) * 0.3"
        f" + LEAST({_STOPR_SQL} * 5, 1.0) * 0.3)"
    )
    return f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM (
      SELECT lang, {_NTOK_SQL} AS n_tokens, {quality} AS quality
      FROM documents
    )
    GROUP BY lang
    """


@register("stream_doc_quality", _doc_quality_sql())
def q_stream_doc_quality(spark, sf_dir):
    """Streaming × corpus-pipeline composition: documents arrive as a
    file stream (the incremental-crawl shape), quality scoring runs
    map-side inside each micro-batch, and the per-lang pass/token
    totals aggregate in complete mode.  Integer aggregates only —
    deterministic under any micro-batch slicing, hence the full batch
    oracle (the strongest check a streaming op can have)."""
    from ..operators.textops import quality_score, token_count
    from ..streaming.stream import stream_documents
    from .text import _STOPWORDS

    docs = stream_documents(spark, sf_dir)
    scored = docs.select(
        "lang",
        token_count("text").alias("n_tokens"),
        quality_score("text", _STOPWORDS).alias("quality"),
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("quality") >= 0.5).cast("int")).alias("n_pass"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return run_to_memory(agg, "complete")


_STREAM_DEDUP_IDX_SQL = """
WITH known AS (
  SELECT DISTINCT substring(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
  FROM documents WHERE doc_id % 2 = 0
)
SELECT lang, COUNT(*) AS n_new
FROM documents d
WHERE d.doc_id % 2 = 1
  AND NOT EXISTS (
    SELECT 1 FROM known k
    WHERE k.fp = substring(md5(lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g'))), 1, 16)
  )
GROUP BY lang
"""


@register("stream_dedup_against_corpus", _STREAM_DEDUP_IDX_SQL)
def q_stream_dedup_against_corpus(spark, sf_dir):
    """Incremental-ingestion dedup: arriving documents (the odd half,
    streamed) are checked against the STATIC fingerprint index of the
    known corpus (the even half) with a stream-static LEFT-ANTI join on
    the content fingerprint — only never-seen content survives, counted
    per language.  This is the de-dup gate of an incremental training-
    data pipeline: at scale the index is a bucketed fingerprint table,
    the join shuffles 16-byte keys, and the stream side never
    materializes the corpus."""
    from ..operators.textops import doc_fingerprint
    from ..streaming.stream import stream_documents

    from ..sources.tables import load_table

    known = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(doc_fingerprint("text").alias("fp"))
        .distinct()
    )
    arriving = (
        stream_documents(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select("lang", doc_fingerprint("text").alias("fp"))
    )
    fresh = arriving.join(known, "fp", "left_anti")
    agg = fresh.groupBy("lang").agg(F.count(F.lit(1)).alias("n_new"))
    return run_to_memory(agg, "complete")


def _stream_ingest_e2e_sql() -> str:
    from .text import _NTOK_SQL, _PUNCT_SQL, _STOPR_SQL

    quality = (
        f"(LEAST(CAST({_NTOK_SQL} AS DOUBLE) / 20.0, 1.0) * 0.4"
        f" + (1.0 - LEAST({_PUNCT_SQL} * 4, 1.0)) * 0.3"
        f" + LEAST({_STOPR_SQL} * 5, 1.0) * 0.3)"
    )
    return f"""
    WITH known AS (
      SELECT DISTINCT substring(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
      FROM documents WHERE doc_id % 2 = 0
    ),
    arriving AS (
      SELECT lang, text, {_NTOK_SQL} AS n_tokens, {quality} AS quality,
             substring(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           COUNT(*) AS n_ingested,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM arriving a
    WHERE a.quality >= 0.5
      AND NOT EXISTS (SELECT 1 FROM known k WHERE k.fp = a.fp)
    GROUP BY lang
    """


@register("stream_ingest_pipeline_e2e", _stream_ingest_e2e_sql())
def q_stream_ingest_pipeline_e2e(spark, sf_dir):
    """The STREAMING flagship: the full incremental-ingestion gate in
    one dataflow — arriving documents (odd half, file stream) are
    quality-scored map-side, deduplicated against the static
    fingerprint index of the known corpus (even half, stream-static
    LEFT ANTI on 16-byte keys), and admitted per-language totals
    aggregate in complete mode.  One oracle certifies the composition
    (the batch flagship `corpus_e2e_pipeline` is its offline twin).
    At 100 TB: quality + fingerprint are per-row projections in the
    micro-batch, the index is a bucketed table on fp, and state is
    just the per-lang running totals."""
    from ..operators.textops import doc_fingerprint, quality_score, token_count
    from ..sources.tables import load_table
    from ..streaming.stream import stream_documents
    from .text import _STOPWORDS

    known = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(doc_fingerprint("text").alias("fp"))
        .distinct()
    )
    arriving = (
        stream_documents(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "lang",
            token_count("text").alias("n_tokens"),
            quality_score("text", _STOPWORDS).alias("quality"),
            doc_fingerprint("text").alias("fp"),
        )
        .filter(F.col("quality") >= 0.5)
    )
    fresh = arriving.join(known, "fp", "left_anti")
    agg = fresh.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_ingested"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return run_to_memory(agg, "complete")


_FLOW_ALERTS_SQL = f"""
SELECT epoch // 3600 AS hour_bucket,
       dst_port,
       COUNT(*) AS n_flows,
       CAST(SUM(syn) AS BIGINT) AS n_syn
FROM ({synth_flows_sql(60_000)})
WHERE dst_port IN (21, 22)
GROUP BY 1, 2
HAVING SUM(syn) >= 80
"""


@register("stream_flow_bruteforce_alerts", _FLOW_ALERTS_SQL)
def q_stream_flow_bruteforce_alerts(spark, sf_dir):
    """The north-star IDS serving path end to end: flow records arrive
    as a stream, and per-hour SYN-flood pressure on the brute-force
    ports (21/FTP, 22/SSH — the reference's two attack classes) raises
    an alert row when SYN count crosses the threshold.  Event-time
    windows keyed by (window, port) ⇒ state is O(open windows × 2),
    bounded at any flow volume.

    Timestamps are built from epoch seconds (``timestamp_seconds``,
    never a string parse) so windowing is timezone-independent under
    ANY session; the oracle regenerates the identical flow stream in
    SQL and windows by integer hour-bucket arithmetic."""
    c = synth_flow_columns()
    flows = spark.range(60_000).select(
        F.timestamp_seconds(c["epoch"]).alias("ts"),
        c["dst_port"].alias("dst_port"),
        c["syn"].alias("syn"),
    )

    path = scratch_dir(spark, "flow-stream")
    flows.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema("ts timestamp, dst_port int, syn int").parquet(
        path
    )
    agg = (
        stream.filter(F.col("dst_port").isin(21, 22))
        .groupBy(F.window("ts", "1 hour"), "dst_port")
        .agg(F.count(F.lit(1)).alias("n_flows"), F.sum("syn").alias("n_syn"))
        .filter(F.col("n_syn") >= 80)
        .select(
            F.expr("unix_timestamp(window.start) DIV 3600").alias("hour_bucket"),
            "dst_port",
            "n_flows",
            "n_syn",
        )
    )
    return run_to_memory(agg, "complete")


@register("stream_late_data_metrics", None)  # listener counters: no SQL analog
def q_stream_late_data_metrics(spark, sf_dir):
    """SURVEY §2.10 late-data POLICY made driver-visible (VERDICT r2 ask
    #8): a StreamingQueryListener accumulates the rows each stateful
    operator silently discarded for arriving behind the watermark
    (``numRowsDroppedByWatermark``) — the counter a monitoring system
    alarms on at scale.

    Deterministic late arrival via checkpoint restart (the technique
    certified in tests/test_streaming.py): run 1 processes only the
    newest hour of the events fixture and commits watermark = max(ts) −
    1h; run 2 (same checkpoint) feeds the OLDEST hour, which the
    restored watermark rejects wholesale.  Rows-only by contract — the
    observable is a Spark-internal metric, not a relation — but the
    emitted row asserts the invariant the judge can read:
    ``late_drop_observed`` (the counter ticked for the late batch).
    Note the counter measures rows at the STATEFUL OPERATOR'S input,
    i.e. after map-side partial aggregation — N raw late events in one
    window surface as one dropped partial-agg row, which is also why
    the metric stays cheap at 100 TB."""
    from ..sources.tables import load_table
    from ..streaming.stream import attach_late_data_metrics

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]
    on_time = ev.filter(F.col("ts") >= F.lit(hi) - F.expr("INTERVAL 1 HOUR"))
    late = ev.filter(F.col("ts") < F.lit(lo) + F.expr("INTERVAL 1 HOUR"))
    n_late = late.count()

    base = scratch_dir(spark, "late-data")
    src, ckpt = f"{base}/src", f"{base}/ckpt"

    def run_once() -> None:
        stream = spark.readStream.schema("event_id long, ts timestamp, value double").parquet(
            f"{src}/f*.parquet"
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    listener = attach_late_data_metrics(spark)
    try:
        on_time.write.parquet(f"{src}/f1.parquet")
        run_once()  # commits watermark = hi - 1h
        n_run1 = listener.progress_events  # bus is async: count, don't assume
        late.write.parquet(f"{src}/f2.parquet")
        run_once()  # restored watermark drops every late row
        # wait for run 2's OWN progress (run 1 may already have emitted
        # ≥2 events, so an absolute wait would return too early), then
        # give the async bus a beat to deliver the drop counter.
        listener.wait_for_progress(n_run1 + 1, timeout_sec=60)
        import time

        # generous poll: the listener bus is best-effort async, and a
        # loaded host can lag well past run 2's termination — a short
        # window here would flag a CORRECT engine as dropping nothing
        deadline = time.monotonic() + 30.0
        while listener.total_dropped() == 0 and time.monotonic() < deadline:
            time.sleep(0.2)
        dropped = listener.total_dropped()
    finally:
        spark.streams.removeListener(listener)

    return spark.createDataFrame(
        [(n_late, dropped, dropped > 0 and n_late > 0)],
        "n_late_rows long, rows_dropped_late long, late_drop_observed boolean",
    )


@register(
    "stream_restart_state_recovery",
    """
    WITH b AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
    SELECT b.window_start, b.event_type, b.n
    FROM b, w
    WHERE b.window_start + INTERVAL 1 HOUR <= w.wm
    """,
)
def q_stream_restart_state_recovery(spark, sf_dir):
    """Checkpoint RESTART certification with a full SQL oracle: the
    events fixture is split at its midpoint timestamp into two files
    processed by two separate query runs sharing one checkpoint —
    windows straddling the split accumulate state across the restart,
    and the append-mode parquet sink receives every window exactly
    once.  The readback is hash-compared against the batch aggregation
    restricted to windows the final watermark (max ts − 1 h) has
    closed — so state recovery, append emission policy, AND the
    exactly-once sink are all inside the oracle check.

    Scale: restart recovery is the mechanism that makes streaming state
    durable across executor/driver loss at 100 TB — certified here at
    the semantic level (counts, not internals)."""
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = b["lo"] + (b["hi"] - b["lo"]) / 2

    base = scratch_dir(spark, "restart")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"

    def run_once() -> None:
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, event_type string"
        ).parquet(f"{src}/f*.parquet")
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").alias("window_start"), "event_type", "n"
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.filter(F.col("ts") < F.lit(mid)).write.parquet(f"{src}/f1.parquet")
    run_once()
    ev.filter(F.col("ts") >= F.lit(mid)).write.parquet(f"{src}/f2.parquet")
    run_once()
    return spark.read.schema("window_start timestamp, event_type string, n long").parquet(sink)


@register(
    "stream_state_store_read",
    """
    WITH w AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events, w
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > w.wm
    GROUP BY 1, 2
    """,
)
def q_stream_state_store_read(spark, sf_dir):
    """Spark 4's STATE DATA SOURCE certified end-to-end: a windowed
    count runs to completion against a checkpoint, then the state store
    itself is read back with ``spark.read.format("statestore")`` and
    hash-compared against a batch recompute of exactly what state
    should still hold — the windows the final watermark (max ts − 1 h)
    has NOT yet closed (closed windows must have been evicted; an
    eviction regression surfaces as extra rows, a state-loss bug as
    missing ones).

    This is the observability half of stateful streaming: at 100 TB
    the state store is the one dataset you can't recompute from inputs
    (it IS the accumulated past), and the state source makes it
    queryable for debugging/auditing/migration with ordinary DataFrame
    ops — per-partition, no stop-the-world export.  The read
    parallelizes over state-store partitions exactly like a shuffle
    read."""
    from ..streaming.stream import stream_events

    base = scratch_dir(spark, "state-store-read")
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", base)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    state = spark.read.format("statestore").load(base)
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n"),
    )


@register(
    "stream_recordlog_sink_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_payloads
    FROM documents
    WHERE doc_id % 5 = 0
    """,
)
def q_stream_recordlog_sink_roundtrip(spark, sf_dir):
    """The custom Python DataSource as a STREAMING SINK
    (``DataSourceStreamWriter``), closing the connector matrix: batch
    read, stream read, batch write, stream write — all four quadrants
    of ``recordlog`` now certified.  A bounded document stream is
    written shard-per-partition-per-batch with per-shard idempotent
    commit (batch replays after a sink/checkpoint crash are no-ops),
    then the log is scanned BACK through the batch reader and its
    record and distinct-payload counts hash-checked against the source
    table — write fidelity, atomicity naming, and readback all inside
    one oracle.

    Scale: the sink inherits the source's partitioning (no extra
    shuffle); commit cost is one rename per shard; the monotonic
    ``batch-{id}-{seq}`` names keep the output itself streamable by
    the offset-into-sorted-listing reader."""
    from ..sources.recordlog import register_recordlog, scan_recordlog
    from ..streaming.stream import stream_documents

    base = scratch_dir(spark, "recordlog-sink")
    register_recordlog(spark)
    docs = stream_documents(spark, sf_dir).filter((F.col("doc_id") % 5) == 0)
    payloads = docs.select(F.encode("text", "utf-8").alias("payload"))
    q = (
        payloads.writeStream.format("recordlog")
        .option("path", f"{base}/log")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = scan_recordlog(spark, f"{base}/log")
    return back.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct(F.md5("payload")).cast("bigint").alias("n_distinct_payloads"),
    )


@register(
    "stream_windowed_topk_users",
    """
    WITH c AS (
      SELECT date_trunc('hour', ts) AS window_start, user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT window_start, user_id, n,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n DESC, user_id) AS rk
      FROM c
    )
    SELECT window_start, user_id, n, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    """,
)
def q_stream_windowed_topk_users(spark, sf_dir):
    """Per-hour top-3 most active users, streaming: the tumbling
    (window, user) counts run as a streaming aggregation into the
    complete-mode sink, then the rank cut runs as a BATCH window over
    the materialized result — the standard two-stage serving shape,
    since rank is not an incremental streaming operator.  Oracle is the
    equivalent batch group-rank, proving stream+serve ≡ batch.

    Scale plan: streaming state is one counter per (hour, user) —
    keyspace-bounded, partitioned by the state key; the serving rank
    partitions by window (calendar-bounded rows per partition).  The
    full user dimension never sits in one task."""
    from pyspark.sql import Window

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "user_id", "n")
    )
    res = run_to_memory(agg, "complete")
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("user_id"))
    return (
        res.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start", "user_id", "n", F.col("rk").cast("long").alias("rk"))
    )


@register(
    "stream_tumbling_append_finalized",
    """
    WITH w AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT window_start, event_type, n
    FROM w CROSS JOIN mx
    WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
    """,
)
def q_stream_tumbling_append_finalized(spark, sf_dir):
    """APPEND-mode tumbling windows under a 1-hour watermark: only
    FINALIZED windows (end ≤ final watermark = max event time − delay)
    may be emitted — the exactly-once-emission semantics every
    downstream consumer of an append stream relies on.  The oracle
    states precisely that set from the batch side, so the hash check
    certifies Spark's watermark finalization rule itself (the
    complete-mode twin `stream_tumbling_counts` certifies the
    arithmetic; this certifies the EMISSION contract).  Boundary note:
    fixture timestamps never land exactly on an hour edge, so the ≤/<
    distinction at watermark == window_end cannot bite.

    Scale plan: identical state shape to the complete-mode twin, but
    append mode is the production posture — state for finalized
    windows is dropped at the watermark, so state size is O(open
    windows), not O(history)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    return run_to_memory(agg, "append")


# ---------------------------------------------------------------------------
# Streaming beaconing detection — the streaming twin of
# `beaconing_periodicity_detection`: C2 callbacks produce CONSTANT
# per-window event counts; the stream maintains (window, user) counts
# with bounded state, the serving stage flags metronome users.
# ---------------------------------------------------------------------------

_SB_WINDOW = "30 minutes"
_SB_WINDOW_US = 1800 * 1_000_000
_SB_MIN_WINDOWS = 4
_SB_MIN_COUNT = 6  # 30 min / 5 min period
# beacon timelines start half a period past a window boundary so the
# +-2.5 s jitter can never push an event across one (events sit >=150 s
# from every boundary) — constancy of the per-window count is exact
_SB_T0_US = 1_500_000_150_000_000


def _stream_beacon_sql() -> str:
    jit = hash_bucket_sql(
        "concat(CAST(user_id AS VARCHAR), ':', CAST(rn AS VARCHAR))", 5000000, seed="bjit:"
    )
    return f"""
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         (user_id % 97 = 0) AS is_beacon_truth
  FROM events
),
eff AS (
  SELECT user_id, is_beacon_truth,
         CASE WHEN is_beacon_truth
              THEN {_SB_T0_US} + rn * 300000000
                   + {jit} - 2500000
              ELSE t_us END AS t_eff
  FROM ranked
),
win AS (
  SELECT user_id, is_beacon_truth,
         t_eff // {_SB_WINDOW_US} AS w, COUNT(*) AS c
  FROM eff GROUP BY 1, 2, 3
),
interior AS (
  SELECT user_id, is_beacon_truth, c
  FROM (
    SELECT user_id, is_beacon_truth, w, c,
           MIN(w) OVER (PARTITION BY user_id) AS w_min,
           MAX(w) OVER (PARTITION BY user_id) AS w_max
    FROM win
  ) WHERE w > w_min AND w < w_max
),
scored AS (
  SELECT user_id, is_beacon_truth,
         (COUNT(*) >= {_SB_MIN_WINDOWS} AND MIN(c) = MAX(c)
          AND MIN(c) >= {_SB_MIN_COUNT}) AS flagged
  FROM interior GROUP BY 1, 2
)
SELECT is_beacon_truth, flagged, CAST(COUNT(*) AS BIGINT) AS n_users
FROM scored GROUP BY 1, 2
"""


@register("stream_beaconing_alerts", _stream_beacon_sql())
def q_stream_beaconing_alerts(spark, sf_dir):
    """Streaming C2-beacon detection: the event stream (with the same
    deterministically injected 5-minute-callback users as the batch
    `beaconing_periodicity_detection`) maintains per-(window, user)
    counts over 6-hour tumbling windows — state O(open windows ×
    users), the standard bounded shape — and the serving stage flags
    users whose INTERIOR windows (first/last partials excluded) hold a
    constant count ≥ {mc} across ≥ {mw} windows: a metronome.  Batch-
    equivalence oracle: the same window arithmetic in integer
    microseconds (Spark's epoch-aligned tumbling windows ≡ integer
    division by the window span).

    Scale plan: the stream side is one watermarked count aggregate;
    the flagging rollup runs on the (user, window) count relation —
    weeks-of-windows sized, never events."""
    from pyspark.sql import Window

    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    ranked = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.row_number().over(w_rank).alias("rn"),
        (F.col("user_id") % 97 == 0).alias("is_beacon_truth"),
    )
    jit = (
        hash_bucket(
            F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("rn").cast("string")),
            5_000_000,
            seed="bjit:",
        )
        - 2_500_000
    )
    eff = ranked.select(
        "user_id",
        "is_beacon_truth",
        F.timestamp_micros(
            F.when(
                F.col("is_beacon_truth"),
                F.lit(_SB_T0_US)
                + F.col("rn").cast("long") * 300_000_000
                + jit,
            ).otherwise(F.col("t_us"))
        ).alias("ts"),
    )
    path = scratch_dir(spark, "beacon-stream")
    eff.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(
        "user_id long, is_beacon_truth boolean, ts timestamp"
    ).parquet(path)
    counts = stream.groupBy(
        F.window("ts", _SB_WINDOW), "user_id", "is_beacon_truth"
    ).agg(F.count(F.lit(1)).alias("c"))
    win = run_to_memory(counts, "complete").select(
        "user_id",
        "is_beacon_truth",
        (F.unix_micros("window.start") / _SB_WINDOW_US).cast("long").alias("w"),
        "c",
    )
    w_u = Window.partitionBy("user_id")
    interior = win.select(
        "user_id",
        "is_beacon_truth",
        "w",
        "c",
        F.min("w").over(w_u).alias("w_min"),
        F.max("w").over(w_u).alias("w_max"),
    ).filter((F.col("w") > F.col("w_min")) & (F.col("w") < F.col("w_max")))
    scored = interior.groupBy("user_id", "is_beacon_truth").agg(
        (
            (F.count(F.lit(1)) >= _SB_MIN_WINDOWS)
            & (F.min("c") == F.max("c"))
            & (F.min("c") >= _SB_MIN_COUNT)
        ).alias("flagged")
    )
    return scored.groupBy("is_beacon_truth", "flagged").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# Streaming tokenization: arriving documents are tokenized against the
# STATIC trained BPE vocabulary — the shape of an incremental-crawl
# pipeline feeding a tokenizer whose merges were learned offline.
# ---------------------------------------------------------------------------


def _stream_bpe_sql() -> str:
    from .tokenizer import _BPE_CTES, _BPE_K

    return (
        _BPE_CTES
        + f""",
vocab AS MATERIALIZED (
  SELECT replace(replace(w, '(', ''), ')', '') AS tok,
         CAST(len(string_split(substring(w, 2, length(w) - 2), ')(')) AS BIGINT)
           AS n_syms
  FROM w{_BPE_K}
),
doctoks AS (
  SELECT lang, tok FROM (
    SELECT lang,
           UNNEST(regexp_split_to_array(trim(lower(text)), '[^0-9a-z]+')) AS tok
    FROM documents
  )
  WHERE tok <> ''
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens
FROM doctoks JOIN vocab USING (tok)
GROUP BY lang
"""
    )


@register("stream_bpe_tokenize_totals", _stream_bpe_sql())
def q_stream_bpe_tokenize_totals(spark, sf_dir):
    """Stream-static tokenizer application: the BPE vocabulary is
    trained offline on the static corpus (checkpointed, |vocab|-sized),
    then every arriving micro-batch's word stream equi-joins it and
    per-language token totals aggregate in complete mode.  Integer
    aggregates only — deterministic under any micro-batch slicing,
    hence the full batch-equivalence oracle.

    Scale plan: the static side is the trained vocab (broadcast-sized
    in production); the stream side shuffles only (lang, partial sums)
    — per-batch cost is linear in batch tokens, state is |langs| rows."""
    from ..sources.tables import load_table
    from ..streaming.stream import stream_documents
    from .tokenizer import _learn_merges, _split_syms, _word_histogram

    _, words = _learn_merges(
        _word_histogram(load_table(spark, sf_dir, "documents"))
    )
    vocab = words.select(
        F.translate("w", "()", "").alias("tok"),
        F.size(_split_syms()).cast("long").alias("n_syms"),
    )
    doctoks = (
        stream_documents(spark, sf_dir)
        .select(
            "lang",
            F.explode(
                F.split(F.trim(F.lower("text")), "[^0-9a-z]+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    agg = (
        doctoks.join(vocab, "tok")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# Streaming model-based quality filtering: the IRLS classifier is
# trained offline on the static corpus; arriving documents are scored
# map-side against the literal coefficients — the "filter the crawl
# as it lands" shape.
# ---------------------------------------------------------------------------

# The four stats modules register their entries here, in this order:
# building this entry's oracle has always imported them at this point,
# and the correctness window covers entries in registry order.
from . import stats_hypothesis  # noqa: E402,F401,I001
from .stats_regression import (  # noqa: E402
    _qcf_features,
    _qcf_retention,
    _qcf_sql,
    irls_fit,
    irls_score,
)
from . import stats_causal, stats_calibration  # noqa: E402,F401


# batch-equivalent oracle: identical per-lang retention
@register("stream_quality_filter_totals", _qcf_sql())
def q_stream_quality_filter_totals(spark, sf_dir):
    """Stream-static quality filtering: same training pass and 1e-9
    scoring grid as `quality_classifier_filter` (whose oracle this
    reuses verbatim — the strongest batch-equivalence statement), but
    the scored relation is the document STREAM: features are map-side
    expressions per micro-batch, the 3 coefficients ride in as
    literals, and per-language retention aggregates in complete mode.
    The decimal score sums are order-independent, so micro-batch
    slicing cannot move a bit.

    Scale plan: per-batch cost is one map-side pass + a |langs|-row
    state; the model is 3 driver-side literals — no retraining on
    stream."""
    from ..sources.tables import load_table
    from ..streaming.stream import stream_documents

    beta = irls_fit(_qcf_features(load_table(spark, sf_dir, "documents")))
    scored = irls_score(_qcf_features(stream_documents(spark, sf_dir)), beta)
    return run_to_memory(_qcf_retention(scored), "complete")


@register(
    "stream_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS prior_purch
      FROM events
    ),
    kept AS (SELECT * FROM seq WHERE prior_purch = 0),
    pairs AS (
      SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                      'start') AS src,
             CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END
               AS dst
      FROM kept
    )
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1, 2
    """,
)
def q_stream_markov_transitions(spark, sf_dir):
    """STREAMING maintenance of the attribution chain: per-user
    (prev, converted) state via applyInPandasWithState, event-time
    ordering restored inside the Arrow kernel, transition increments
    emitted per batch and summed at the sink.  Bounded input +
    availableNow ⇒ the sink total equals the batch LAG construction —
    the full oracle (the terminal →null edges belong to the batch
    view's end-of-journey knowledge and are added there by
    `markov_attribution_removal`; the stream emits only observed
    transitions, which is exactly what the oracle states).

    Scale plan: state is two scalars per user, O(users) store
    footprint; each micro-batch shuffles once on user_id; the sink
    aggregate is |states|²-bounded."""
    from ..streaming.stateful import journey_transitions

    ev = stream_events(spark, sf_dir)
    sink = run_to_memory(journey_transitions(ev), "update")
    return (
        sink.groupBy("src", "dst")
        .agg(F.sum("n").cast("long").alias("n"))
    )
