"""Coverage of the remaining modern PySpark API surfaces — VARIANT
semi-structured values, cogrouped applyInPandas, mapInArrow, and
Python UDTFs — each doing a real job AND certified by the same DuckDB
oracle gate as every relational op (the Python/Arrow paths are held to
the bit-exact standard, not grandfathered)."""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified type hints here

from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql, dec_sum_sql
from ..sources.tables import load_table
from . import register

# ---------------------------------------------------------------------------
# VARIANT: Spark 4's semi-structured type — parse once, extract with
# typed paths; the shredded binary beats per-access JSON string
# parsing at scale.
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
FROM events
GROUP BY event_type
"""


@register("variant_props_stats", _VARIANT_SQL)
def q_variant_props_stats(spark, sf_dir):
    """props parsed to VARIANT once (``parse_json``), then typed-path
    extraction (``variant_get``) feeds an ordinary aggregate.  At
    100 TB the parse happens in the scan projection and only the
    extracted int crosses into the aggregate — the JSON string itself
    never shuffles (contrast ``json_props_stats``, which re-parses per
    access via get_json_object)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Cogrouped applyInPandas: the two-sided Arrow UDF — each user's
# clicks and purchases meet in one pandas callback (merge_asof), the
# escape hatch for per-key logic no built-in join expresses.
# ---------------------------------------------------------------------------

_COGROUP_SQL = """
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT p.user_id, p.event_id, p.p_us,
         (SELECT MAX(c.c_us) FROM clicks c
          WHERE c.user_id = p.user_id AND c.c_us <= p.p_us) AS last_c_us
  FROM purchases p
)
SELECT user_id,
       COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN last_c_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(MAX(CASE WHEN last_c_us IS NOT NULL THEN p_us - last_c_us END) AS BIGINT) AS max_gap_us
FROM matched
GROUP BY user_id
"""


@register("cogroup_asof_stats", _COGROUP_SQL)
def q_cogroup_asof_stats(spark, sf_dir):
    """Per-user as-of match of purchases to their latest preceding
    click via ``cogroup().applyInPandas`` + ``pandas.merge_asof`` —
    the cogrouped Arrow path: both sides shuffle ONCE on user_id, each
    key's pair of frames meets in a single Python callback (state
    bounded by per-key group size).  The relational as-of operator
    (`asof_last_click_before_purchase`) is the built-in twin; this one
    certifies the cogroup surface against the same scalar-subquery
    oracle."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("c_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", us.alias("p_us")
    )

    def asof(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = purchases, right = clicks for one user
        if left.empty:
            return pd.DataFrame(
                columns=["user_id", "n_purchases", "n_matched", "max_gap_us"]
            )
        left = left.sort_values(["p_us", "event_id"])
        right = right.sort_values("c_us")
        m = pd.merge_asof(
            left, right[["c_us"]], left_on="p_us", right_on="c_us",
            direction="backward", allow_exact_matches=True,
        )
        gaps = (m["p_us"] - m["c_us"]).dropna()
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_purchases": [len(m)],
                "n_matched": [int(m["c_us"].notna().sum())],
                "max_gap_us": [int(gaps.max()) if len(gaps) else None],
            }
        )

    return purchases.groupBy("user_id").cogroup(clicks.groupBy("user_id")).applyInPandas(
        asof,
        schema="user_id long, n_purchases long, n_matched long, max_gap_us long",
    )


# ---------------------------------------------------------------------------
# mapInArrow: the zero-copy batch path — pyarrow compute kernels over
# RecordBatches, no pandas materialization at all.
# ---------------------------------------------------------------------------

_ARROW_SQL = """
SELECT CAST(len(regexp_split_to_array(trim(text), '\\s+')) // 10 AS BIGINT) AS tok_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS sum_tokens
FROM documents
GROUP BY 1
"""


@register("arrow_token_bins", _ARROW_SQL)
def q_arrow_token_bins(spark, sf_dir):
    """Token-count histogram computed with ``mapInArrow`` + pyarrow
    compute kernels (split on whitespace runs, list lengths) —
    RecordBatches flow straight from Tungsten through Arrow C data to
    the kernel and back, never widening into pandas objects.  The
    aggregate after it is ordinary Spark.  Same per-doc token law as
    the built-in ``token_stats`` op, so the oracle is shared — the
    Arrow kernel is held to the relational answer."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("text")

    def batches(it):
        for batch in it:
            text = pc.utf8_trim_whitespace(batch.column("text"))
            toks = pc.split_pattern_regex(text, r"\s+")
            n = pc.list_value_length(toks).cast(pa.int64())
            yield pa.RecordBatch.from_arrays([n], names=["n_tok"])

    per_doc = docs.mapInArrow(batches, schema="n_tok long")
    return per_doc.groupBy(
        (F.col("n_tok") / 10).cast("long").alias("tok_bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
    )


# ---------------------------------------------------------------------------
# Python UDTF: one input row → many output rows, lazily yielded — the
# table-function surface (Spark 4) for expansion logic that wants
# imperative Python.
# ---------------------------------------------------------------------------

_UDTF_W, _UDTF_S = 50, 40

_UDTF_SQL = f"""
WITH toks AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(n / {_UDTF_S}.0) AS BIGINT)),
                k -> least({_UDTF_W}, n - k * {_UDTF_S}))) AS n_tokens
  FROM toks WHERE n >= 1
)
SELECT CAST(n_tokens AS INTEGER) AS n_tokens, COUNT(*) AS n_chunks
FROM chunks
GROUP BY 1
"""


@register("udtf_chunk_profile", _UDTF_SQL)
def q_udtf_chunk_profile(spark, sf_dir):
    """Sliding-window chunk expansion (window {_UDTF_W}, stride
    {_UDTF_S}) as a Python UDTF with a TABLE argument: each input doc
    lazily yields one row per chunk — the generator never materializes
    a doc's chunk list.  Executes partition-parallel like any
    projection (one Python worker per task, rows streamed via Arrow).
    The chunk-size law is mirrored exactly by the oracle's integer
    arithmetic."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="n_tokens int")
    class ChunkSizes:
        def eval(self, row):
            toks = row.text.strip().split()
            n = len(toks)
            if not row.text.strip():
                n = 1  # regexp_split of '' yields [''] — match the oracle
            k = 0
            while k * _UDTF_S < n:
                yield (min(_UDTF_W, n - k * _UDTF_S),)
                k += 1

    spark.udtf.register("nids_chunk_sizes", ChunkSizes)
    load_table(spark, sf_dir, "documents").select("doc_id", "text").createOrReplaceTempView(
        "nids_udtf_docs"
    )
    expanded = spark.sql("SELECT * FROM nids_chunk_sizes(TABLE(nids_udtf_docs))")
    return expanded.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("n_chunks"))


# ---------------------------------------------------------------------------
# Observation API: Spark's zero-extra-pass metric hook — aggregates
# piggyback on an existing action instead of costing a second scan.
# ---------------------------------------------------------------------------

_OBSERVE_SQL = f"""
SELECT COUNT(*) AS n_rows,
       {dec_sum_sql('l_quantity')} AS sum_qty,
       MAX(l_shipdate) AS max_shipdate
FROM lineitem
"""


@register("observed_scan_metrics", _OBSERVE_SQL)
def q_observed_scan_metrics(spark, sf_dir):
    """`df.observe()` certification: the metrics are computed BY the
    scan action itself (AggregatingAccumulator on the executors — zero
    additional jobs, zero extra scans), then surfaced as a 1-row
    DataFrame.  This is how a 100 TB pipeline gets row counts and
    checksum-style invariants for free on every write: observe() on
    the frame being written, metrics read off the completed action.
    The oracle recomputes the same aggregates relationally."""
    from pyspark.sql import Observation

    from ..functions.numeric import dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum("l_quantity").alias("sum_qty"),
        F.max("l_shipdate").alias("max_shipdate"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the carrying action
    row = obs.get
    return spark.createDataFrame(
        [(row["n_rows"], row["sum_qty"], row["max_shipdate"])],
        "n_rows bigint, sum_qty double, max_shipdate timestamp",
    )


# ---------------------------------------------------------------------------
# pandas API on Spark: the drop-in pandas dialect compiling to the same
# Catalyst plans — certified against the same oracle as the native API.
# ---------------------------------------------------------------------------

_PS_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@register("pandas_api_event_profile", _PS_SQL)
def q_pandas_api_event_profile(spark, sf_dir):
    """The same grouped profile written in pandas-on-Spark
    (`df.pandas_api()` → pandas groupby/agg → `.to_spark()`): proves
    the pandas dialect lands on the identical distributed plan and
    bit-identical results (order-independent aggregates only).  At
    scale nothing changes — ps operations ARE DataFrame operations;
    only the API shape differs."""
    ev = load_table(spark, sf_dir, "events")
    psdf = ev.pandas_api()
    out = psdf.groupby("event_type").agg(
        n=("event_id", "count"),
        min_value=("value", "min"),
        max_value=("value", "max"),
        n_users=("user_id", "nunique"),
    )
    sdf = out.reset_index().to_spark()
    return sdf.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "min_value",
        "max_value",
        F.col("n_users").cast("long").alias("n_users"),
    )


_PARAM_K = 3
_PARAM_SEG = "BUILDING"

_PARAM_SQL = f"""
SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{_PARAM_SEG}'
GROUP BY 1, 2
ORDER BY n DESC, o.o_orderpriority ASC
LIMIT {_PARAM_K}
"""


@register("parameterized_sql_top_priorities", _PARAM_SQL)
def q_parameterized_sql_top_priorities(spark, sf_dir):
    """Spark 4 parameterized SQL + DataFrame templating: the query text
    references DataFrames directly (``{{orders}}``/``{{customer}}`` —
    no temp-view registration, no name collisions between concurrent
    jobs) and takes NAMED PARAMETERS (``:seg``, ``:k``) instead of
    string interpolation — the injection-safe way to ship user inputs
    into SQL, and parameters are literals in the plan so Catalyst
    folds/pushes them like any constant.

    Scale: identical plan to the hand-built DataFrame equivalent —
    broadcast dim join, partial agg, TakeOrderedAndProject top-k."""
    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n
        FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = :seg
        GROUP BY 1, 2
        ORDER BY n DESC, o.o_orderpriority ASC
        LIMIT :k
        """,
        args={"seg": _PARAM_SEG, "k": _PARAM_K},
        orders=orders,
        customer=customer,
    )


# ---------------------------------------------------------------------------
# GROUPED_AGG pandas UDF: the vectorized custom-aggregate surface —
# one Arrow batch per group in, one scalar out, usable inside
# groupBy().agg() beside built-ins.  Completes the Python UDF matrix
# (scalar pandas_udf, grouped-map applyInPandas, cogroup, mapInPandas,
# mapInArrow, UDTF are all certified elsewhere in this module/package).
# ---------------------------------------------------------------------------

_GROUPED_AGG_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(value, 0.5) AS median_value
FROM events
GROUP BY event_type
"""


@register("grouped_agg_udf_median", _GROUPED_AGG_SQL)
def q_grouped_agg_udf_median(spark, sf_dir):
    """Per-type median via a GROUPED_AGG ``pandas_udf`` inside an
    ordinary ``agg()``.

    The median is the one everyday aggregate Spark has no exact
    distributed built-in for (``median``/``percentile`` exist but cost
    a sort; ``approx_percentile`` is a sketch) — so it is the honest
    showcase for the custom-aggregate escape hatch.  np.median's
    midpoint average for even n is the same linear-interpolation rule
    as DuckDB's ``quantile_cont(0.5)``, so the oracle comparison is
    bit-exact with no quantization.

    API caveat certified here: grouped-agg pandas UDFs cannot share an
    ``agg()`` with JVM aggregates (INVALID_PANDAS_UDF_PLACEMENT), so
    the row count is a second pandas aggregate — one Arrow transfer,
    one plan node (ArrowAggregatePython) evaluating both.

    Scale plan: Arrow-batched per group — each group's values stream to
    ONE python worker call (state = the group's column, the same
    distribution contract as any exact median); the groupBy shuffle is
    identical to the built-in path's."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def exact_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        n_rows("value").alias("n"),
        exact_median("value").alias("median_value"),
    )


# ---------------------------------------------------------------------------
# GROUPED_AGG pandas UDF *as a window function* — the remaining UDF
# placement: custom aggregate over a sliding frame.
# ---------------------------------------------------------------------------

_WUDF_SQL = """
SELECT event_id,
       quantile_cont(value, 0.5) OVER (
         PARTITION BY event_type ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW
       ) AS roll_median
FROM events
"""


@register("windowed_udf_rolling_median", _WUDF_SQL)
def q_windowed_udf_rolling_median(spark, sf_dir):
    """Rolling 6-row median per event type via the SAME grouped-agg
    pandas UDF used in `grouped_agg_udf_median`, placed OVER a window
    frame — certifying that a custom Arrow aggregate composes with
    frames exactly like a built-in (the robust-rolling-statistic shape:
    rolling medians resist the outliers that rolling means chase).

    Cross-engine: np.median over each frame ≡ DuckDB's windowed
    ``quantile_cont(0.5)`` (same midpoint rule), frame-by-frame
    bit-exact, and the (ts, event_id) ordering is total so frames are
    identical.  Scale: one shuffle on event_type; each partition's
    frames evaluate in Arrow batches sliding locally — state is the
    6-row frame, not the partition.

    PERFORMANCE NOTE — this query certifies UDF-in-window COMPOSITION;
    it pays one Python aggregate evaluation (an Arrow round-trip) per
    6-row frame, O(rows × frame) transfers.  A user who just wants a
    rolling median should copy `windowed_native_rolling_median` below:
    the identical statistic from `array_sort(collect_list(...))` over
    the frame + `element_at` midpoint — pure JVM, same oracle, ~an
    order of magnitude faster at scale."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def exact_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-5, 0)
    )
    return ev.select(
        "event_id", exact_median("value").over(w).alias("roll_median")
    )


@register("windowed_native_rolling_median", _WUDF_SQL)
def q_windowed_native_rolling_median(spark, sf_dir):
    """The PLAN-you-should-copy twin of `windowed_udf_rolling_median`:
    the same rolling 6-row median per event type, same oracle, computed
    entirely JVM-side — `array_sort(collect_list(value))` over the
    frame, then the `element_at` midpoint (odd frame → middle element;
    even frame → mean of the two middles, the quantile_cont(0.5) /
    np.median interpolation rule).

    No Python worker, no Arrow transfer: one shuffle on event_type,
    whole-stage-codegen'd frame evaluation with O(frame log frame) sort
    per row over a ≤6-element array.  The UDF twin exists to certify
    custom-aggregate-in-window composition; this is the production
    rolling median."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-5, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid = ((n + 1) / 2).cast("int")  # ceil(n/2) for odd n
    half = (n / 2).cast("int")
    odd = F.element_at(arr, mid)
    even = (F.element_at(arr, half) + F.element_at(arr, half + 1)) / 2.0
    median = F.when(n % 2 == 1, odd).otherwise(even)
    return ev.select("event_id", median.alias("roll_median"))


# ---------------------------------------------------------------------------
# SQL session variables + EXECUTE IMMEDIATE (Spark 4): multi-statement
# SQL workflows without driver-side string splicing.
# ---------------------------------------------------------------------------

_SESSVAR_SQL = f"""
WITH t AS (
  SELECT ({dec_double_sql("SUM(CAST(o_totalprice AS DECIMAL(30,6)))")}
            / COUNT(o_totalprice)) * 1.5 AS threshold
  FROM orders
)
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_big_orders
FROM orders o, t
WHERE o.o_totalprice > t.threshold
GROUP BY o.o_orderpriority
"""


@register("session_variable_threshold", _SESSVAR_SQL)
def q_session_variable_threshold(spark, sf_dir):
    """SQL session variables (``DECLARE`` / ``SET VAR``) +
    ``EXECUTE IMMEDIATE ... USING`` — the Spark 4 multi-statement SQL
    workflow surface: a data-derived scalar (1.5× the decimal-exact
    mean order price) is computed ONCE into a typed session variable
    and consumed by a later statement through a bind parameter — no
    driver-side string splicing (the SQL-injection-prone pattern this
    replaces), no re-evaluation of the scalar per consumer.

    Exactness: the threshold is a decimal-accumulated mean (the
    functions/numeric.py discipline spelled inline in SQL), so both
    engines compare against the identical double.  Scale: the variable
    is a 1-value driver-held binding — the one legitimate driver
    scalar (same budget as G4's 1-row literal); the consuming query
    plans it as a literal with full pushdown."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nids_sv_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE nids_rev_threshold DOUBLE")
    spark.sql(
        """SET VAR nids_rev_threshold = (
             SELECT (CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
                       / COUNT(o_totalprice)) * 1.5
             FROM nids_sv_orders)"""
    )
    return spark.sql(
        """EXECUTE IMMEDIATE
             'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_big_orders
              FROM nids_sv_orders WHERE o_totalprice > ? GROUP BY o_orderpriority'
           USING nids_rev_threshold"""
    )


# ---------------------------------------------------------------------------
# Polymorphic UDTF: output schema decided at ANALYZE time from a
# constant argument — the Spark 4 UDTF feature beyond the static-
# schema `udtf_chunk_profile`.
# ---------------------------------------------------------------------------

_TOPTOK_K = 3

_TOPTOK_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
c AS (SELECT doc_id, tok, COUNT(*) AS n FROM t GROUP BY 1, 2),
l AS (
  SELECT doc_id, list(tok ORDER BY n DESC, tok ASC) AS lst FROM c GROUP BY doc_id
)
SELECT doc_id,
       {", ".join(f"lst[{i + 1}] AS tok_{i}" for i in range(_TOPTOK_K))}
FROM l
"""


@register("udtf_analyze_top_tokens", _TOPTOK_SQL)
def q_udtf_analyze_top_tokens(spark, sf_dir):
    """Per-doc top-{_TOPTOK_K} tokens as COLUMNS, via a UDTF whose
    ``analyze()`` derives the output schema (tok_0..tok_k−1) from the
    constant k argument at plan time — the polymorphic-UDTF surface
    (static-schema UDTF: `udtf_chunk_profile`).  Tie-break (count desc,
    token asc) matches the oracle's ordered list exactly.

    Slow-path note, stated honestly: a UDTF evaluates row-at-a-time in
    Python; the engine's NATIVE form of this op is
    `top_terms_per_doc` (built-in expressions).  This entry certifies
    the API surface, not a recommended hot path — same policy as the
    MLlib twins."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class TopTokens:
        @staticmethod
        def analyze(row: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            n = int(k.value)
            return AnalyzeResult(
                StructType(
                    [StructField("doc_id", row.dataType["doc_id"].dataType)]
                    + [StructField(f"tok_{i}", StringType()) for i in range(n)]
                )
            )

        def eval(self, row, k: int):
            from collections import Counter

            toks = row.text.strip().split()
            counts = Counter(toks)
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: int(k)]
            vals = [t for t, _ in top]
            vals += [None] * (int(k) - len(vals))
            yield (row.doc_id, *vals)

    topfn = udtf(TopTokens)
    spark.udtf.register("nids_top_tokens", topfn)
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("nids_toptok_docs")
    return spark.sql(
        f"SELECT * FROM nids_top_tokens(TABLE(nids_toptok_docs), {_TOPTOK_K})"
    )


# ---------------------------------------------------------------------------
# Rolling robust z-score flags — the outlier detector that composes
# TWO frame medians (value median, then MAD) entirely in native array
# expressions: the production form of the rolling-median family.
# ---------------------------------------------------------------------------

_RRZ_FRAME = 11  # current row + 10 preceding
_RRZ_K = "5.0"   # |x - med| > K * MAD  (MAD scale, not sigma)


def _rrz_median_sql(arr: str) -> str:
    n = f"len({arr})"
    return (
        f"CASE WHEN {n} % 2 = 1 THEN {arr}[({n} + 1) // 2] "
        f"ELSE ({arr}[{n} // 2] + {arr}[{n} // 2 + 1]) / 2.0 END"
    )


_RRZ_SQL = f"""
WITH framed AS (
  SELECT event_id, user_id, value,
         list_sort(list(value) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN {_RRZ_FRAME - 1} PRECEDING AND CURRENT ROW
         )) AS arr
  FROM events
),
med AS (
  SELECT event_id, user_id, value, arr,
         {_rrz_median_sql('arr')} AS m
  FROM framed
),
madded AS (
  SELECT event_id, user_id, value, m,
         list_sort(list_transform(arr, x -> abs(x - m))) AS dev
  FROM med
)
SELECT event_id, user_id,
       (abs(value - m) > {_RRZ_K} * ({_rrz_median_sql('dev')})
        AND ({_rrz_median_sql('dev')}) > 0) AS is_outlier
FROM madded
"""


@register("rolling_robust_zscore_flags", _RRZ_SQL)
def q_rolling_robust_zscore_flags(spark, sf_dir):
    """Per-user rolling robust outlier flags: over each {frame}-row
    trailing frame, median and MAD compose as two native array
    operations (sorted collect_list midpoint, then the sorted
    absolute-deviation midpoint) — |x − med| > {k}·MAD flags the point.
    Robust to the outliers a rolling mean/stddev would chase; the
    whole detector is whole-stage codegen, no Python anywhere — the
    same plan discipline as `windowed_native_rolling_median` with one
    more composition level.

    Exactness: medians are midpoints of identical sorted doubles; the
    flag is one comparison — no float accumulation at all.

    Scale plan: one user-keyed shuffle/sort; each row's state is its
    ≤{frame}-element frame array (two O(f log f) sorts per row)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-(_RRZ_FRAME - 1), 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))

    def midpoint(a):
        n = F.size(a)
        odd = F.element_at(a, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(a, (n / 2).cast("int"))
            + F.element_at(a, (n / 2).cast("int") + 1)
        ) / 2.0
        return F.when(n % 2 == 1, odd).otherwise(even)

    framed = ev.select("event_id", "user_id", "value", arr.alias("arr"))
    med = framed.withColumn("m", midpoint(F.col("arr")))
    dev = F.array_sort(
        F.transform(F.col("arr"), lambda x: F.abs(x - F.col("m")))
    )
    madded = med.withColumn("mad", midpoint(dev))
    k = float(_RRZ_K)
    return madded.select(
        "event_id",
        "user_id",
        (
            (F.abs(F.col("value") - F.col("m")) > k * F.col("mad"))
            & (F.col("mad") > 0)
        ).alias("is_outlier"),
    )
