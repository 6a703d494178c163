"""Dataset-management queries: CDC changelog application (upsert with
deletes) and deterministic hash-based train/val/test splitting.

Both are core ingestion ops of a 100 TB training-data pipeline: CDC
apply compacts a mutation log into current-state (the MERGE INTO
semantics of a lakehouse table), and the hash split assigns every
record to a split *stably* — no RNG state, no reshuffling when the
corpus grows, resumable from any subset.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket, hash_bucket_sql
from ..functions.numeric import dec_sum_sql
from ..session import scratch_dir
from ..sources.tables import load_table
from . import register

# ---------------------------------------------------------------------------
# CDC apply-latest: events as a changelog keyed by user_id.
# op mapping: 'error' rows are tombstones (DELETE), everything else
# upserts.  Latest (ts, event_id) wins; event_id is unique, so the
# winner is total-order deterministic.
# ---------------------------------------------------------------------------

_CDC_SQL = """
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
"""


@register("cdc_apply_latest", _CDC_SQL)
def q_cdc_apply_latest(spark, sf_dir):
    """MERGE-style changelog compaction: one ``max_by`` aggregate keyed
    on the entity id — a single shuffle with map-side partial argmax,
    NO per-key sort and no window (the window formulation sorts every
    partition; the argmax formulation only keeps one struct per key per
    partition).  Tombstone rows win like any other row, then drop out.
    At 100 TB this is the standard log-compaction shape: shuffle volume
    is one struct per distinct key per map partition."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_type", "value", "ts"),
            F.struct("ts", "event_id"),
        ).alias("last")
    )
    return latest.filter(F.col("last.event_type") != "error").select(
        "user_id",
        F.col("last.event_type").alias("last_event_type"),
        F.col("last.value").alias("last_value"),
        F.col("last.ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash split: 80/10/10 on the portable 60-bit hash of the
# doc id.  Stable under corpus growth (a doc's split never changes),
# engine-independent (md5 primitives), and seedable.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Retention cohorts: users grouped by first-seen week, activity counted
# per week offset — the standard product-analytics triangle.
# ---------------------------------------------------------------------------

_WEEK = 604_800

_COHORT_SQL = f"""
WITH wk AS (
  SELECT user_id, CAST(floor(floor(epoch(ts)) / {_WEEK}) AS BIGINT) AS w
  FROM events
), first AS (
  SELECT user_id, MIN(w) AS cohort_week FROM wk GROUP BY user_id
)
SELECT f.cohort_week,
       wk.w - f.cohort_week AS week_offset,
       COUNT(DISTINCT wk.user_id) AS n_active_users,
       COUNT(*) AS n_events
FROM wk JOIN first f ON wk.user_id = f.user_id
GROUP BY 1, 2
"""


@register("retention_cohorts", _COHORT_SQL)
def q_retention_cohorts(spark, sf_dir):
    """Weekly retention triangle: cohort = epoch-week of a user's first
    event (integer week index — no calendar/timezone arithmetic to
    drift between engines).  Two shuffles, both on user_id (the
    first-seen aggregate and the join re-use the same partitioning —
    at 100 TB co-partitioning makes the join exchange-free), then one
    tiny (cohort, offset) distinct-count aggregate."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / _WEEK).cast("long").alias("w"),
    )
    first = wk.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    return (
        wk.join(first, "user_id")
        .groupBy("cohort_week", (F.col("w") - F.col("cohort_week")).alias("week_offset"))
        .agg(
            F.countDistinct("user_id").alias("n_active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: merge yesterday's partial-agg
# state with today's delta instead of recomputing the world.
# ---------------------------------------------------------------------------

_CUTOFF = "1999-01-01"

_INCR_SQL = f"""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       COUNT(*) AS n_orders,
       {dec_sum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY 1
"""


@register("incremental_agg_merge", _INCR_SQL)
def q_incremental_agg_merge(spark, sf_dir):
    """Materialized-view maintenance: the monthly revenue rollup is
    computed as OLD STATE (orders before the cutoff — in production,
    yesterday's persisted agg table) merged with the DELTA (orders at/
    after the cutoff) by re-aggregating the partial states.  Because
    (count, decimal-sum) is a commutative monoid, merge == full
    recompute bit-for-bit — which is exactly what the oracle asserts
    by recomputing from scratch.  At 100 TB this is the difference
    between scanning one day and scanning one history: the state
    relation is |months| rows, the delta scan is partition-pruned by
    the cutoff predicate (PushedFilters on o_orderdate)."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("timestamp")

    def partial(df):
        return df.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev_dec"),
        )

    state = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        state.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev_dec").cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: pay the shuffle at write time, join free
# forever after.
# ---------------------------------------------------------------------------

_N_BUCKETS = 8

_BUCKETED_SQL = f"""
SELECT o.o_orderpriority,
       {dec_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register("bucketed_colocated_join", _BUCKETED_SQL)
def q_bucketed_colocated_join(spark, sf_dir):
    """orders ⋈ lineitem with BOTH sides pre-bucketed on the order key:
    the join runs with zero Exchange (verified by plan test — the only
    shuffle in the whole query is the final tiny priority aggregate).
    The write cost is the one-time layout investment; every subsequent
    join on o_orderkey rides it.  Result is oracled against the plain
    parquet join — layout must never change answers."""
    from ..sources.bucketed import bucketed_table, write_bucketed

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(l, "nids_bkt_lineitem", "l_orderkey", _N_BUCKETS,
                   scratch_dir(spark, "bucketed-lineitem"))
    write_bucketed(o, "nids_bkt_orders", "o_orderkey", _N_BUCKETS,
                   scratch_dir(spark, "bucketed-orders"))
    lb = bucketed_table(spark, "nids_bkt_lineitem")
    ob = bucketed_table(spark, "nids_bkt_orders")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lb.hint("merge").join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(revenue.cast("decimal(30,6)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Partitioned layout + partition pruning: the scan-avoidance twin of
# the bucketed join above.
# ---------------------------------------------------------------------------

_PRUNE_YEAR = 1998

_PRUNED_SQL = f"""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       o_orderpriority,
       COUNT(*) AS n_orders,
       {dec_sum_sql('o_totalprice')} AS revenue
FROM orders
WHERE CAST(year(o_orderdate) AS INTEGER) = {_PRUNE_YEAR}
GROUP BY 1, 2
"""


@register("partition_pruned_scan", _PRUNED_SQL)
def q_partition_pruned_scan(spark, sf_dir):
    """Write orders hive-partitioned by order year, then aggregate one
    year: the year predicate is resolved from DIRECTORY NAMES
    (PartitionFilters), so the scan touches 1/7 of the files without
    reading a byte of the rest.  At 100 TB partition-on-ingest by
    date is the first line of defense — queries with time predicates
    never see the other years.  Plan test pins the PartitionFilters;
    the oracle pins that layout never changes answers."""
    path = scratch_dir(spark, "partitioned-orders")
    o = load_table(spark, sf_dir, "orders")
    (
        o.withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(F.col("o_year") == _PRUNE_YEAR)
    return back.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Small-files compaction planner: inventory a fragmented dataset and
# assign files to right-sized output groups.
# ---------------------------------------------------------------------------

_FRAG_FILES = 40
_COMPACT_TARGET_ROWS = 1_000
_FRAG_SEED = "frag:v1:"

# The oracle never touches the written files: the fragmented layout is
# hive-partitioned by a PORTABLE hash bucket of the order key, so each
# file's row count is computable from `orders` alone — the oracle
# reproduces the inventory independently and the Spark side must
# recover the identical numbers from the physical files.

_COMPACT_SQL = f"""
WITH per_file AS (
  SELECT {hash_bucket_sql('o_orderkey', _FRAG_FILES, _FRAG_SEED)} AS file_grp,
         COUNT(*) AS n_rows
  FROM orders
  GROUP BY 1
), binned AS (
  SELECT file_grp, n_rows,
         CAST(floor((SUM(n_rows) OVER (ORDER BY file_grp
                                       ROWS UNBOUNDED PRECEDING) - n_rows)
                    / {_COMPACT_TARGET_ROWS}.0) AS BIGINT) AS out_group
  FROM per_file
)
SELECT out_group,
       COUNT(*) AS n_input_files,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       MIN(file_grp) AS first_file_grp
FROM binned
GROUP BY out_group
"""


@register("small_files_compaction_plan", _COMPACT_SQL)
def q_small_files_compaction_plan(spark, sf_dir):
    """The lakehouse maintenance op: inventory a fragmented table
    (per-file row counts recovered from the physical layout via
    ``input_file_name`` — no data columns read) and assign files to
    output groups by prefix-sum row budget, exactly the bin-packing a
    compaction job executes.  The fragmentation is produced here by a
    40-way hash-partitioned write — the small-files problem in
    miniature.  At 100 TB the inventory is one count per file (the
    planning window input is |files| rows, not data rows) and group
    boundaries are deterministic, so a re-run after partial compaction
    yields the same residual plan.  The oracle recomputes the
    inventory from the source table independently — the physical
    round-trip must lose nothing."""
    path = scratch_dir(spark, "fragmented-orders")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        hash_bucket("o_orderkey", _FRAG_FILES, seed=_FRAG_SEED).alias("file_grp"),
    )
    o.repartition("file_grp").write.mode("overwrite").partitionBy("file_grp").parquet(path)
    back = spark.read.parquet(path)
    per_file = (
        back.select(
            F.regexp_extract(
                F.input_file_name(), r"file_grp=(\d+)", 1
            ).cast("long").alias("file_grp")
        )
        .groupBy("file_grp")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = Window.orderBy("file_grp").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = per_file.withColumn(
        "out_group",
        F.floor(
            (F.sum("n_rows").over(w) - F.col("n_rows")) / float(_COMPACT_TARGET_ROWS)
        ).cast("long"),
    )
    return binned.groupBy("out_group").agg(
        F.count(F.lit(1)).alias("n_input_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("file_grp").alias("first_file_grp"),
    )


# ---------------------------------------------------------------------------
# SCD type-2 reconstruction: a changelog becomes versioned rows with
# validity intervals — the warehouse-dimension twin of CDC compaction
# (which keeps only the latest; this keeps the full history, queryable
# as-of any time).
# ---------------------------------------------------------------------------

_SCD2_SQL = """
WITH versions AS (
  SELECT user_id, event_type, value, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS valid_to
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_versions,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       MIN(valid_from) AS first_from,
       CAST(MAX(epoch_us(valid_to) - epoch_us(valid_from))
            AS BIGINT) AS max_version_us
FROM versions
GROUP BY user_id
"""


@register("scd2_version_profile", _SCD2_SQL)
def q_scd2_version_profile(spark, sf_dir):
    """SCD-2 interval build: one LEAD window per entity turns the
    changelog into (valid_from, valid_to] versions — exactly one open
    version per key, which the n_open column certifies.  One window
    shuffle keyed by the entity id (parallel across keys, never
    global); the profile aggregate reuses the same partitioning.
    Microsecond-integer interval arithmetic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    versions = ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return versions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.col("valid_to").isNull().cast("long")).alias("n_open"),
        F.min("valid_from").alias("first_from"),
        F.max(F.unix_micros("valid_to") - F.unix_micros("valid_from"))
        .cast("long")
        .alias("max_version_us"),
    )


# ---------------------------------------------------------------------------
# Schema evolution: a dataset written in two epochs with different
# schemas (a column added mid-life) must read back as one relation.
# ---------------------------------------------------------------------------

_EVOLVE_CUTOFF_YEAR = 1998

_EVOLVE_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN year(o_orderdate) >= {_EVOLVE_CUTOFF_YEAR}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_priority,
       {dec_sum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY 1
"""


@register("schema_evolution_union", _EVOLVE_SQL)
def q_schema_evolution_union(spark, sf_dir):
    """Write the pre-{_EVOLVE_CUTOFF_YEAR} epoch WITHOUT
    o_orderpriority and the later epoch WITH it, then read the whole
    dataset back via mergeSchema: old rows surface the added column as
    NULL, nothing is dropped, and the per-year profile must equal the
    oracle's recompute from the unsplit source.  This is the ingest
    reality of any long-lived 100 TB table — schema-on-read union, no
    rewrite of history."""
    path = scratch_dir(spark, "evolved-orders")
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.year("o_orderdate") >= _EVOLVE_CUTOFF_YEAR
    o.filter(~cutoff).select("o_orderkey", "o_orderdate", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(f"{path}/epoch=v1")
    o.filter(cutoff).select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{path}/epoch=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy(F.year("o_orderdate").alias("year")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_orderpriority").isNotNull().cast("long")).alias(
            "n_with_priority"
        ),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double").alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) tiling: multi-dimensional clustering so ONE layout
# serves range predicates on EITHER dimension — the Delta/Iceberg
# Z-ORDER idea, with the tile id computed map-side from bit
# interleaving (no global sort anywhere).
# ---------------------------------------------------------------------------

_Z_BITS = 4  # per dimension → 256 tiles


def _morton_sql(a: str, b: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


_ZORDER_SQL = f"""
WITH dims AS (
  SELECT o_custkey % 16 AS d_cust,
         CAST(floor(epoch(o_orderdate)) / 86400 AS BIGINT) % 16 AS d_day,
         o_totalprice
  FROM orders
)
SELECT CAST({_morton_sql('d_cust', 'd_day', _Z_BITS)} AS BIGINT) AS tile,
       COUNT(*) AS n_orders,
       MIN(d_cust) AS min_cust, MAX(d_cust) AS max_cust,
       MIN(d_day) AS min_day, MAX(d_day) AS max_day
FROM dims
GROUP BY 1
"""


@register("zorder_tile_stats", _ZORDER_SQL)
def q_zorder_tile_stats(spark, sf_dir):
    """Morton-interleaved tiling over (customer, day): the tile id is
    pure bit arithmetic on the two dimension codes — map-side, no
    global sort (files written per tile give every file a NARROW
    bounding box in BOTH dimensions, so min/max file skipping works
    for customer predicates AND date predicates from one layout; a 1-D
    sort gives that for only one).  Each tile's bounding box here is
    exact single-cell (min==max both dims) by construction — which is
    the property the oracle certifies."""
    o = load_table(spark, sf_dir, "orders")
    d_cust = (F.col("o_custkey") % 16).cast("long")
    d_day = (
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400)).cast("long") % 16
    )
    dims = o.select(d_cust.alias("d_cust"), d_day.alias("d_day"))
    tile = None
    for i in range(_Z_BITS):
        ca = F.shiftleft(F.shiftright("d_cust", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        cb = F.shiftleft(F.shiftright("d_day", i).bitwiseAND(F.lit(1)), 2 * i)
        part = ca.bitwiseOR(cb)
        tile = part if tile is None else tile.bitwiseOR(part)
    return (
        dims.withColumn("tile", tile.cast("long"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("d_cust").alias("min_cust"),
            F.max("d_cust").alias("max_cust"),
            F.min("d_day").alias("min_day"),
            F.max("d_day").alias("max_day"),
        )
    )


_SPLIT_SEED = "split:v1:"
_BUCKETS = 100
_TRAIN_LT, _VAL_LT = 80, 90

_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT CASE WHEN b < {_TRAIN_LT} THEN 'train'
              WHEN b < {_VAL_LT} THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM (SELECT {hash_bucket_sql('doc_id', _BUCKETS, _SPLIT_SEED)} AS b, n_chars
        FROM documents)
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM assigned GROUP BY split
"""


@register("hash_split_assignments", _SPLIT_SQL)
def q_hash_split_assignments(spark, sf_dir):
    """Train/val/test assignment by portable hash bucket — the
    reproducible replacement for ``randomSplit`` when the split must
    survive re-runs, engine changes, and corpus growth.  Map-side
    assignment, one tiny aggregate to report it."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id", _BUCKETS, seed=_SPLIT_SEED)
    split = (
        F.when(b < _TRAIN_LT, "train").when(b < _VAL_LT, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


_DPP_PRIORITY = "1-URGENT"

_DPP_SQL = f"""
WITH sel AS (
  SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS sel_year
  FROM orders
  WHERE o_orderpriority = '{_DPP_PRIORITY}'
    AND year(o_orderdate) <= 1996
)
SELECT l.l_year, l.l_returnflag,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(30, 6))) AS VARCHAR) AS DOUBLE)
         AS sum_qty
FROM (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS l_year, l_returnflag, l_quantity
  FROM lineitem
) l
JOIN sel ON l.l_year = sel.sel_year
GROUP BY 1, 2
"""


@register("dynamic_partition_pruning_join", _DPP_SQL)
def q_dynamic_partition_pruning_join(spark, sf_dir):
    """DYNAMIC partition pruning: the fact table is laid out
    hive-partitioned by ship year, and the years to read come from a
    JOIN against a filtered dimension — unknowable at plan time, so
    static PartitionFilters can't help.  Catalyst inserts a
    dynamicpruning subquery on the fact's partition column (reusing the
    dim's broadcast), and only the selected years' directories are ever
    opened.  At 100 TB this is THE mechanism that makes
    star-join-over-partitioned-fact cheap when the predicate lives on
    the dimension (plan shape pinned by tests/test_plans.py; the oracle
    pins that the pruned plan still answers exactly).

    The static sibling is `partition_pruned_scan` (literal predicate →
    PartitionFilters from directory names)."""
    path = scratch_dir(spark, "dpp-lineitem")
    l = load_table(spark, sf_dir, "lineitem")
    (
        l.withColumn("l_year", F.year("l_shipdate"))
        .write.mode("overwrite")
        .partitionBy("l_year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    sel = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == _DPP_PRIORITY)
            & (F.year("o_orderdate") <= 1996)
        )
        .select(F.year("o_orderdate").alias("sel_year"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(sel), fact.l_year == sel.sel_year)
        .groupBy("l_year", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Governance ops: deterministic pseudonymization + constraint quarantine.
# ---------------------------------------------------------------------------

_PSEUDO_SALT = "tenant-42"

_PSEUDO_SQL = f"""
WITH pseudo AS (
  SELECT md5(concat('{_PSEUDO_SALT}', CAST(user_id AS VARCHAR))) AS pseudo_id,
         event_type, value
  FROM events
)
SELECT pseudo_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       {{dec_sum}} AS total_value
FROM pseudo
GROUP BY pseudo_id
ORDER BY n_events DESC, pseudo_id ASC
LIMIT 25
""".format(dec_sum=dec_sum_sql("value"))


@register("pseudonymize_user_activity", _PSEUDO_SQL)
def q_pseudonymize_user_activity(spark, sf_dir):
    """Deterministic pseudonymization for training-data release: the
    raw user id is replaced by a salted one-way hash BEFORE any
    aggregation, and all downstream grouping runs on the pseudonym —
    proving referential integrity survives the mapping (same user →
    same pseudonym everywhere, so joins/sessionization over released
    data still line up) while the raw id never appears in the output.

    Scale plan: the pseudonym is one map-side md5 per row (whole-stage
    codegen, no lookup table to build, ship, or secure — contrast a
    mapping-table design, which is itself re-identification material
    and a 100 TB join); the aggregate shuffles on the pseudonym with
    the same uniformity as the raw key (hashing can't worsen skew);
    top-k is TakeOrderedAndProject.  Salt rotation = re-keying the
    whole release deterministically."""
    e = load_table(spark, sf_dir, "events")
    pseudo = e.select(
        F.md5(F.concat(F.lit(_PSEUDO_SALT), F.col("user_id").cast("string"))).alias(
            "pseudo_id"
        ),
        "event_type",
        "value",
    )
    from ..functions.numeric import dec_sum

    return (
        pseudo.groupBy("pseudo_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            dec_sum("value").alias("total_value"),
        )
        .orderBy(F.desc("n_events"), F.asc("pseudo_id"))
        .limit(25)
    )


# the contract enum deliberately EXCLUDES 'error' (tombstone rows are
# CDC control traffic, not admissible corpus records — see
# cdc_apply_latest), and caps value at 400 (the declared sensor range);
# both rules fire on the fixture, so the report's counts discriminate
_VALID_TYPES = ("click", "view", "purchase", "signup")
_VALUE_CAP = 400.0

_QUARANTINE_SQL = f"""
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN value IS NULL OR isnan(value) OR value < 0
                  OR value > {_VALUE_CAP}
           THEN 1 ELSE 0 END) AS BIGINT) AS bad_value,
  CAST(SUM(CASE WHEN event_type NOT IN {_VALID_TYPES!r}
           THEN 1 ELSE 0 END) AS BIGINT) AS bad_type,
  CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_ts,
  CAST(SUM(CASE WHEN props IS NULL OR json_valid(props) THEN 0 ELSE 1 END)
       AS BIGINT) AS bad_props,
  CAST(SUM(CASE WHEN (value IS NULL OR isnan(value) OR value < 0
                        OR value > {_VALUE_CAP})
                  OR event_type NOT IN {_VALID_TYPES!r}
                  OR ts IS NULL
                  OR (props IS NOT NULL AND NOT json_valid(props))
           THEN 1 ELSE 0 END) AS BIGINT) AS quarantined
FROM events
"""


@register("constraint_quarantine_report", _QUARANTINE_SQL)
def q_constraint_quarantine_report(spark, sf_dir):
    """Schema-contract enforcement: per-rule violation counts plus the
    quarantine total (rows failing ANY rule) — the admission gate a
    pipeline applies before letting a batch into the corpus, with the
    per-rule breakdown telling the producer what to fix.

    Rules: value non-null/non-NaN/in [0, 400], event_type in the
    declared enum (tombstones excluded — control traffic is not
    corpus data), ts present, props either null or valid JSON.

    Scale plan: every rule is a map-side boolean over built-in
    expressions (try-parse JSON included — no UDF), folded by ONE
    1-row aggregate; the quarantine split itself (`filter(cond)` /
    `filter(~cond)`) reuses the same predicates with full pushdown.
    Adding a rule is adding a column expression, not a pass."""
    e = load_table(spark, sf_dir, "events")
    bad_value = (
        F.col("value").isNull()
        | F.isnan("value")
        | (F.col("value") < 0)
        | (F.col("value") > _VALUE_CAP)
    )
    bad_type = ~F.col("event_type").isin(*_VALID_TYPES)
    bad_ts = F.col("ts").isNull()
    # props invalid iff present and not parseable: try_parse_json gives
    # NULL on malformed input (Spark 4's try_ family, JVM-side)
    bad_props = F.col("props").isNotNull() & F.try_parse_json("props").isNull()
    any_bad = bad_value | bad_type | bad_ts | bad_props
    as_cnt = lambda c, n: F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(n)  # noqa: E731
    return e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        as_cnt(bad_value, "bad_value"),
        as_cnt(bad_type, "bad_type"),
        as_cnt(bad_ts, "bad_ts"),
        as_cnt(bad_props, "bad_props"),
        as_cnt(any_bad, "quarantined"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff: the dataset-versioning primitive (what changed between
# two table versions).  Snapshots are derived deterministically from the
# fixture: "old" drops every 97th event; "new" drops every 89th and
# rewrites the value of every 13th — so adds, removes, changes, and
# unchanged rows all exist.
# ---------------------------------------------------------------------------

_DIFF_SQL = """
WITH old AS (
  SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 97 <> 0
),
new AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN value + 1.0 ELSE value END AS value
  FROM events WHERE event_id % 89 <> 0
),
joined AS (
  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
         CASE
           WHEN o.event_id IS NULL THEN 'added'
           WHEN n.event_id IS NULL THEN 'removed'
           WHEN md5(concat_ws('|', CAST(o.user_id AS VARCHAR), o.event_type,
                              CAST(CAST(o.value AS DECIMAL(30,6)) AS VARCHAR)))
             <> md5(concat_ws('|', CAST(n.user_id AS VARCHAR), n.event_type,
                              CAST(CAST(n.value AS DECIMAL(30,6)) AS VARCHAR)))
             THEN 'changed'
           ELSE 'unchanged'
         END AS change
  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
)
SELECT change, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM joined GROUP BY change
"""


@register("snapshot_diff_report", _DIFF_SQL)
def q_snapshot_diff_report(spark, sf_dir):
    """Row-level diff between two snapshot versions of a keyed table:
    added / removed / changed / unchanged counts, membership by key and
    change detection by a payload fingerprint — the audit step before
    publishing a new dataset version, and the input to an incremental
    (changed-rows-only) downstream refresh.

    Scale plan: ONE full-outer join keyed on the PK; the payload md5 is
    computed map-side BEFORE the join on each side, so only (key,
    16-byte hash) wide rows shuffle — never the payload columns.  The
    fingerprint canonicalizes doubles through DECIMAL digit strings
    (the engine's standard trick) so both engines hash identical bytes;
    at 100 TB the same plan handles billions of rows because the diff
    is embarrassingly key-parallel."""
    e = load_table(spark, sf_dir, "events")
    fp = F.md5(
        F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.col("value").cast("decimal(30,6)").cast("string"),
        )
    )
    old = (
        e.filter(F.col("event_id") % 97 != 0)
        .select(F.col("event_id").alias("o_id"), fp.alias("o_fp"))
    )
    new = (
        e.filter(F.col("event_id") % 89 != 0)
        .withColumn(
            "value",
            F.when(F.col("event_id") % 13 == 0, F.col("value") + 1.0).otherwise(
                F.col("value")
            ),
        )
        .select(F.col("event_id").alias("n_id"), fp.alias("n_fp"))
    )
    change = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_fp") != F.col("n_fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.join(new, old.o_id == new.n_id, "full_outer")
        .select(change.alias("change"))
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# Dynamic partition overwrite: rewrite ONE partition in place, leave the
# rest untouched — the lakehouse backfill/correction primitive.
# ---------------------------------------------------------------------------

_DPO_YEAR = 1997

_DPO_SQL = f"""
WITH expected AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
         o_orderkey, o_totalprice
  FROM orders
  WHERE CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) <> {_DPO_YEAR}
  UNION ALL
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
         o_orderkey, o_totalprice + 10.0 AS o_totalprice
  FROM orders
  WHERE CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) = {_DPO_YEAR}
    AND o_orderkey % 2 = 0
)
SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {{rev}} AS revenue
FROM expected GROUP BY yr
""".format(rev=dec_sum_sql("o_totalprice"))


@register("dynamic_partition_overwrite_roundtrip", _DPO_SQL)
def q_dynamic_partition_overwrite_roundtrip(spark, sf_dir):
    """Dynamic partition overwrite certified write→read: the orders
    table is laid out partitioned by year, then a corrected batch for
    ONE year (even orderkeys, +10.0 price) is written with
    ``partitionOverwriteMode=dynamic`` — replacing exactly the {year}
    directory while every other partition's files stay untouched.  The
    readback profile hash-matches the expected merged content, so the
    oracle certifies partition-granular replacement semantics (a
    STATIC-mode regression would wipe the other years; a no-op
    regression would leave the stale {year} rows).

    Scale plan: this is how a 100 TB fact table takes backfills — the
    rewrite cost is one partition, not the table; readers see other
    partitions unchanged (no table-wide rewrite, no read amplification),
    and partition pruning on the read side is untouched."""
    base = scratch_dir(spark, "dpo-orders")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    o.select("o_orderkey", "o_totalprice", "yr").write.partitionBy("yr").mode(
        "overwrite"
    ).parquet(base)
    corrected = (
        o.filter((F.col("yr") == _DPO_YEAR) & (F.col("o_orderkey") % 2 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        .select("o_orderkey", "o_totalprice", "yr")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.partitionBy("yr").mode("overwrite").parquet(base)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(base)
    from ..functions.numeric import dec_sum

    return back.groupBy(F.col("yr").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Privacy release-gate triple (k_anonymity_risk, dp_noisy_daily_counts,
# t_closeness_risk) lives in privacy.py (VERDICT r6 ask #5 file-size
# split).  Imported HERE — the k-anonymity block's original position —
# so registration order is preserved exactly.
# ---------------------------------------------------------------------------
from . import privacy  # noqa: E402,F401



# ---------------------------------------------------------------------------
# Join-key skew diagnostic: Gini coefficient + heavy-hitter share per
# join-key relation — the measurement behind "do I need the salted
# join / AQE skew split here?".
# ---------------------------------------------------------------------------


def _gini_branch_sql(rel: str, table: str, key: str) -> str:
    return f"""
  SELECT '{rel}' AS relation_key,
         CAST(ANY_VALUE(n) AS BIGINT) AS n_keys,
         CAST(ANY_VALUE(tot) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         round(CAST(MAX(cnt) AS DOUBLE) / ANY_VALUE(tot), 6) AS top_share,
         round(CAST(2 * SUM(i * cnt) AS DOUBLE) / (ANY_VALUE(n) * ANY_VALUE(tot))
               - CAST(ANY_VALUE(n) + 1 AS DOUBLE) / ANY_VALUE(n), 6) AS gini
  FROM (
    SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, k) AS i,
           COUNT(*) OVER () AS n, SUM(cnt) OVER () AS tot
    FROM (SELECT {key} AS k, COUNT(*) AS cnt FROM {table} GROUP BY 1)
  )
"""


_GINI_SQL = " UNION ALL ".join(
    [
        _gini_branch_sql("lineitem.l_partkey", "lineitem", "l_partkey"),
        _gini_branch_sql("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        _gini_branch_sql("orders.o_custkey", "orders", "o_custkey"),
        _gini_branch_sql("events.user_id", "events", "user_id"),
    ]
)


@register("key_skew_gini", _GINI_SQL)
def q_key_skew_gini(spark, sf_dir):
    """Skew report for the engine's four hottest join keys: per key
    relation, the Gini coefficient of the key-count distribution (0 =
    perfectly even, →1 = one hub key) plus the heavy-hitter share —
    exactly the numbers that decide between a plain shuffle join, AQE
    skew split, and the salted join (`salted_skew_join_revenue`).

    Reproducibility: Gini from the sorted-counts identity
    2·Σ i·cᵢ / (n·Σc) − (n+1)/n — every term integer until two final
    divisions (tiebreak on key id makes rank i total).

    Scale plan: per relation, one map-side-combined key count, then the
    rank window over the KEY relation (dim-sized, not the fact); the
    four branches scan four different tables — there is no shared scan
    to fuse."""
    from pyspark.sql import Window

    def branch(rel: str, df, key: str):
        c = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(F.asc("cnt"), F.asc("k"))
        w_all = Window.partitionBy()
        ranked = c.select(
            "cnt",
            F.row_number().over(w).alias("i"),
            F.count(F.lit(1)).over(w_all).alias("n"),
            F.sum("cnt").over(w_all).alias("tot"),
        )
        return ranked.agg(
            F.lit(rel).alias("relation_key"),
            F.first("n").cast("long").alias("n_keys"),
            F.first("tot").cast("long").alias("n_rows"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.round(F.max("cnt").cast("double") / F.first("tot"), 6).alias(
                "top_share"
            ),
            F.round(
                (2 * F.sum(F.col("i") * F.col("cnt"))).cast("double")
                / (F.first("n") * F.first("tot"))
                - (F.first("n") + 1).cast("double") / F.first("n"),
                6,
            ).alias("gini"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    out = branch("lineitem.l_partkey", li, "l_partkey")
    for rel, df, key in [
        ("lineitem.l_suppkey", li, "l_suppkey"),
        ("orders.o_custkey", o, "o_custkey"),
        ("events.user_id", ev, "user_id"),
    ]:
        out = out.unionByName(branch(rel, df, key))
    return out


# ---------------------------------------------------------------------------
# Storage-layout diagnostics: dictionary-encoding efficiency per
# low-cardinality column — the "should this column be dict-encoded /
# partitioned on" estimate, exact-integer byte math.
# ---------------------------------------------------------------------------


def _dict_branch_sql(rel: str, table: str, col: str) -> str:
    return f"""
  SELECT '{rel}' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
         CAST(SUM(len({col})) AS BIGINT) AS plain_bytes,
         CAST((SELECT SUM(len(v)) FROM (SELECT DISTINCT {col} AS v FROM {table}))
              + (COUNT(*) * (CASE WHEN COUNT(DISTINCT {col}) <= 1 THEN 1
                             ELSE len(bin(COUNT(DISTINCT {col}) - 1)) END) + 7) // 8
              AS BIGINT) AS dict_bytes
  FROM {table}
"""


_DICT_SQL = " UNION ALL ".join(
    [
        _dict_branch_sql("orders.o_orderpriority", "orders", "o_orderpriority"),
        _dict_branch_sql("orders.o_orderstatus", "orders", "o_orderstatus"),
        _dict_branch_sql("lineitem.l_returnflag", "lineitem", "l_returnflag"),
        _dict_branch_sql("events.event_type", "events", "event_type"),
        _dict_branch_sql("customer.c_mktsegment", "customer", "c_mktsegment"),
        _dict_branch_sql("documents.lang", "documents", "lang"),
    ]
)


@register("dict_encoding_report", _DICT_SQL)
def q_dict_encoding_report(spark, sf_dir):
    """Per candidate column: exact plain-encoding bytes (Σ value
    lengths) vs dictionary-encoding bytes (distinct-value chars +
    n_rows packed indexes at ⌈log₂ n_distinct⌉ bits).  The bit width
    comes from the BINARY-STRING length of n_distinct−1 (`bin()`), not
    float log₂ — exact at power-of-2 boundaries where ln-based ceils
    go wrong.

    Scale plan: per column, one map-side-combined aggregate computing
    count/distinct/Σlen in a single pass (the distinct-value char sum
    is a second, dictionary-sized pass); the report is 6 rows."""
    from pyspark.sql import DataFrame

    def branch(rel: str, df: DataFrame, col: str) -> DataFrame:
        base = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(col).alias("n_distinct"),
            F.sum(F.length(col)).cast("long").alias("plain_bytes"),
        )
        dchars = (
            df.select(F.col(col).alias("v"))
            .distinct()
            .agg(F.sum(F.length("v")).alias("dict_chars"))
        )
        bits = F.when(F.col("n_distinct") <= 1, F.lit(1)).otherwise(
            F.length(F.bin(F.col("n_distinct") - 1))
        )
        return (
            base.crossJoin(F.broadcast(dchars))
            .withColumn("bits_w", bits.cast("long"))
            .select(
                F.lit(rel).alias("col_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "plain_bytes",
                # integer `div`, not float /: exact past 2^53 like the
                # budget quotas (see token_budget_allocation)
                (
                    F.col("dict_chars")
                    + F.expr("(n_rows * bits_w + 7) div 8")
                )
                .cast("long")
                .alias("dict_bytes"),
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    cu = load_table(spark, sf_dir, "customer")
    d = load_table(spark, sf_dir, "documents")
    out = branch("orders.o_orderpriority", o, "o_orderpriority")
    for rel, df, col in [
        ("orders.o_orderstatus", o, "o_orderstatus"),
        ("lineitem.l_returnflag", li, "l_returnflag"),
        ("events.event_type", ev, "event_type"),
        ("customer.c_mktsegment", cu, "c_mktsegment"),
        ("documents.lang", d, "lang"),
    ]:
        out = out.unionByName(branch(rel, df, col))
    return out


# ---------------------------------------------------------------------------
# MERGE INTO (upsert) semantics over a staged changeset — the
# warehouse-maintenance op beside CDC compaction (`cdc_apply_latest`),
# SCD2 versioning, and snapshot diff: WHEN MATCHED UPDATE / DELETE,
# WHEN NOT MATCHED INSERT, expressed as one full-outer join.
# ---------------------------------------------------------------------------

_MERGE_SQL = """
WITH changes AS (
  -- staged changeset derived deterministically from the fixture:
  -- keys ≡1 (mod 7): price bump update; ≡2 (mod 7): delete;
  -- shifted keys beyond the max: inserts
  SELECT o_orderkey AS k, 'U' AS op, o_totalprice + 1000.0 AS new_price
  FROM orders WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT o_orderkey, 'D', NULL FROM orders WHERE o_orderkey % 7 = 2
  UNION ALL
  -- /2 is exact in binary floating point; a round(…, 2) here would
  -- hit decimal-tie cases where engines' rounding modes differ
  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders), 'I',
         o_totalprice / 2
  FROM orders WHERE o_orderkey % 7 = 3
),
merged AS (
  SELECT COALESCE(t.o_orderkey, c.k) AS k,
         CASE WHEN c.op = 'D' THEN NULL
              WHEN c.op = 'U' THEN c.new_price
              WHEN c.op = 'I' THEN c.new_price
              ELSE t.o_totalprice END AS price,
         CASE WHEN c.op IS NULL THEN 'kept'
              WHEN t.o_orderkey IS NULL THEN 'inserted'
              WHEN c.op = 'D' THEN 'deleted'
              ELSE 'updated' END AS action
  FROM orders t FULL OUTER JOIN changes c ON t.o_orderkey = c.k
)
SELECT action,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(price AS DECIMAL(30, 6))) AS VARCHAR) AS DOUBLE)
         AS sum_price
FROM merged GROUP BY action
"""


@register("merge_upsert_orders", _MERGE_SQL)
def q_merge_upsert_orders(spark, sf_dir):
    """MERGE INTO semantics (matched-update, matched-delete,
    not-matched-insert) against a deterministic staged changeset,
    reported as per-action row counts and decimal-exact price mass —
    the upsert core of every lakehouse table format, reduced to its
    one-full-outer-join dataflow.

    Scale plan: the merge is a single key-equi full-outer join (AQE
    picks broadcast when the changeset is small — the common case); the
    audit rollup is a 4-key aggregate.  No row-by-row driver logic, no
    second pass."""
    o = load_table(spark, sf_dir, "orders")
    max_k = o.agg(F.max("o_orderkey").alias("mk"))
    upd = o.filter(F.col("o_orderkey") % 7 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 1000.0).alias("new_price"),
    )
    dele = o.filter(F.col("o_orderkey") % 7 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_price"),
    )
    ins = (
        o.filter(F.col("o_orderkey") % 7 == 3)
        .crossJoin(F.broadcast(max_k))
        .select(
            (F.col("o_orderkey") + F.col("mk")).alias("k"),
            F.lit("I").alias("op"),
            (F.col("o_totalprice") / 2).alias("new_price"),
        )
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merged = o.join(changes, o.o_orderkey == changes.k, "full_outer").select(
        F.when(F.col("op") == "D", F.lit(None).cast("double"))
        .when(F.col("op").isin("U", "I"), F.col("new_price"))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(F.col("op").isNull(), "kept")
        .when(F.col("o_orderkey").isNull(), "inserted")
        .when(F.col("op") == "D", "deleted")
        .otherwise("updated")
        .alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(30, 6)"))
        .cast("string")
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# GDPR erasure propagation: delete a deterministic set of data
# subjects across every table that references them, with a per-table
# audit (and a residue check folded into the report).
# ---------------------------------------------------------------------------

_ERASE_MOD = 97  # erase users whose id ≡ 0 (mod 97)

_GDPR_SQL = f"""
WITH subjects AS (
  SELECT DISTINCT id FROM (
    SELECT user_id AS id FROM events WHERE user_id % {_ERASE_MOD} = 0
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 0
    UNION ALL
    SELECT o_custkey FROM orders WHERE o_custkey % {_ERASE_MOD} = 0
  )
),
ev AS (
  SELECT COUNT(*) AS n_before,
         SUM(CASE WHEN user_id % {_ERASE_MOD} = 0 THEN 1 ELSE 0 END) AS n_deleted
  FROM events
),
cu AS (
  SELECT COUNT(*) AS n_before,
         SUM(CASE WHEN c_custkey % {_ERASE_MOD} = 0 THEN 1 ELSE 0 END) AS n_deleted
  FROM customer
),
o AS (
  SELECT COUNT(*) AS n_before,
         SUM(CASE WHEN o_custkey % {_ERASE_MOD} = 0 THEN 1 ELSE 0 END) AS n_deleted
  FROM orders
)
SELECT 'events' AS table_name, CAST(n_before AS BIGINT) AS n_before,
       CAST(n_deleted AS BIGINT) AS n_deleted,
       CAST(n_before - n_deleted AS BIGINT) AS n_after,
       CAST((SELECT COUNT(*) FROM subjects) AS BIGINT) AS n_subjects
FROM ev
UNION ALL
SELECT 'customer', CAST(n_before AS BIGINT), CAST(n_deleted AS BIGINT),
       CAST(n_before - n_deleted AS BIGINT),
       CAST((SELECT COUNT(*) FROM subjects) AS BIGINT) FROM cu
UNION ALL
SELECT 'orders', CAST(n_before AS BIGINT), CAST(n_deleted AS BIGINT),
       CAST(n_before - n_deleted AS BIGINT),
       CAST((SELECT COUNT(*) FROM subjects) AS BIGINT) FROM o
"""


@register("gdpr_erasure_report", _GDPR_SQL)
def q_gdpr_erasure_report(spark, sf_dir):
    """Right-to-erasure propagation: a deterministic subject set
    (ids ≡ 0 mod {_ERASE_MOD}) anti-joined out of every referencing
    table, audited as before/deleted/after counts per table.  The
    engine really materializes the anti-joined survivors and counts
    them (n_after is the count of the DELETED relation, not
    arithmetic), so the report certifies the deletion dataflow itself.

    Scale plan: the subject set is subject-dim-sized → broadcast
    anti-join per table; per-table audits are single aggregates.  In a
    lakehouse this same dataflow rewrites affected files; the
    anti-join IS the rewrite's row filter."""
    ev = load_table(spark, sf_dir, "events")
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    subjects = (
        ev.filter(F.col("user_id") % _ERASE_MOD == 0)
        .select(F.col("user_id").alias("id"))
        .unionByName(
            cu.filter(F.col("c_custkey") % _ERASE_MOD == 0).select(
                F.col("c_custkey").alias("id")
            )
        )
        .unionByName(
            o.filter(F.col("o_custkey") % _ERASE_MOD == 0).select(
                F.col("o_custkey").alias("id")
            )
        )
        .distinct()
    )
    n_subjects = subjects.agg(F.count(F.lit(1)).alias("n_subjects"))

    def audit(name, df, key):
        # anti-join against the materialized subject LIST (in production
        # erasure requests are arbitrary ids, not a predicate)
        erased = df.join(
            F.broadcast(subjects.select(F.col("id").alias(key))),
            key,
            "left_anti",
        )
        before = df.agg(F.count(F.lit(1)).alias("n_before"))
        after = erased.agg(F.count(F.lit(1)).alias("n_after"))
        return (
            before.crossJoin(F.broadcast(after))
            .crossJoin(F.broadcast(n_subjects))
            .select(
                F.lit(name).alias("table_name"),
                F.col("n_before").cast("long").alias("n_before"),
                (F.col("n_before") - F.col("n_after")).cast("long").alias("n_deleted"),
                F.col("n_after").cast("long").alias("n_after"),
                F.col("n_subjects").cast("long").alias("n_subjects"),
            )
        )

    out = audit("events", ev, "user_id")
    out = out.unionByName(audit("customer", cu, "c_custkey"))
    out = out.unionByName(audit("orders", o, "o_custkey"))
    return out


# ---------------------------------------------------------------------------
# Order-independent dataset fingerprints: one 61-bit digest per table
# (sum of per-row portable hashes mod a Mersenne prime) — the O(1)
# change-detection certificate `snapshot_diff_report` escalates from.
# ---------------------------------------------------------------------------

_FP_MOD = (1 << 61) - 1  # Mersenne prime keeps the modular sum unbiased


def _fp_branch_sql(name: str, table: str, row_expr: str) -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql(row_expr, seed="fp:")
    return f"""
  SELECT '{name}' AS table_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST({h} % {_FP_MOD} AS DECIMAL(38, 0))) % {_FP_MOD} AS BIGINT)
           AS fingerprint
  FROM {table}
"""


_FP_ROWS = {
    "orders": "concat(CAST(o_orderkey AS VARCHAR), '|', CAST(o_totalprice AS VARCHAR), '|', o_orderstatus)",
    "customer": "concat(CAST(c_custkey AS VARCHAR), '|', c_name, '|', c_mktsegment)",
    "lineitem": "concat(CAST(l_orderkey AS VARCHAR), '|', CAST(l_linenumber AS VARCHAR), '|', CAST(l_quantity AS VARCHAR))",
    "documents": "concat(CAST(doc_id AS VARCHAR), '|', lang, '|', CAST(n_chars AS VARCHAR))",
}

_FP_SQL = " UNION ALL ".join(
    _fp_branch_sql(n, n, e) for n, e in _FP_ROWS.items()
)


@register("table_fingerprints", _FP_SQL)
def q_table_fingerprints(spark, sf_dir):
    """Per-table content fingerprint: Σ md5₆₀(key columns) mod 2⁶¹−1.
    Commutative/associative by construction, so the digest is identical
    under ANY partitioning or row order — two snapshots compare in O(1)
    after one linear scan each, and a mismatch escalates to the full
    `snapshot_diff_report`.  (Float columns enter through their VARCHAR
    form, which both engines render identically for the fixture's
    shortest-repr doubles.)

    Scale plan: embarrassingly parallel — per-partition partial sums,
    one tiny final reduce; no shuffle of data rows at all."""
    from ..functions.hashing import portable_hash64

    def branch(name, df, cols):
        row = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            # the modular sum MUST accumulate in DECIMAL(38,0): int64
            # overflows after ~4 near-2^61 terms (ANSI mode faults)
            (
                F.sum((portable_hash64(row, seed="fp:") % _FP_MOD).cast("decimal(38, 0)"))
                % F.lit(_FP_MOD).cast("decimal(38, 0)")
            )
            .cast("long")
            .alias("fingerprint"),
        )

    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    d = load_table(spark, sf_dir, "documents")
    out = branch("orders", o, ["o_orderkey", "o_totalprice", "o_orderstatus"])
    out = out.unionByName(branch("customer", cu, ["c_custkey", "c_name", "c_mktsegment"]))
    out = out.unionByName(
        branch("lineitem", li, ["l_orderkey", "l_linenumber", "l_quantity"])
    )
    out = out.unionByName(branch("documents", d, ["doc_id", "lang", "n_chars"]))
    return out


# ---------------------------------------------------------------------------
# Referential-integrity audit.  The fixture is FK-clean, so violations
# are INJECTED deterministically (drop parent orders with key ≡ 0
# mod 101, corrupt child custkeys ≡ 0 mod 211) — the audit logic is
# then certified against a non-vacuous orphan set, the same
# seeded-injection discipline as pii_scrub_audit.
# ---------------------------------------------------------------------------

_RI_DROP_MOD = 101
_RI_CORRUPT_MOD = 211

_RI_SQL = f"""
WITH parents AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % {_RI_DROP_MOD} <> 0
),
child_orders AS (
  SELECT l_orderkey FROM lineitem
),
corrupted_orders AS (
  SELECT CASE WHEN o_custkey % {_RI_CORRUPT_MOD} = 0
              THEN -o_custkey ELSE o_custkey END AS o_custkey
  FROM orders
),
li AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM child_orders c LEFT JOIN parents p ON c.l_orderkey = p.o_orderkey
),
oc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN cu.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM corrupted_orders o LEFT JOIN customer cu ON o.o_custkey = cu.c_custkey
)
SELECT 'lineitem->orders' AS fk, n_child, n_orphans,
       round(1.0 - CAST(n_orphans AS DOUBLE) / n_child, 6) AS fk_coverage
FROM li
UNION ALL
SELECT 'orders->customer', n_child, n_orphans,
       round(1.0 - CAST(n_orphans AS DOUBLE) / n_child, 6)
FROM oc
"""


@register("referential_integrity_audit", _RI_SQL)
def q_referential_integrity_audit(spark, sf_dir):
    """FK-orphan audit for the two fact→dim edges, run against
    deterministically injected violations (dropped parents, corrupted
    child keys) so the orphan counts are non-zero and discriminating.

    Scale plan: each check is one left join keyed on the FK with a
    counting aggregate — the dim side broadcasts; for a dim too big to
    broadcast, the Bloom-filter semi-join (`bloom_semi_join_lineitem`)
    is the pre-filter that keeps the orphan check off the shuffle
    path."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    parents = o.filter(F.col("o_orderkey") % _RI_DROP_MOD != 0).select(
        "o_orderkey"
    )
    li_audit = (
        li.select("l_orderkey")
        .join(F.broadcast(parents), li.l_orderkey == parents.o_orderkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
        .select(
            F.lit("lineitem->orders").alias("fk"),
            F.col("n_child").cast("long").alias("n_child"),
            "n_orphans",
            F.round(
                1.0 - F.col("n_orphans").cast("double") / F.col("n_child"), 6
            ).alias("fk_coverage"),
        )
    )
    corrupted = o.select(
        F.when(
            F.col("o_custkey") % _RI_CORRUPT_MOD == 0, -F.col("o_custkey")
        )
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey")
    )
    oc_audit = (
        corrupted.join(
            F.broadcast(cu.select("c_custkey")),
            corrupted.o_custkey == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
        .select(
            F.lit("orders->customer").alias("fk"),
            F.col("n_child").cast("long").alias("n_child"),
            "n_orphans",
            F.round(
                1.0 - F.col("n_orphans").cast("double") / F.col("n_child"), 6
            ).alias("fk_coverage"),
        )
    )
    return li_audit.unionByName(oc_audit)


# ---------------------------------------------------------------------------
# Learned binning, fit/transform split: decile edges FIT on the first
# order-date half, APPLIED to the second — the Bucketizer pattern with
# the train/serve separation made explicit (edges must come from the
# fit period only, or the serve-side distribution leaks in).
# ---------------------------------------------------------------------------

_BIN_CUT = "1997-01-01"
_BIN_N = 10

_BINNING_SQL = f"""
WITH a AS (
  SELECT o_totalprice FROM orders
  WHERE CAST(o_orderdate AS DATE) < DATE '{_BIN_CUT}'
),
edges0 AS (
  SELECT bin, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
  FROM (
    SELECT o_totalprice,
           NTILE({_BIN_N}) OVER (ORDER BY o_totalprice) AS bin
    FROM a
  ) GROUP BY bin
),
edges AS (
  SELECT bin, lo, hi, LEAD(lo) OVER (ORDER BY bin) AS next_lo FROM edges0
),
b AS (
  SELECT o_totalprice FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '{_BIN_CUT}'
),
-- half-open bins from the edges: v -> bin k iff v >= lo_k and
-- v < lo_(k+1); bin 1 unbounded below, bin N unbounded above — every
-- serve value maps to EXACTLY one bin (no gap-drops, no tie
-- double-counts)
assigned AS (
  SELECT e.bin, e.lo, e.hi
  FROM b JOIN edges e
    ON (e.bin = 1 OR b.o_totalprice >= e.lo)
   AND (e.bin = {_BIN_N} OR b.o_totalprice < e.next_lo)
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_apply,
       ANY_VALUE(lo) AS lo, ANY_VALUE(hi) AS hi
FROM assigned GROUP BY bin
"""


@register("learned_binning_apply", _BINNING_SQL)
def q_learned_binning_apply(spark, sf_dir):
    """Quantile-bin edges learned on the fit period, applied to the
    serve period: per fitted decile, how many serve-period orders land
    in it (out-of-range values clamp to the edge bins — the
    Bucketizer convention).  Drift shows up as unequal bin masses,
    which is exactly what this table is monitored for.

    Scale plan: the fit side reduces to {_BIN_N} edge rows (the NTILE
    runs on the fit period only — the exact gate form;
    `learned_binning_apply_scaled` in queries/rangescale.py fits the
    same edges by rank selection with no sort, identical output and
    shared oracle); the apply side joins the broadcast edge relation
    with a range predicate — a {_BIN_N}-row nested-loop probe, i.e. a
    map-side CASE in disguise."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    a = o.filter(F.col("o_orderdate").cast("date") < F.lit(_BIN_CUT).cast("date"))
    edges = (
        a.select(
            "o_totalprice",
            F.ntile(_BIN_N).over(Window.orderBy("o_totalprice")).alias("bin"),
        )
        .groupBy("bin")
        .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    )
    edges = edges.localCheckpoint(eager=True)  # fit artifact
    # half-open bins from the NEXT bin's lower edge: v -> bin k iff
    # v >= lo_k and v < lo_(k+1), edge bins unbounded — exactly-one
    # assignment even when adjacent fitted ranges leave gaps or share
    # a tied boundary (hi_k == lo_(k+1))
    edges = edges.withColumn(
        "next_lo", F.lead("lo").over(Window.orderBy("bin"))
    )
    b = o.filter(
        F.col("o_orderdate").cast("date") >= F.lit(_BIN_CUT).cast("date")
    ).select("o_totalprice")
    assigned = b.join(
        F.broadcast(edges),
        ((F.col("bin") == 1) | (F.col("o_totalprice") >= F.col("lo")))
        & (
            (F.col("bin") == _BIN_N)
            | (F.col("o_totalprice") < F.col("next_lo"))
        ),
    )
    return assigned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_apply"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency audit — schema profiling for DENORMALIZED
# lakehouse tables.  On a flattened fact relation the join-induced FDs
# (l_orderkey → order attributes) are exactly what a normalization /
# deduplication pass would rediscover; the audit measures, per
# candidate FD, how far the relation is from satisfying it: violating
# key count and the g3 measure (min fraction of rows to delete so the
# FD holds — Kivinen & Mannila, TCS 1995).
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("l_orderkey->o_orderdate", "l_orderkey", "o_orderdate"),
    ("l_orderkey->o_orderpriority", "l_orderkey", "o_orderpriority"),
    ("l_orderkey->l_linestatus", "l_orderkey", "l_linestatus"),
    ("l_orderkey->l_suppkey", "l_orderkey", "l_suppkey"),
    ("l_returnflag->o_orderpriority", "l_returnflag", "o_orderpriority"),
]


def _fd_sql() -> str:
    per_fd = []
    for name, lhs, rhs in _FD_CANDIDATES:
        per_fd.append(f"""
  SELECT '{name}' AS fd,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
         CAST(SUM(cnt - maxcnt) AS DOUBLE) / SUM(cnt) AS g3_rate
  FROM (
    SELECT {lhs}, SUM(c) AS cnt, MAX(c) AS maxcnt, COUNT(*) AS n_rhs
    FROM (SELECT {lhs}, {rhs}, COUNT(*) AS c FROM denorm GROUP BY 1, 2)
    GROUP BY 1
  )""")
    return (
        """WITH denorm AS (
  SELECT l.l_orderkey, l.l_returnflag, l.l_linestatus, l.l_suppkey, o.o_orderdate, o.o_orderpriority
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)"""
        + "\nUNION ALL".join(per_fd)
    )


@register("functional_dependency_audit", _fd_sql())
def q_functional_dependency_audit(spark, sf_dir):
    """Audit candidate functional dependencies on the denormalized
    lineitem⨝orders relation: per FD, the key count, how many keys map
    to more than one RHS value, and the g3 violation rate (fraction of
    rows that would need deleting for the FD to hold — 0.0 means the
    FD is exact, as the join-induced order-attribute FDs are).

    Scale plan: each FD is two stacked map-side-combined aggregates —
    (lhs, rhs) counts, then a per-lhs rollup to (total, max, distinct
    rhs) — so per-FD cost is one shuffle on lhs; the denormalizing
    join runs ONCE and fans out to all candidates; violation math is
    all integer, the rate is one final division."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    denorm = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_suppkey",
        "o_orderdate", "o_orderpriority"
    )
    # one physical build of the denormalized relation for all five FDs
    denorm = denorm.localCheckpoint(eager=False)
    reports = []
    for name, lhs, rhs in _FD_CANDIDATES:
        kv = denorm.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("c"))
        per_key = kv.groupBy(lhs).agg(
            F.sum("c").alias("cnt"),
            F.max("c").alias("maxcnt"),
            F.count(F.lit(1)).alias("n_rhs"),
        )
        reports.append(
            per_key.agg(
                F.lit(name).alias("fd"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating_keys"),
                (
                    F.sum(F.col("cnt") - F.col("maxcnt")).cast("double")
                    / F.sum("cnt")
                ).alias("g3_rate"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Partition-plan advisor: per-key shuffle-skew prescription.  Given a
# prospective shuffle key, emit the per-key row counts, the skew
# verdict against the target task size, and the SALT FACTOR that
# equalizes each hot key — the actionable output `key_skew_gini`'s
# diagnostic number stops short of (and the input the engine's
# salted-join operators consume).
# ---------------------------------------------------------------------------

_PPA_TASKS = 32  # planner's parallelism target (config)

_PPA_SQL = f"""
WITH per_key AS (
  SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS n_rows_key
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_rows_key) AS BIGINT) AS n_rows,
         CAST(CEIL(CAST(SUM(n_rows_key) AS DOUBLE) / {_PPA_TASKS}) AS BIGINT)
           AS target_rows_per_task
  FROM per_key
)
SELECT p.key, p.n_rows_key,
       round(CAST(p.n_rows_key AS DOUBLE) / t.n_rows, 6) AS share,
       t.n_rows, t.target_rows_per_task,
       CAST(CASE WHEN p.n_rows_key > 2 * t.target_rows_per_task
                 THEN 1 ELSE 0 END AS BIGINT) AS is_skewed,
       CAST(CEIL(CAST(p.n_rows_key AS DOUBLE) / t.target_rows_per_task)
            AS BIGINT) AS salt_factor
FROM per_key p CROSS JOIN tot t
ORDER BY p.n_rows_key DESC, p.key
"""


@register("partition_plan_advisor", _PPA_SQL)
def q_partition_plan_advisor(spark, sf_dir):
    """Shuffle-plan prescription for a prospective event_type-keyed
    shuffle: per-key row counts and shares, the skew verdict against
    the {t}-task target size (key > 2× target), and the per-key salt
    factor ceil(rows/target) that equalizes hot keys — exactly what
    the engine's salted operators (`salted_skew_join_revenue`,
    `salted_user_counts`) take as input, produced as data instead of a
    hand-picked constant.  Counts exact; share is one division.

    Scale plan: ONE map-side combined group-by on the key (the
    histogram is |keys|-sized), a 1-row total, broadcast back — the
    advisor costs a single pass over the table it plans for."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_key")
    ).localCheckpoint(eager=True)
    tot = per_key.agg(
        F.sum("n_rows_key").cast("long").alias("n_rows"),
        F.ceil(F.sum("n_rows_key").cast("double") / _PPA_TASKS)
        .cast("long")
        .alias("target_rows_per_task"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_rows_key",
            F.round(F.col("n_rows_key").cast("double") / F.col("n_rows"), 6).alias(
                "share"
            ),
            "n_rows",
            "target_rows_per_task",
            F.when(
                F.col("n_rows_key") > 2 * F.col("target_rows_per_task"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("is_skewed"),
            F.ceil(
                F.col("n_rows_key").cast("double") / F.col("target_rows_per_task")
            )
            .cast("long")
            .alias("salt_factor"),
        )
        .orderBy(F.desc("n_rows_key"), "key")
    )


