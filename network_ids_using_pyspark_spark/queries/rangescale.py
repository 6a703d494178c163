"""Scale-safe twins of the six global-window queries.

VERDICT r4 flagged six green-but-weak queries whose plans collapse to
one task at 100 TB — a global NTILE / total-order window over a raw
table grain (`equidepth_histogram`, `stump_split_gains`,
`rfm_segment_counts`, `learned_binning_apply`) or a single global sort
(`snm_candidate_pairs`, `pareto_frontier_orders`).  Each `_scaled`
twin here computes the IDENTICAL output through one shared primitive
(operators/rangepart.py) and therefore shares the exact twin's oracle
SQL verbatim:

* NTILE family → ``exact_rank_select``: cutpoints at the NTILE
  boundary ranks found by histogram narrowing (map-side-combined
  aggregates only), then a map-side bucket CASE.  Exact, because
  NTILE bucket membership is a pure function of a row's position
  relative to the boundary tuples of the same total order.
* sort family → ``equiwidth_bucket_expr``: a contiguous map-side
  bucketing (ties never straddle buckets), per-bucket windows for the
  local pass, and a bounded boundary exchange — per-bucket seeds for
  Pareto's running max, head/tail fringe rows for SNM's cross-bucket
  neighbor pairs — handled on the driver over O(buckets) rows (the
  G4 bounded-collect pattern).

The exact forms stay registered as the certification gates; plan
tests (tests/test_rangescale.py) assert the twins contain NO
`Exchange SinglePartition` and no `Window` over an unpartitioned
frame on the raw grain.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.rangepart import (
    equiwidth_bucket_expr,
    exact_rank_select,
    ntile_boundaries,
    ntile_sizes,
)
from ..functions.numeric import dec_double_sql, grid_sum, grid_sum_sql
from ..sources.tables import load_table
from . import register
from .datamgmt import _BIN_CUT, _BIN_N, _BINNING_SQL
from .entity import _SNM_SQL, _SNM_T, _SNM_W
from . import functions_ext as _functions_ext
from .functions_ext import _ED_BINS, _EQUIDEPTH_SQL
from .relational_ext import _PARETO_SQL
from .stats_hypothesis import _RFM_SQL, _STUMP_BINS, _stump_sql, stump_gains_from_bucketed

_N_BUCKETS = 32  # range buckets for the sort-family twins; ≫ at scale


def _bucket_from_cuts(cuts: list[tuple], cols: list[str]):
    """NTILE bucket id from boundary tuples: 1 + #{cuts strictly below
    the row} under the lexicographic (cols) order — a map-side CASE."""
    expr = F.lit(1)
    for cut in cuts:
        above = F.lit(False)
        # row > cut lexicographically
        prefix_eq = F.lit(True)
        for c, cv in zip(cols, cut):
            above = above | (prefix_eq & (F.col(c) > F.lit(cv)))
            prefix_eq = prefix_eq & (F.col(c) == F.lit(cv))
        expr = expr + F.when(above, 1).otherwise(0)
    return expr.cast("int")


@register("equidepth_histogram_scaled", _EQUIDEPTH_SQL)
def q_equidepth_histogram_scaled(spark, sf_dir):
    """`equidepth_histogram` without the global NTILE: bucket sizes
    are NTILE arithmetic on one COUNT, and each bucket's lo/hi are the
    values at its boundary ranks, rank-selected by histogram
    narrowing.  (lo/hi depend on value ranks only — ties at a
    boundary yield the same boundary value whichever side each tied
    row lands on — so no composite tiebreak is needed.)  Output and
    oracle identical to the exact gate; no sort anywhere."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    n = o.count()
    bounds = ntile_boundaries(n, _ED_BINS)
    sizes = ntile_sizes(n, _ED_BINS)
    ranks = sorted({1, *bounds, *[b + 1 for b in bounds[:-1]]})
    vals = exact_rank_select(o, ["o_totalprice"], ranks)
    rows, prev = [], 0
    for k in range(_ED_BINS):
        lo = vals[prev + 1][0]
        hi = vals[bounds[k]][0]
        rows.append((k + 1, sizes[k], lo, hi))
        prev = bounds[k]
    return spark.createDataFrame(
        rows, "bin int, n long, lo double, hi double"
    )


@register("stump_split_gains_scaled", _stump_sql())
def q_stump_split_gains_scaled(spark, sf_dir):
    """`stump_split_gains` without the global NTILE: the decile
    boundary (value, event_id) tuples are rank-selected, bucket
    assignment becomes a map-side lexicographic CASE (exact NTILE
    reproduction, ties split by event_id exactly as the window's
    tiebreak does), and the shared entropy downstream runs unchanged
    on the bins×labels grain."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("label"), "value", "event_id"
    )
    n = base.count()
    cut_ranks = ntile_boundaries(n, _STUMP_BINS)[:-1]
    cuts_by_rank = exact_rank_select(base, ["value", "event_id"], cut_ranks)
    cuts = [cuts_by_rank[r] for r in cut_ranks]
    b = base.select(
        "label",
        "value",
        _bucket_from_cuts(cuts, ["value", "event_id"]).alias("bucket"),
    )
    return stump_gains_from_bucketed(b)


@register("rfm_segment_counts_scaled", _RFM_SQL)
def q_rfm_segment_counts_scaled(spark, sf_dir):
    """`rfm_segment_counts` with the three customer-grain NTILE(5)
    windows replaced by three rank-selected cutpoint sets + map-side
    CASEs.  Recency ranks descending, so the selection runs ascending
    on its negation (exact for integer day counts); monetary cutpoints
    carry the exact DECIMAL sum.  The customer-grain base is
    checkpointed once (the fit-artifact pattern) so the narrowing
    passes never re-aggregate the orders fact."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.first("maxd"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(30, 6)")).alias("monetary"),
        )
        .withColumn("neg_recency", -F.col("recency"))
        .localCheckpoint(eager=True)
    )
    n = base.count()
    cut_ranks = ntile_boundaries(n, 5)[:-1]

    def cuts_for(cols):
        by_rank = exact_rank_select(base, cols, cut_ranks)
        return [by_rank[r] for r in cut_ranks]

    scored = base.select(
        _bucket_from_cuts(
            cuts_for(["neg_recency", "o_custkey"]), ["neg_recency", "o_custkey"]
        ).alias("r_sc"),
        _bucket_from_cuts(
            cuts_for(["frequency", "o_custkey"]), ["frequency", "o_custkey"]
        ).alias("f_sc"),
        _bucket_from_cuts(
            cuts_for(["monetary", "o_custkey"]), ["monetary", "o_custkey"]
        ).alias("m_sc"),
    )
    return scored.groupBy("r_sc", "f_sc", "m_sc").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register("learned_binning_apply_scaled", _BINNING_SQL)
def q_learned_binning_apply_scaled(spark, sf_dir):
    """`learned_binning_apply` with the fit-side NTILE replaced by
    rank-selected decile edges (lo_k = value at the bucket's first
    rank, hi_k = value at its boundary rank — tie-independent exactly
    as in `equidepth_histogram_scaled`).  The serve side is unchanged:
    a broadcast half-open range probe, i.e. a map-side CASE."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(
        F.col("o_orderdate").cast("date") < F.lit(_BIN_CUT).cast("date")
    ).select("o_totalprice")
    n = a.count()
    bounds = ntile_boundaries(n, _BIN_N)
    ranks = sorted({1, *bounds, *[b + 1 for b in bounds[:-1]]})
    vals = exact_rank_select(a, ["o_totalprice"], ranks)
    rows, prev = [], 0
    for k in range(_BIN_N):
        rows.append((k + 1, vals[prev + 1][0], vals[bounds[k]][0]))
        prev = bounds[k]
    edge_rows = [
        (bin_, lo, hi, rows[i + 1][1] if i + 1 < _BIN_N else None)
        for i, (bin_, lo, hi) in enumerate(rows)
    ]
    edges = spark.createDataFrame(
        edge_rows, "bin int, lo double, hi double, next_lo double"
    )
    b = o.filter(
        F.col("o_orderdate").cast("date") >= F.lit(_BIN_CUT).cast("date")
    ).select("o_totalprice")
    assigned = b.join(
        F.broadcast(edges),
        ((F.col("bin") == 1) | (F.col("o_totalprice") >= F.col("lo")))
        & ((F.col("bin") == _BIN_N) | (F.col("o_totalprice") < F.col("next_lo"))),
    )
    return assigned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_apply"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    )


@register("snm_candidate_pairs_scaled", _SNM_SQL)
def q_snm_candidate_pairs_scaled(spark, sf_dir):
    """`snm_candidate_pairs` without the global sort: contiguous
    equi-width buckets on the blocking key (ties can't straddle), a
    per-bucket window emits each record's next-w neighbors INSIDE its
    bucket, and the cross-bucket pairs — only ever reachable from a
    bucket's last w rows into the following buckets' first w rows —
    are reconstructed on the driver from the collected fringe
    (≤ 2·w·buckets rows, the bounded boundary exchange the exact
    form's docstring promised).  Output identical to the windowed
    gate, oracle shared verbatim."""
    c = load_table(spark, sf_dir, "customer")
    lohi = c.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    ).collect()[0]
    bexpr = equiwidth_bucket_expr("c_acctbal", lohi["lo"], lohi["hi"], _N_BUCKETS)
    s = c.select("c_custkey", "c_acctbal", bexpr.alias("bkt"))
    w_b = Window.partitionBy("bkt").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    w_cnt = Window.partitionBy("bkt")
    s2 = s.select(
        "c_custkey",
        "c_acctbal",
        "bkt",
        F.row_number().over(w_b).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("n_b"),
        *[F.lead("c_custkey", i).over(w_b).alias(f"k{i}") for i in range(1, _SNM_W + 1)],
        *[F.lead("c_acctbal", i).over(w_b).alias(f"b{i}") for i in range(1, _SNM_W + 1)],
    )
    cands = None
    for i in range(1, _SNM_W + 1):
        part = s2.filter(F.col(f"k{i}").isNotNull()).select(
            F.col("c_custkey").alias("cust_a"),
            F.col(f"k{i}").alias("cust_b"),
            F.col("c_acctbal").alias("bal_a"),
            F.col(f"b{i}").alias("bal_b"),
        )
        cands = part if cands is None else cands.unionByName(part)
    # boundary fringe: first/last w rows of every non-empty bucket
    fringe = (
        s2.filter((F.col("rn") <= _SNM_W) | (F.col("rn") > F.col("n_b") - _SNM_W))
        .select("bkt", "rn", "n_b", "c_custkey", "c_acctbal")
        .collect()
    )
    heads: dict[int, list] = {}
    tails: dict[int, list] = {}
    counts: dict[int, int] = {}
    for r in fringe:
        counts[r["bkt"]] = r["n_b"]
        if r["rn"] <= _SNM_W:
            heads.setdefault(r["bkt"], []).append(r)
        if r["rn"] > r["n_b"] - _SNM_W:
            tails.setdefault(r["bkt"], []).append(r)
    order = sorted(counts)
    for b in order:
        heads.get(b, []).sort(key=lambda r: r["rn"])
    cross = []
    for pos, b in enumerate(order):
        # the first w global successors AFTER bucket b's last row
        after = []
        for b2 in order[pos + 1 :]:
            after.extend(heads.get(b2, []))
            if len(after) >= _SNM_W:
                break
        for a in tails.get(b, []):
            in_bucket = counts[b] - a["rn"]  # neighbors covered by the window
            for off in range(in_bucket + 1, _SNM_W + 1):
                idx = off - in_bucket - 1
                if idx < len(after):
                    nb = after[idx]
                    cross.append(
                        (a["c_custkey"], nb["c_custkey"], a["c_acctbal"], nb["c_acctbal"])
                    )
    cross_df = spark.createDataFrame(
        cross, "cust_a long, cust_b long, bal_a double, bal_b double"
    )
    return (
        cands.unionByName(cross_df)
        .withColumn("bal_diff", F.col("bal_b") - F.col("bal_a"))
        .filter(F.col("bal_diff") <= _SNM_T)
    )


@register("pareto_frontier_orders_scaled", _PARETO_SQL)
def q_pareto_frontier_orders_scaled(spark, sf_dir):
    """`pareto_frontier_orders` without the global sort: contiguous
    price buckets, each running its own (price DESC, key ASC) window
    max seeded with the max date of all HIGHER-price buckets — the
    per-bucket maxima are one tiny aggregate whose prefix max is
    folded on the driver into a bucket→seed CASE (the promised
    boundary exchange).  Equal prices share a bucket, so the within-
    bucket running max sees exactly the rows the global window would.
    Output identical to the exact gate, oracle shared verbatim."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    lohi = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).collect()[0]
    bexpr = equiwidth_bucket_expr("o_totalprice", lohi["lo"], lohi["hi"], _N_BUCKETS)
    t = o.withColumn("bkt", bexpr)
    bmax = {
        r["bkt"]: r["mx"]
        for r in t.groupBy("bkt").agg(F.max("o_orderdate").alias("mx")).collect()
    }
    seeds, run = {}, None
    for b in sorted(bmax, reverse=True):  # higher bucket = higher price
        seeds[b] = run
        run = bmax[b] if run is None else max(run, bmax[b])
    seed_col = F.lit(None).cast("timestamp")
    for b, sd in seeds.items():
        if sd is not None:
            seed_col = F.when(F.col("bkt") == b, F.lit(sd)).otherwise(seed_col)
    w = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = t.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.greatest(
            F.max("o_orderdate").over(w), seed_col
        ).alias("best_date_above"),
    )
    return ranked.filter(
        F.col("best_date_above").isNull()
        | (F.col("o_orderdate") > F.col("best_date_above"))
    ).select("o_orderkey", "o_totalprice", "o_orderdate")


# ---------------------------------------------------------------------------
# First-class consumers of the rank-selection primitive (not twins):
# exact tail percentiles and a winsorized mean, the two statistics a
# 100 TB data-quality pass wants exact but can never afford a global
# sort for.  Both oracles express the identical rank definitions with
# window functions — fine for DuckDB at certification scale, which is
# precisely the asymmetry the primitive exists for.
# ---------------------------------------------------------------------------

_PCTS = [0.5, 0.9, 0.99, 0.999]

_PCT_SQL = f"""
WITH ranked AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
ps AS (SELECT CAST(p AS DOUBLE) AS p
       FROM (SELECT UNNEST(ARRAY{_PCTS}) AS p))
SELECT ps.p, CAST(r.rn AS BIGINT) AS rk, r.v AS value
FROM ps JOIN ranked r ON r.rn = CAST(ceil(ps.p * r.n) AS BIGINT)
"""


@register("exact_percentiles_scaled", _PCT_SQL)
def q_exact_percentiles_scaled(spark, sf_dir):
    """Exact p50/p90/p99/p99.9 of the order total (value at rank
    ceil(p·n), the discrete lower quantile) WITHOUT any sort: all four
    ranks resolve in one shared histogram-narrowing descent.  The
    exact-tail complement of `quantile_sketch_check` (KLL gives rank
    tolerance; billing/SLO cutoffs often need the exact order
    statistic).

    Scale plan: one COUNT + 2-3 map-side-combined histogram passes
    (≤1024-cell collects) + a ≤4096-row remainder resolve — the corpus
    is scanned a constant number of times and never shuffled."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    n = o.count()
    ranks = {p: math.ceil(p * n) for p in _PCTS}
    vals = exact_rank_select(o, ["o_totalprice"], list(ranks.values()))
    rows = [(p, ranks[p], vals[ranks[p]][0]) for p in _PCTS]
    return spark.createDataFrame(rows, "p double, rk long, value double")


_WINS_LO, _WINS_HI = 0.01, 0.99

_WINS_SQL = f"""
WITH ranked AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
caps AS (
  SELECT MIN(CASE WHEN rn = CAST(ceil({_WINS_LO} * n) AS BIGINT) THEN v END) AS lo,
         MIN(CASE WHEN rn = CAST(ceil({_WINS_HI} * n) AS BIGINT) THEN v END) AS hi
  FROM ranked
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       caps.lo AS cap_lo, caps.hi AS cap_hi,
       CAST(SUM(CASE WHEN v < caps.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
       CAST(SUM(CASE WHEN v > caps.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
       round({grid_sum_sql("GREATEST(caps.lo, LEAST(caps.hi, v))", 9)}
             / COUNT(*), 6) AS mean_winsorized
FROM ranked CROSS JOIN caps
GROUP BY caps.lo, caps.hi
"""


@register("winsorized_mean_orders", _WINS_SQL)
def q_winsorized_mean_orders(spark, sf_dir):
    """Winsorized mean of the order total (caps at the exact p1/p99
    order statistics, values clamped — the ROBUST mean that keeps n
    constant where `trimmed_mean_value` deletes): caps rank-selected
    with no sort, then one map-side clamp + decimal-exact mean, with
    the clamp counts reported for drift monitoring.

    Scale plan: the caps are two ranks in one narrowing descent; the
    mean is a single map-side-combined decimal aggregate — two corpus
    scans total, zero shuffles of data rows."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    n = o.count()
    r_lo, r_hi = math.ceil(_WINS_LO * n), math.ceil(_WINS_HI * n)
    vals = exact_rank_select(o, ["v"], [r_lo, r_hi])
    lo, hi = vals[r_lo][0], vals[r_hi][0]
    clamped = F.greatest(F.lit(lo), F.least(F.lit(hi), F.col("v")))
    return o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.lit(lo)).alias("cap_lo"),
        F.min(F.lit(hi)).alias("cap_hi"),
        F.sum(F.when(F.col("v") < lo, 1).otherwise(0)).cast("long").alias("n_clamped_lo"),
        F.sum(F.when(F.col("v") > hi, 1).otherwise(0)).cast("long").alias("n_clamped_hi"),
        F.round(
            grid_sum(clamped, 9) / F.count(F.lit(1)),
            6,
        ).alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# Seventh twin: the sweep-line interval counter.  The exact form's only
# scale risk is the global ordered running sum over the boundary-point
# relation; the same bucket + driver-folded-seed machinery as Pareto
# distributes it exactly.
# ---------------------------------------------------------------------------


@register("peak_concurrent_sessions_scaled", _functions_ext._PEAK_SQL)
def q_peak_concurrent_sessions_scaled(spark, sf_dir):
    """`peak_concurrent_sessions` with the sweep's global running sum
    range-distributed: boundary points (+1 session start, −1 just
    after end) bucket contiguously on time (pure function of t, so the
    closings-before-openings tie rule inside a timestamp never splits
    across buckets), each bucket runs its own cumulative sum seeded by
    the driver-folded prefix of the per-bucket delta totals — the
    "tiny boundary exchange" the exact form's docstring promises.
    Output and oracle identical to the sweep-line gate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag(t_us).over(w).isNull()
            | (t_us - F.lag(t_us).over(w) > 1800 * 1000000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(w_cum).alias("sidx")
    )
    iv = (
        sess.groupBy("user_id", "sidx")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
        .localCheckpoint(eager=True)  # session relation: feeds pts twice + n
    )
    pts = iv.select(F.col("s_us").alias("t"), F.lit(1).alias("delta")).unionByName(
        iv.select((F.col("e_us") + 1).alias("t"), F.lit(-1).alias("delta"))
    )
    lohi = pts.agg(F.min("t").alias("lo"), F.max("t").alias("hi")).collect()[0]
    bexpr = equiwidth_bucket_expr("t", lohi["lo"], lohi["hi"], _N_BUCKETS)
    bp = pts.withColumn("bkt", bexpr)
    bsums = {
        r["bkt"]: r["s"]
        for r in bp.groupBy("bkt").agg(F.sum("delta").alias("s")).collect()
    }
    seeds, run_total = {}, 0
    for b in sorted(bsums):
        seeds[b] = run_total
        run_total += bsums[b]
    seed_col = F.lit(0).cast("long")
    for b, sd in seeds.items():
        if sd:
            seed_col = F.when(F.col("bkt") == b, F.lit(sd)).otherwise(seed_col)
    w_sweep = Window.partitionBy("bkt").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = bp.select(
        "t", (F.sum("delta").over(w_sweep) + seed_col).alias("conc")
    )
    peak = run.agg(F.max("conc").alias("peak"))
    n_sessions = iv.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        run.crossJoin(F.broadcast(peak))
        .groupBy("peak")
        .agg(
            F.min(F.when(F.col("conc") == F.col("peak"), F.col("t"))).alias(
                "peak_at_us"
            )
        )
        .crossJoin(F.broadcast(n_sessions))
        .select(
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.col("peak").cast("long").alias("peak_concurrency"),
            F.col("peak_at_us").cast("long").alias("peak_at_us"),
        )
    )


# ---------------------------------------------------------------------------
# Upper-tail dependence of (quantity, extendedprice): the copula-level
# question "when one metric is extreme, is the other?" that Pearson
# correlation (`corr_qty_price`) cannot answer.  Quantile cutoffs come
# from the same exact-rank-selection descent as
# `exact_percentiles_scaled`, so the engine never sorts.
# ---------------------------------------------------------------------------

_TAIL_Q = 0.95


@register(
    "tail_dependence_qty_price",
    f"""
WITH rx AS (
  SELECT l_quantity AS v, ROW_NUMBER() OVER (ORDER BY l_quantity) AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
),
qx AS (SELECT v FROM rx WHERE rn = CAST(ceil({_TAIL_Q} * n) AS BIGINT)),
ry AS (
  SELECT l_extendedprice AS v,
         ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
),
qy AS (SELECT v FROM ry WHERE rn = CAST(ceil({_TAIL_Q} * n) AS BIGINT)),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_quantity > (SELECT v FROM qx)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_x_tail,
         CAST(SUM(CASE WHEN l_extendedprice > (SELECT v FROM qy)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_y_tail,
         CAST(SUM(CASE WHEN l_quantity > (SELECT v FROM qx)
                        AND l_extendedprice > (SELECT v FROM qy)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_joint_tail
  FROM lineitem
)
SELECT CAST({_TAIL_Q} AS DOUBLE) AS q,
       round(CAST((SELECT v FROM qx) AS DOUBLE), 2) AS cut_quantity,
       round(CAST((SELECT v FROM qy) AS DOUBLE), 2) AS cut_extendedprice,
       n, n_x_tail, n_y_tail, n_joint_tail,
       round(CAST(n_joint_tail AS DOUBLE) / n_x_tail, 6) AS p_y_tail_given_x,
       round((CAST(n_joint_tail AS DOUBLE) / n) / (1.0 - {_TAIL_Q}), 6)
         AS lambda_u
FROM c
""",
)
def q_tail_dependence_qty_price(spark, sf_dir):
    """Empirical upper-tail dependence at q = {q}: with per-column
    exact lower quantiles (value at rank ceil(q·n)) as cutoffs, report
    P(price tail | quantity tail) and the tail-dependence coefficient
    estimate λ_U = P(both tails)/(1−q) — 1.0 under perfect tail
    comonotonicity, ≈(1−q) under independence for the conditional
    form.  Counts are exact integers; the two output ratios are single
    IEEE divisions.

    Scale plan: the cutoffs come from the shared exact-rank-selection
    descent (constant number of map-side histogram passes, NO sort —
    the oracle's rank windows are the statement of record, not the
    plan); the tail census is ONE conditional-sum aggregate with the
    two 1-row cutoffs broadcast in."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    rank = math.ceil(_TAIL_Q * n)
    (qx,) = exact_rank_select(li, ["l_quantity"], [rank])[rank]
    (qy,) = exact_rank_select(li, ["l_extendedprice"], [rank])[rank]
    c = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_quantity") > qx).cast("int")).cast("long").alias("n_x_tail"),
        F.sum((F.col("l_extendedprice") > qy).cast("int"))
        .cast("long")
        .alias("n_y_tail"),
        F.sum(
            ((F.col("l_quantity") > qx) & (F.col("l_extendedprice") > qy)).cast(
                "int"
            )
        )
        .cast("long")
        .alias("n_joint_tail"),
    )
    return c.select(
        F.lit(_TAIL_Q).cast("double").alias("q"),
        F.round(F.lit(float(qx)), 2).alias("cut_quantity"),
        F.round(F.lit(float(qy)), 2).alias("cut_extendedprice"),
        "n",
        "n_x_tail",
        "n_y_tail",
        "n_joint_tail",
        F.round(F.col("n_joint_tail").cast("double") / F.col("n_x_tail"), 6).alias(
            "p_y_tail_given_x"
        ),
        F.round(
            (F.col("n_joint_tail").cast("double") / F.col("n")) / (1.0 - _TAIL_Q), 6
        ).alias("lambda_u"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value binning of order value vs the
# URGENT flag — the credit-scoring feature audit (Siddiqi 2006), with
# the quantile cutpoints from the exact rank-selection descent (no
# sort) and the bin assignment a broadcast-literal CASE.
# ---------------------------------------------------------------------------

_WOE_BINS = 5


def _woe_sql() -> str:
    ranks = ", ".join(
        f"CAST(ceil({k}.0 * n / {_WOE_BINS}) AS BIGINT)"
        for k in range(1, _WOE_BINS)
    )
    cut = lambda k: (  # noqa: E731
        f"(SELECT v FROM ranked WHERE rn = "
        f"CAST(ceil({k}.0 * (SELECT MAX(n) FROM ranked) / {_WOE_BINS}) AS BIGINT))"
    )
    bin_expr = " + ".join(
        f"(CASE WHEN o_totalprice > {cut(k)} THEN 1 ELSE 0 END)"
        for k in range(1, _WOE_BINS)
    )
    return f"""
WITH ranked AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
binned AS (
  SELECT CAST({bin_expr} AS BIGINT) AS bin,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
cells AS (
  SELECT bin,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n_pos) AS DOUBLE) AS p, CAST(SUM(n_neg) AS DOUBLE) AS q
  FROM cells
),
woe AS (
  SELECT bin, n_pos, n_neg,
         round(ln((n_pos / tot.p) / (n_neg / tot.q)), 6) AS woe,
         round((n_pos / tot.p - n_neg / tot.q)
               * round(ln((n_pos / tot.p) / (n_neg / tot.q)), 6), 9) AS iv_term
  FROM cells CROSS JOIN tot
),
iv AS (
  SELECT {dec_double_sql("SUM(CAST(iv_term AS DECIMAL(38, 9)))")}
           AS iv_total
  FROM woe
)
SELECT bin, n_pos, n_neg, woe, round(iv_term, 6) AS iv_term,
       round(iv.iv_total, 6) AS iv_total
FROM woe CROSS JOIN iv
ORDER BY bin
"""


@register("woe_iv_binning", _woe_sql())
def q_woe_iv_binning(spark, sf_dir):
    """Weight of evidence and information value of order total for
    the URGENT flag over {b} exact quantile bins: WOE_b =
    ln((pos_b/P)/(neg_b/Q)), IV = Σ(pos_b/P - neg_b/Q)·WOE_b — counts
    exact, WOE quantized at 1e-6, IV terms on the 1e-9 DECIMAL grid.
    Cutpoints are the values at ranks ceil(k·n/5), resolved by the
    shared rank-selection descent, then applied as literal CASE
    boundaries (the oracle's rank windows state the same cutpoints).

    Scale plan: constant histogram passes for the cutpoints + ONE
    binning scan (map-side CASE) + arithmetic on the 5-row cell
    relation — no sort anywhere."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.select("o_totalprice")
    n = vals.count()
    ranks = sorted({math.ceil(k * n / _WOE_BINS) for k in range(1, _WOE_BINS)})
    sel = exact_rank_select(vals, ["o_totalprice"], ranks)
    cuts = [sel[r][0] for r in ranks]
    bin_col = sum(
        (F.col("o_totalprice") > c).cast("int") for c in cuts
    ).cast("long")
    cells = (
        o.select(
            bin_col.alias("bin"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.sum("y").cast("long").alias("n_pos"),
            F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
        )
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(
        F.sum("n_pos").cast("double").alias("p"),
        F.sum("n_neg").cast("double").alias("q"),
    )
    woe_val = F.round(
        F.log((F.col("n_pos") / F.col("p")) / (F.col("n_neg") / F.col("q"))), 6
    )
    woe = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pos",
        "n_neg",
        woe_val.alias("woe"),
        F.round(
            (F.col("n_pos") / F.col("p") - F.col("n_neg") / F.col("q")) * woe_val,
            9,
        ).alias("iv_term"),
    )
    iv = woe.agg(
        F.sum(F.col("iv_term").cast("decimal(38, 9)")).cast("double").alias("iv_total")
    )
    return (
        woe.crossJoin(F.broadcast(iv))
        .select(
            "bin",
            "n_pos",
            "n_neg",
            "woe",
            F.round(F.col("iv_term"), 6).alias("iv_term"),
            F.round(F.col("iv_total"), 6).alias("iv_total"),
        )
        .orderBy("bin")
    )
