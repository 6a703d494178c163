"""Markov removal-effect channel attribution (Anderl et al. 2016).

Beyond the positional heuristics (`attribution_first_vs_last`): build
a first-order Markov chain over user journeys (start -> channel* ->
conv|null, truncated at the first purchase), estimate transition
probabilities, compute the K-step absorption probability into `conv`
by quantized power iteration, then re-compute it with each channel
removed (its incoming probability mass redirected to `null`).  A
channel's removal effect is the relative conversion-probability drop;
attribution shares normalize the effects.

Cross-engine discipline: every power-iteration group-sum quantizes
the product to the 1e-9 grid and accumulates in DECIMAL (group fan-in
is > 2, so raw double SUM order would differ between engines);
transition probabilities are single IEEE divisions of exact counts.

Scale: the journey pass is two per-user partitioned windows over the
fact scan (no global window); everything after lives on the
|states|^2-row transition relation — at 100 TB the iteration cost is
independent of data size, and the five scenario chains reuse the one
checkpointed transition relation.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.numeric import dec_double_sql, q9_sum, q9_sum_sql
from ..sources.tables import load_table
from . import register

_CHANNELS = ["click", "error", "signup", "view"]  # the channel universe (config)
_K = 16  # power-iteration steps (journeys are far shorter; see docstring)
_NCH = len(_CHANNELS)
# Shapley coalition weights as integers: |S|! * (n-1-|S|)!  for n=4,
# so phi * n! is an exact BIGINT sum and the one division happens last.
_W_INT = {0: 6, 1: 2, 2: 2, 3: 6}
_NFACT = 24  # 4!


_JOURNEY_CTES = """
seq AS MATERIALIZED (
  SELECT user_id, ts, event_id, event_type,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS prior_purch
  FROM events
),
kept AS MATERIALIZED (SELECT * FROM seq WHERE prior_purch = 0)"""

_TRANS_CTES = _JOURNEY_CTES + """,
step AS MATERIALIZED (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  'start') AS src,
         CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS dst,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn_desc,
         event_type
  FROM kept
),
trans AS MATERIALIZED (
  SELECT src, dst, COUNT(*) AS n FROM (
    SELECT src, dst FROM step
    UNION ALL
    SELECT event_type AS src, 'null' AS dst FROM step
    WHERE rn_desc = 1 AND event_type <> 'purchase'
  ) GROUP BY 1, 2
),
probs AS MATERIALIZED (
  SELECT src, dst,
         CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
  FROM trans
),
pm AS MATERIALIZED (
  SELECT src, dst, p FROM probs
  UNION ALL SELECT 'conv', 'conv', 1.0
  UNION ALL SELECT 'null', 'null', 1.0
)"""


def _attribution_sql() -> str:
    parts = [_TRANS_CTES.strip().lstrip()]
    scenarios = [("base", None)] + [(c, c) for c in _CHANNELS]
    for tag, removed in scenarios:
        if removed is None:
            parts.append(f"pm_{tag} AS MATERIALIZED (SELECT src, dst, p FROM pm)")
        else:
            parts.append(
                f"pm_{tag} AS MATERIALIZED (SELECT src, "
                f"CASE WHEN dst = '{removed}' THEN 'null' ELSE dst END AS dst, "
                f"SUM(p) AS p FROM pm WHERE src <> '{removed}' GROUP BY 1, 2)"
            )
        parts.append(
            f"v0_{tag} AS MATERIALIZED (SELECT 'start' AS state, CAST(1.0 AS DOUBLE) AS prob)"
        )
        for k in range(1, _K + 1):
            parts.append(
                f"v{k}_{tag} AS MATERIALIZED (SELECT m.dst AS state, "
                + q9_sum_sql("v.prob * m.p")
                + f" AS prob FROM v{k-1}_{tag} v JOIN pm_{tag} m ON m.src = v.state "
                "GROUP BY 1)"
            )
        parts.append(
            f"pc_{tag} AS MATERIALIZED (SELECT COALESCE((SELECT prob FROM v{_K}_{tag} "
            f"WHERE state = 'conv'), 0.0) AS p)"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS channel, b.p AS p_base, r.p AS p_removed, "
        f"round(1.0 - r.p / b.p, 9) AS re "
        f"FROM pc_base b CROSS JOIN pc_{c} r"
        for c in _CHANNELS
    )
    parts.append(f"res AS MATERIALIZED ({union})")
    parts.append(
        f"tot AS (SELECT {dec_double_sql('SUM(CAST(re AS DECIMAL(38, 9)))')} AS re_sum FROM res)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT channel,
       round(p_base, 6) AS p_conv_base,
       round(p_removed, 6) AS p_conv_removed,
       round(re, 6) AS removal_effect,
       round(re / re_sum, 6) AS attribution_share
FROM res CROSS JOIN tot
"""
    )


@register("markov_attribution_removal", _attribution_sql())
def q_markov_attribution_removal(spark, sf_dir):
    """Removal-effect attribution over the four event channels: K={16}
    quantized power steps of the journey Markov chain per scenario
    (baseline + each channel's incoming mass redirected to null),
    removal effect = relative drop in conversion absorption, shares
    normalized over channels.

    See the module docstring for the journey construction (truncated
    at first purchase, ties broken by event_id) and the 1e-9 DECIMAL
    discipline on every >2-way float sum.

    Latency re-plan (r10): the journey pass — two per-user windows and
    one groupBy over the fact scan — is the only data-sized work and
    stays fully distributed.  The transition relation it reduces to is
    CONFIG-bounded, not data-bounded: ≤(|channels|+3)² rows of exact
    integer counts (the documented ≤k-row reduced-collect pattern, same
    class as the G8 k×k confusion matrix), so the 5-scenario × K-step
    power iteration runs in-process on those counts with the exact
    arithmetic both engines use (repr-shortest HALF_UP quantization to
    the 1e-9 grid, exact Decimal accumulation, one final
    nearest-double conversion — pinned against an independent
    first-principles Python implementation at 1e-6 by
    tests/test_quality_ext.py::test_markov_attribution_matches_python,
    and bit-exact against the DuckDB oracle at sf0.001/sf0.01 by the
    parity gate).  The previous formulation
    ran 80 Spark jobs (5 chains × 16 steps) over the ~30-row relation —
    pure job-scheduler latency that more executors cannot reduce
    (14-16 s at sf0.1; 1.1 s measured after the re-plan, exponent
    unchanged because the distributed journey pass is untouched)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    worder = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = (
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(worder.rowsBetween(Window.unboundedPreceding, -1))
    )
    kept = ev.select(
        "*", F.coalesce(prior, F.lit(0)).alias("prior_purch")
    ).filter(F.col("prior_purch") == 0)
    wdesc = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    step = kept.select(
        F.coalesce(F.lag("event_type").over(worder), F.lit("start")).alias("src"),
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("dst"),
        F.row_number().over(wdesc).alias("rn_desc"),
        "event_type",
    )
    terminals = step.filter(
        (F.col("rn_desc") == 1) & (F.col("event_type") != "purchase")
    ).select(F.col("event_type").alias("src"), F.lit("null").alias("dst"))
    trans = (
        step.select("src", "dst")
        .unionByName(terminals)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Config-bounded reduced collect (≤(|channels|+3)² exact counts):
    # everything below is float-identical to the former Spark
    # formulation — see the docstring and the first-principles pin.
    counts = {(r["src"], r["dst"]): r["n"] for r in trans.collect()}
    src_tot: dict = {}
    for (s, _d), n in counts.items():
        src_tot[s] = src_tot.get(s, 0) + n
    # single IEEE division of exact ints — same as cast/cast division
    pm = {(s, d): n / src_tot[s] for (s, d), n in counts.items()}
    pm[("conv", "conv")] = 1.0
    pm[("null", "null")] = 1.0

    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    _GRID = Decimal("0.000000001")

    def d9(x: float) -> Decimal:
        # Spark's round(double, 9): shortest-repr decimal value,
        # HALF_UP to the 1e-9 grid (java BigDecimal.valueOf semantics).
        # Non-finite inputs (zero-conversion degenerate data: p_base=0
        # makes div() yield ±Inf/NaN) must propagate like the former
        # Spark path's round(double) — quantize on them would raise
        # decimal.InvalidOperation.
        if not math.isfinite(x):
            return Decimal(repr(x))  # quiet Decimal ±Infinity / NaN
        return Decimal(repr(x)).quantize(_GRID, rounding=ROUND_HALF_UP)

    def div(a: float, b: float) -> float:
        # IEEE semantics incl. the zero-denominator cases Spark yields
        if b == 0.0:
            return float("nan") if a == 0.0 else float("inf") * (1 if a > 0 else -1)
        return a / b

    def absorb(mat: dict) -> float:
        vec = {"start": 1.0}
        for _ in range(_K):
            nxt = defaultdict(Decimal)  # exact, order-free accumulation
            for (s, d), p in mat.items():
                if s in vec:
                    nxt[d] += d9(vec[s] * p)
            vec = {d: float(x) for d, x in nxt.items()}  # nearest double
        return vec.get("conv", 0.0)

    p_base = absorb(pm)
    out = []
    for c in _CHANNELS:
        mat: dict = defaultdict(float)
        for (s, d), p in pm.items():
            if s == c:
                continue
            # ≤2 contributions per key → commutative-safe float sum
            mat[(s, "null" if d == c else d)] += p
        p_removed = absorb(dict(mat))
        re = float(d9(1.0 - div(p_removed, p_base)))
        out.append((c, p_base, p_removed, re))
    re_sum = float(sum(d9(re) for _c, _b, _r, re in out))  # exact Decimal sum
    rows = spark.createDataFrame(
        [(c, b, r, re, re_sum) for c, b, r, re in out],
        "channel string, p_base double, p_removed double, re double, re_sum double",
    )
    # final display rounding stays engine-side, identical to the oracle
    return rows.select(
        "channel",
        F.round("p_base", 6).alias("p_conv_base"),
        F.round("p_removed", 6).alias("p_conv_removed"),
        F.round("re", 6).alias("removal_effect"),
        F.round(F.col("re") / F.col("re_sum"), 6).alias("attribution_share"),
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (Shapley 1953; marketing use per
# Zhao, Mahboobi & Bagheri 2018).  Complements the Markov removal
# effect above: per-user coalition = the SET of channels touched
# before the first purchase; the characteristic function
# v(S) = conversions among users whose coalition is a subset of S;
# phi_c = sum over coalitions S not containing c of
# |S|!(n-1-|S|)!/n! * (v(S+c) - v(S)).
#
# Cross-engine discipline: v(S) is an exact BIGINT count, the Shapley
# weights are kept as the integer |S|!*(n-1-|S|)! so phi*n! is an
# exact BIGINT sum — order-free — and the single IEEE division by n!
# (and by the efficiency total) happens once at the end.
# ---------------------------------------------------------------------------


def _shapley_sql() -> str:
    bits = {c: 1 << i for i, c in enumerate(_CHANNELS)}
    mask = " + ".join(
        f"{b} * MAX(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END)"
        for c, b in bits.items()
    )
    subsets = " UNION ALL ".join(f"SELECT {s} AS s" for s in range(1 << _NCH))
    chan = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, {b} AS bit" for c, b in bits.items()
    )
    pc = " + ".join(f"((sv.s >> {i}) & 1)" for i in range(_NCH))
    w = (
        f"CASE ({pc}) WHEN 0 THEN {_W_INT[0]} WHEN 1 THEN {_W_INT[1]} "
        f"WHEN 2 THEN {_W_INT[2]} ELSE {_W_INT[3]} END"
    )
    full = (1 << _NCH) - 1
    return f"""
WITH {_JOURNEY_CTES},
peru AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         {mask} AS mask
  FROM kept GROUP BY 1
),
bymask AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM peru GROUP BY 1
),
subsets AS ({subsets}),
v AS (
  SELECT s.s, COALESCE(CAST(SUM(b.n_conv) AS BIGINT), 0) AS v
  FROM subsets s LEFT JOIN bymask b ON (b.mask & s.s) = b.mask
  GROUP BY 1
),
chan AS ({chan}),
phi AS (
  SELECT c.channel,
         CAST(SUM({w} * (svb.v - sv.v)) AS BIGINT) AS phi_num
  FROM chan c
  JOIN v sv ON (sv.s & c.bit) = 0
  JOIN v svb ON svb.s = (sv.s | c.bit)
  GROUP BY 1
),
tot AS (
  SELECT (SELECT v FROM v WHERE s = {full}) - (SELECT v FROM v WHERE s = 0) AS t
),
touched AS (
  SELECT c.channel,
         CAST(SUM(CASE WHEN (b.mask & c.bit) <> 0 THEN b.n_users ELSE 0 END)
              AS BIGINT) AS users_touched,
         CAST(SUM(CASE WHEN (b.mask & c.bit) <> 0 THEN b.n_conv ELSE 0 END)
              AS BIGINT) AS conv_touched
  FROM chan c CROSS JOIN bymask b GROUP BY 1
)
SELECT p.channel, u.users_touched, u.conv_touched,
       round(CAST(p.phi_num AS DOUBLE) / {_NFACT}.0, 6) AS shapley_conversions,
       round(CAST(p.phi_num AS DOUBLE) / CAST({_NFACT} * NULLIF(t.t, 0) AS DOUBLE), 6)
         AS shapley_share
FROM phi p JOIN touched u ON u.channel = p.channel CROSS JOIN tot t
"""


@register("shapley_channel_attribution", _shapley_sql())
def q_shapley_channel_attribution(spark, sf_dir):
    """Exact Shapley attribution over the four event channels: one
    user-partitioned pass builds each journey's touched-channel
    bitmask (truncated at the first purchase, as in the Markov query
    above), and everything after — v(S) subset sums, integer-weighted
    marginal contributions, the efficiency total — lives on the
    2^n=16-row coalition relation, so at 100 TB the Shapley step costs
    nothing beyond the single fact scan.

    The window's user_id partitioning is reused verbatim by the
    per-user groupBy (no second exchange); all coalition-side joins
    broadcast.  phi * n! is an exact BIGINT, divided once (see the
    module-section comment)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    worder = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = (
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(worder.rowsBetween(Window.unboundedPreceding, -1))
    )
    kept = ev.select(
        "*", F.coalesce(prior, F.lit(0)).alias("prior_purch")
    ).filter(F.col("prior_purch") == 0)
    bits = {c: 1 << i for i, c in enumerate(_CHANNELS)}
    peru = kept.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
        *[
            F.max(F.when(F.col("event_type") == c, 1).otherwise(0)).alias(f"t_{c}")
            for c in _CHANNELS
        ],
    )
    mask_col = None
    for c, b in bits.items():
        term = F.col(f"t_{c}") * F.lit(b)
        mask_col = term if mask_col is None else mask_col + term
    bymask = (
        peru.select("conv", mask_col.alias("mask"))
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
    )
    n_subsets = 1 << _NCH
    subsets = spark.range(n_subsets).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(bymask),
            F.col("mask").bitwiseAND(F.col("s")) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v"))
        .localCheckpoint(eager=True)
    )
    chan = spark.createDataFrame(
        [(c, b) for c, b in bits.items()], ["channel", "bit"]
    )
    sv = v.select(F.col("s").alias("s_no"), F.col("v").alias("v_no"))
    svb = v.select(F.col("s").alias("s_with"), F.col("v").alias("v_with"))
    pc = None
    for i in range(_NCH):
        term = F.shiftright(F.col("s_no"), i).bitwiseAND(F.lit(1))
        pc = term if pc is None else pc + term
    w = (
        F.when(pc == 0, _W_INT[0])
        .when(pc == 1, _W_INT[1])
        .when(pc == 2, _W_INT[2])
        .otherwise(_W_INT[3])
    )
    phi = (
        chan.join(F.broadcast(sv), F.col("s_no").bitwiseAND(F.col("bit")) == 0)
        .join(
            F.broadcast(svb),
            F.col("s_with") == F.col("s_no").bitwiseOR(F.col("bit")),
        )
        .groupBy("channel", "bit")
        .agg(
            F.sum(w * (F.col("v_with") - F.col("v_no"))).cast("long").alias("phi_num")
        )
    )
    full = n_subsets - 1
    tot = (
        v.filter(F.col("s") == full)
        .select(F.col("v").alias("v_full"))
        .crossJoin(v.filter(F.col("s") == 0).select(F.col("v").alias("v_empty")))
        .select((F.col("v_full") - F.col("v_empty")).alias("t"))
    )
    touched = (
        chan.crossJoin(F.broadcast(bymask))
        .groupBy("channel", "bit")
        .agg(
            F.sum(
                F.when(F.col("mask").bitwiseAND(F.col("bit")) != 0, F.col("n_users"))
                .otherwise(0)
            )
            .cast("long")
            .alias("users_touched"),
            F.sum(
                F.when(F.col("mask").bitwiseAND(F.col("bit")) != 0, F.col("n_conv"))
                .otherwise(0)
            )
            .cast("long")
            .alias("conv_touched"),
        )
    )
    return (
        phi.join(F.broadcast(touched.drop("bit")), "channel")
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "users_touched",
            "conv_touched",
            F.round(F.col("phi_num").cast("double") / float(_NFACT), 6).alias(
                "shapley_conversions"
            ),
            F.round(
                F.col("phi_num").cast("double")
                / (F.lit(_NFACT) * F.nullif(F.col("t"), F.lit(0))).cast("double"),
                6,
            ).alias("shapley_share"),
        )
    )


# ---------------------------------------------------------------------------
# Entropy rate of the journey chain: per-state transition entropy and
# its share-weighted contribution — how predictable each point of the
# funnel is (H_s -> 0 means state s has one dominant continuation; the
# share-weighted sum is the chain's entropy rate under the empirical
# state distribution).
# ---------------------------------------------------------------------------

_ENTROPY_SQL = (
    "WITH "
    + _TRANS_CTES.strip().lstrip()
    + """,
np AS (
  SELECT src, n,
         CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS p
  FROM trans
),
per_src AS (
  SELECT src, CAST(SUM(n) AS BIGINT) AS tot,
         """
    + q9_sum_sql("-p * round(log2(p), 6)")
    + """ AS h_bits
  FROM np GROUP BY src
),
tot AS (SELECT CAST(SUM(tot) AS BIGINT) AS t FROM per_src)
SELECT src AS state, per_src.tot AS n_transitions,
       round(CAST(per_src.tot AS DOUBLE) / tot.t, 6) AS share,
       round(h_bits, 6) AS entropy_bits,
       round(CAST(per_src.tot AS DOUBLE) / tot.t * h_bits, 6) AS weighted_bits
FROM per_src CROSS JOIN tot
ORDER BY state
"""
)


@register("markov_entropy_rate", _ENTROPY_SQL)
def q_markov_entropy_rate(spark, sf_dir):
    """Per-state transition entropy of the journey chain (same
    truncated-at-first-purchase construction as
    `markov_attribution_removal`) plus each state's share-weighted
    contribution — the empirical entropy rate decomposition.  Each
    p·log2 p term is quantized (1e-6 log grid, 1e-9 product grid) and
    DECIMAL-summed; shares and weights are single expressions of exact
    counts.

    Scale plan: journeys = two per-user windows over one fact scan;
    everything after runs on the |states|²-row transition relation."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    worder = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(worder.rowsBetween(Window.unboundedPreceding, -1))
    kept = ev.select("*", F.coalesce(prior, F.lit(0)).alias("prior_purch")).filter(
        F.col("prior_purch") == 0
    )
    wdesc = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    step = kept.select(
        F.coalesce(F.lag("event_type").over(worder), F.lit("start")).alias("src"),
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("dst"),
        F.row_number().over(wdesc).alias("rn_desc"),
        "event_type",
    )
    terminals = step.filter(
        (F.col("rn_desc") == 1) & (F.col("event_type") != "purchase")
    ).select(F.col("event_type").alias("src"), F.lit("null").alias("dst"))
    trans = (
        step.select("src", "dst")
        .unionByName(terminals)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    wsrc = Window.partitionBy("src")
    p = F.col("n").cast("double") / F.sum("n").over(wsrc)
    per_src = (
        trans.select("src", "n", (-p * F.round(F.log2(p), 6)).alias("term"))
        .groupBy("src")
        .agg(
            F.sum("n").cast("long").alias("tot"),
            q9_sum(F.col("term")).alias("h_bits"),
        )
    )
    t = per_src.agg(F.sum("tot").cast("long").alias("t"))
    return (
        per_src.crossJoin(F.broadcast(t))
        .select(
            F.col("src").alias("state"),
            F.col("tot").alias("n_transitions"),
            F.round(F.col("tot").cast("double") / F.col("t"), 6).alias("share"),
            F.round(F.col("h_bits"), 6).alias("entropy_bits"),
            F.round(
                F.col("tot").cast("double") / F.col("t") * F.col("h_bits"), 6
            ).alias("weighted_bits"),
        )
        .orderBy("state")
    )
