"""Sampling / split queries.

The hash-based ops get full oracles (the portable md5 hash is computed
identically by DuckDB — ``functions/hashing.py``); Spark's seeded
Bernoulli ``sampleBy``/``randomSplit`` are engine-specific by design and
are registered rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..functions.hashing import hash_bucket
from ..operators.sampling import (
    add_row_id,
    anti_join_split,
    hash_sample,
    stratified_hash_sample,
    stratified_sample,
)
from ..functions.hashing import hash_bucket_sql, portable_hash64_sql
from . import register

_H_ORDERKEY = portable_hash64_sql("o_orderkey", seed="s0")


@register(
    "hash_sample_orders",
    f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE ({_H_ORDERKEY} % 1000000) < 100000
    """,
)
def q_hash_sample_orders(spark, sf_dir):
    """Deterministic ~10% sample — reproducible on any engine/cluster,
    replacing unseeded randomness (SURVEY.md §4.2)."""
    o = load_table(spark, sf_dir, "orders")
    return hash_sample(o, "o_orderkey", 0.1, seed="s0").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "anti_join_split_orders",
    f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey NOT IN (
      SELECT o_orderkey FROM orders WHERE ({_H_ORDERKEY} % 1000000) < 100000
    )
    """,
)
def q_anti_join_split_orders(spark, sf_dir):
    """SURVEY.md §2.4 J1: train = all − sample via left_anti join — the
    scalable replacement for the reference's collect + NOT-IN
    (``modelling.py:91-93``).  (The oracle uses NOT IN because DuckDB
    plans it as a hash anti-join anyway — the *engine* never does.)"""
    o = load_table(spark, sf_dir, "orders")
    sample = hash_sample(o, "o_orderkey", 0.1, seed="s0")
    return anti_join_split(o, sample, "o_orderkey").select("o_orderkey", "o_totalprice")


_H_EVENT = portable_hash64_sql("event_id", seed="strat")


@register(
    "stratified_hash_sample_events",
    f"""
    SELECT event_id, event_type, user_id
    FROM events
    WHERE ({_H_EVENT} % 1000000) <
      CASE event_type
        WHEN 'click' THEN 100000
        WHEN 'view' THEN 200000
        WHEN 'purchase' THEN 500000
        ELSE 0 END
    """,
)
def q_stratified_hash_sample_events(spark, sf_dir):
    """Deterministic per-stratum sampling — the reproducible analog of
    the reference's ``sampleBy`` (``modelling.py:86-89``)."""
    ev = load_table(spark, sf_dir, "events")
    return stratified_hash_sample(
        ev,
        "event_type",
        "event_id",
        {"click": 0.1, "view": 0.2, "purchase": 0.5},
        seed="strat",
    ).select("event_id", "event_type", "user_id")


@register(
    "add_row_id",
    f"""
    SELECT l_orderkey, l_linenumber,
           {portable_hash64_sql("concat(CAST(l_orderkey AS VARCHAR), chr(31), CAST(l_linenumber AS VARCHAR))")} AS row_id
    FROM lineitem
    """,
)
def q_add_row_id(spark, sf_dir):
    """SURVEY.md §2.5 W1 fixed: deterministic distributed row ids from
    the primary key — no single-task global window, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return add_row_id(li, key_cols=["l_orderkey", "l_linenumber"])


@register("stratified_sample_events", None)  # Bernoulli membership is Spark-specific
def q_stratified_sample_events(spark, sf_dir):
    """SURVEY.md §2.6 T1 — Spark's own seeded sampleBy.

    This is the ONE intentional engine-internal source of oracle
    nondeterminism left in the registry: sampleBy membership comes from
    Spark's XORShift Bernoulli draw seeded per partition, so no
    cross-engine SQL can reproduce it — hence rows-only here, with
    seeded-rerun determinism pinned by tests/test_sampling.py.  The
    fully oracle-checked twin is `stratified_hash_sample_events`
    (portable-hash membership, identical dataflow) — the form to use
    when cross-run/cross-engine reproducibility matters."""
    ev = load_table(spark, sf_dir, "events")
    fractions = {"click": 0.1, "view": 0.2, "purchase": 0.5}
    out = stratified_sample(ev, "event_type", fractions, seed=0).select(
        "event_id", "event_type"
    ).localCheckpoint(eager=True)
    # self-asserting: each stratum's realized fraction must sit within
    # 6 binomial standard errors of its target (a broken sampler —
    # wrong stratum keys, ignored fractions — lands far outside).
    # Two 3-row aggregates, bounded.
    tot = {r["event_type"]: r["n"] for r in
           ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["event_type"]: r["n"] for r in
           out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    for etype, frac in fractions.items():
        n = tot.get(etype, 0)
        if n == 0:
            continue
        se = (frac * (1 - frac) / n) ** 0.5
        realized = got.get(etype, 0) / n
        if abs(realized - frac) > 6 * se + 1e-9:
            raise AssertionError(
                f"stratified sample fraction regression for {etype}: "
                f"{realized:.4f} vs target {frac} (n={n})"
            )
    return out


@register("random_split_invariants", None)  # split membership is Spark-specific
def q_random_split_invariants(spark, sf_dir):
    """SURVEY.md §2.6 T2: seeded ``randomSplit`` (the reference calls it
    unseeded, ``ISAA_Review_3.ipynb:900``), certified through its
    INVARIANTS as distributed aggregates: per-half row counts, an
    ``overlap`` row that must be 0 (halves disjoint), and a ``lost`` row
    that must be 0 (halves cover the input).  No collect — the checks
    themselves are joins/aggregations."""
    from ..operators.sampling import random_split

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    train, test = random_split(o, [0.8, 0.2], seed=1234)
    n_total = o.agg(F.count(F.lit(1)).alias("n"))
    n_train = train.agg(F.count(F.lit(1)).alias("n"))
    n_test = test.agg(F.count(F.lit(1)).alias("n"))
    overlap = (
        train.join(test, "o_orderkey").agg(F.count(F.lit(1)).alias("n"))
    )
    lost = (
        n_total.crossJoin(n_train.withColumnRenamed("n", "n_a"))
        .crossJoin(n_test.withColumnRenamed("n", "n_b"))
        .select((F.col("n") - F.col("n_a") - F.col("n_b")).alias("n"))
    )
    parts = [
        n_train.select(F.lit("train").alias("part"), "n"),
        n_test.select(F.lit("test").alias("part"), "n"),
        overlap.select(F.lit("overlap").alias("part"), "n"),
        lost.select(F.lit("lost").alias("part"), "n"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # self-asserting (the rows-only check records only shape, so a
    # broken split must RAISE, not render): halves disjoint + covering.
    # Checkpoint first (single execution), then audit the 4 rows.
    out = out.localCheckpoint(eager=True)
    got = {r["part"]: r["n"] for r in out.collect()}
    if got["overlap"] != 0 or got["lost"] != 0:
        raise AssertionError(f"randomSplit invariant regression: {got}")
    return out


# ---------------------------------------------------------------------------
# Deterministic k-fold cross-validation assignments.
# ---------------------------------------------------------------------------

_CV_K = 5

_KFOLD_SQL = f"""
SELECT {hash_bucket_sql('event_id', _CV_K, seed='cv')} AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1
"""


@register("kfold_cv_assignments", _KFOLD_SQL)
def q_kfold_cv_assignments(spark, sf_dir):
    """Deterministic {k}-fold cross-validation assignment profile: each
    record's fold is the portable hash of its id mod k — folds are
    disjoint and exhaustive BY CONSTRUCTION (a function of the key),
    stable as the dataset grows (appending rows never reassigns old
    ones, unlike randomSplit re-draws), and any fold's train set is
    recomputable anywhere as `fold <> i` with no materialized split.

    The fold-level profile (sizes, distinct users) is what a CV
    harness checks before fitting; `hash_split_assignments` is the
    train/val/test sibling with weighted bucket ranges.

    Scale: one map-side hash per row + a k-row aggregate — assignment
    itself never shuffles; fold extraction is a pushed-down filter."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(hash_bucket(F.col("event_id"), _CV_K, seed="cv").alias("fold"), "user_id")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-k deterministic samples: bottom-k by portable hash (uniform
# without replacement) and Efraimidis-Spirakis (weighted without
# replacement) — the fixed-size complements of the Bernoulli-style
# hash_sample / weighted_doc_sample (whose output sizes are random
# variables).  Both are TakeOrderedAndProject plans: map-side key
# computation, per-partition top-k, k-row driver merge — no full sort,
# no shuffle of the corpus.
# ---------------------------------------------------------------------------

_BK_K = 200

_BOTTOMK_SQL = f"""
SELECT doc_id, lang, n_chars
FROM documents
ORDER BY {portable_hash64_sql('doc_id', seed='bk:')} ASC, doc_id ASC
LIMIT {_BK_K}
"""


@register("bottomk_uniform_sample", _BOTTOMK_SQL)
def q_bottomk_uniform_sample(spark, sf_dir):
    from ..functions.hashing import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            portable_hash64("doc_id", seed="bk:").alias("hk"),
        )
        .orderBy(F.asc("hk"), F.asc("doc_id"))
        .limit(_BK_K)
        .select("doc_id", "lang", "n_chars")
    )

q_bottomk_uniform_sample.__doc__ = f"""Exactly-{_BK_K} uniform sample without replacement: keep the
    documents with the {_BK_K} smallest portable-hash values — the
    classic bottom-k sketch, which is simultaneously a uniform sample
    AND mergeable (the bottom-k of a union is computable from the
    per-shard bottom-k's, which is precisely what the distributed
    plan does).  Membership is a pure function of doc_id, so the
    sample is stable under appends of other rows, repartitioning, and
    engine choice.

    Scale plan: TakeOrderedAndProject — each partition keeps its local
    {_BK_K} smallest keys, the driver merges k-row heaps; the corpus is
    never sorted or shuffled."""


_ES_K = 150

# Efraimidis-Spirakis key: ln(u) / w with u = (h + 0.5) / 2^60 in (0,1)
# and w = n_chars — top-k by key ≡ weighted sample without replacement.
# The log is quantized at 1e-9 BEFORE the divide (the engine's standard
# transcendental-parity discipline), so key comparisons are identical
# across engines.
_ES_KEY_SQL = (
    f"round(ln(({portable_hash64_sql('doc_id', seed='es:')} + 0.5) / {16**15}), 9)"
    " / n_chars"
)

_ES_SQL = f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE n_chars > 0
ORDER BY {_ES_KEY_SQL} DESC, doc_id ASC
LIMIT {_ES_K}
"""


@register("weighted_topk_sample_es", _ES_SQL)
def q_weighted_topk_sample_es(spark, sf_dir):
    from ..functions.hashing import HASH_SPACE, portable_hash64

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (portable_hash64("doc_id", seed="es:") + F.lit(0.5)) / F.lit(
        float(HASH_SPACE)
    )
    key = F.round(F.log(u), 9) / F.col("n_chars")
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("k"))
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(_ES_K)
        .select("doc_id", "source", "n_chars")
    )

q_weighted_topk_sample_es.__doc__ = f"""Exactly-{_ES_K} WEIGHTED sample without replacement by the
    Efraimidis-Spirakis A-Res scheme: each document draws
    u = hash-uniform(0,1) and is ranked by u^(1/w) — equivalently
    ln(u)/w, the form used here (monotone, and exp() never runs) —
    with w = n_chars; the top {_ES_K} keys ARE the weighted sample.
    Long documents win proportionally more often, the fixed-size
    complement of `weighted_doc_sample`'s Bernoulli thinning; this is
    the distribution DoReMi-style mixture sampling needs when the
    output must be exactly k docs.

    Scale plan: map-side key (one md5 + one quantized log per row),
    then TakeOrderedAndProject — per-partition top-k, k-row merge;
    mergeable across shards exactly like the bottom-k sketch."""


# ---------------------------------------------------------------------------
# Group-aware split: assign by USER hash so every event of a user lands
# in one side — the leakage-free split supervised models need when
# rows within a group are correlated (the row-level split lets the
# model memorize the user).  The leaked-user count is computed IN the
# output and must be zero by construction.
# ---------------------------------------------------------------------------

_GS_TRAIN_PCT = 80

_GROUPED_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT user_id,
         CASE WHEN ({hash_bucket_sql('user_id', 100, seed='gsplit')}) < {_GS_TRAIN_PCT}
              THEN 'train' ELSE 'test' END AS part
  FROM events
),
parts AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM tagged GROUP BY part
),
leaked AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT user_id FROM tagged GROUP BY user_id
    HAVING COUNT(DISTINCT part) > 1
  )
)
SELECT p.part, p.n_rows, p.n_users, l.n AS leaked_users
FROM parts p CROSS JOIN leaked l
"""


@register("grouped_split_no_leakage", _GROUPED_SPLIT_SQL)
def q_grouped_split_no_leakage(spark, sf_dir):
    """Group-aware (user-level) train/test split profile: membership is
    a pure function of user_id's portable hash, so ALL of a user's
    events land on one side — and the output carries the proof
    (leaked_users, the count of users seen in both parts, necessarily 0).
    Row-level splits leak identity features across the boundary; this
    is the split discipline for any per-user model, and since
    membership is a map-side filter, train/test extraction pushes down
    to the scan exactly like `hash_sample_orders`.

    Scale plan: one map-side hash + two aggregates over (part) and
    (user); no row ever carries more than its tag."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "user_id",
        F.when(
            hash_bucket(F.col("user_id"), 100, seed="gsplit") < _GS_TRAIN_PCT,
            "train",
        )
        .otherwise("test")
        .alias("part"),
    )
    parts = tagged.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    leaked = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("part").alias("np"))
        .filter(F.col("np") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaked_users"))
    )
    return parts.crossJoin(F.broadcast(leaked)).select(
        "part",
        F.col("n_rows").cast("long").alias("n_rows"),
        "n_users",
        "leaked_users",
    )
