"""First-principles checks for the second causal batch (rdd_cutoff_
effect, uplift_tlearner_segments, cem_matching_att): each statistic is
recomputed from the raw parquet in plain Python/numpy, independent of
both engines, so a shared engine/oracle algorithmic bug cannot pass."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from network_ids_using_pyspark_spark.queries import REGISTRY
from network_ids_using_pyspark_spark.queries.causal_ext import (
    _RDD_BW,
    _RDD_CUT,
    _ols3,
)
from network_ids_using_pyspark_spark.queries.stats_regression import (
    _OLS_B0,
    _OLS_B1,
    _OLS_B2,
)

from .conftest import SF_DIR


def test_ols3_template_matches_stats_ext():
    assert _ols3("") == (_OLS_B0, _OLS_B1, _OLS_B2)


def _phash(x, seed: str = "") -> int:
    return int(hashlib.md5((seed + str(x)).encode()).hexdigest()[:15], 16)


def _orders():
    t = pq.read_table(
        f"{SF_DIR}/orders.parquet",
        columns=["o_orderdate", "o_orderstatus", "o_orderpriority", "o_totalprice"],
    )
    x1 = [d.month for d in t.column("o_orderdate").to_pylist()]
    x2 = [1 if s == "F" else 0 for s in t.column("o_orderstatus").to_pylist()]
    tr = [1 if p == "1-URGENT" else 0 for p in t.column("o_orderpriority").to_pylist()]
    y = [float(v) for v in t.column("o_totalprice").to_pylist()]
    return x1, x2, tr, y


def test_rdd_cutoff_effect_matches_python(spark):
    _, _, tr, y = _orders()
    sides = {"l": [], "r": []}
    for t, v in zip(tr, y):
        u = (v - _RDD_CUT) / _RDD_BW
        if abs(u) <= 1.0:
            sides["l" if u < 0 else "r"].append((u, t))

    def fit(pts):
        n = float(len(pts))
        s1 = sum(u for u, _ in pts)
        s11 = sum(u * u for u, _ in pts)
        sy = float(sum(t for _, t in pts))
        s1y = sum(u * t for u, t in pts)
        det = n * s11 - s1 * s1
        return (sy * s11 - s1y * s1) / det, (n * s1y - s1 * sy) / det

    b0l, b1l = fit(sides["l"])
    b0r, b1r = fit(sides["r"])
    row = REGISTRY["rdd_cutoff_effect"][0](spark, SF_DIR).collect()[0]
    assert row["n_left"] == len(sides["l"])
    assert row["n_right"] == len(sides["r"])
    assert abs(row["y_left_at_cut"] - b0l) < 1e-5
    assert abs(row["y_right_at_cut"] - b0r) < 1e-5
    assert abs(row["slope_change"] - (b1r - b1l)) < 1e-5
    assert abs(row["rdd_effect"] - (b0r - b0l)) < 1e-5


def _np_ols(x1, x2, y):
    X = np.column_stack([np.ones(len(x1)), x1, x2])
    return np.linalg.solve(X.T @ X, X.T @ np.asarray(y))


def test_uplift_tlearner_segments_matches_python(spark):
    x1, x2, tr, y = _orders()
    arm = lambda a: [i for i, t in enumerate(tr) if t == a]  # noqa: E731
    it, ic = arm(1), arm(0)
    bt = _np_ols([x1[i] for i in it], [x2[i] for i in it], [y[i] for i in it])
    bc = _np_ols([x1[i] for i in ic], [x2[i] for i in ic], [y[i] for i in ic])
    cells = defaultdict(lambda: [0, 0, 0.0, 0.0])  # n_t, n_c, sy_t, sy_c
    for a, b, t, v in zip(x1, x2, tr, y):
        c = cells[(a, b)]
        if t:
            c[0] += 1
            c[2] += v
        else:
            c[1] += 1
            c[3] += v
    rows = REGISTRY["uplift_tlearner_segments"][0](spark, SF_DIR).collect()
    want = {k: c for k, c in cells.items() if c[0] > 0 and c[1] > 0}
    assert {(r["month"], r["finished"]) for r in rows} == set(want)
    for r in rows:
        n_t, n_c, sy_t, sy_c = want[(r["month"], r["finished"])]
        assert (r["n_t"], r["n_c"]) == (n_t, n_c)
        pred = (bt[0] - bc[0]) + (bt[1] - bc[1]) * r["month"] + (bt[2] - bc[2]) * r[
            "finished"
        ]
        assert abs(r["uplift_pred"] - pred) < 1e-3
        assert abs(r["uplift_actual"] - (sy_t / n_t - sy_c / n_c)) < 1e-4


def test_cem_matching_att_matches_python(spark):
    x1, x2, tr, y = _orders()
    strata = defaultdict(lambda: [0, 0, 0.0, 0.0])
    for a, b, t, v in zip(x1, x2, tr, y):
        c = strata[(a, b)]
        if t:
            c[0] += 1
            c[2] += v
        else:
            c[1] += 1
            c[3] += v
    matched = {k: c for k, c in strata.items() if c[0] > 0 and c[1] > 0}
    m_t = sum(c[0] for c in matched.values())
    m_c = sum(c[1] for c in matched.values())
    sum_y_t = sum(c[2] for c in matched.values())
    sum_wy_c = sum((c[0] / c[1]) * c[3] for c in matched.values())
    row = REGISTRY["cem_matching_att"][0](spark, SF_DIR).collect()[0]
    assert row["n_strata_total"] == len(strata)
    assert row["n_strata_matched"] == len(matched)
    assert row["n_treated_matched"] == m_t
    assert row["n_control_matched"] == m_c
    assert abs(row["att_cem"] - (sum_y_t / m_t - sum_wy_c / m_t)) < 1e-4


def test_gsp_subsequence_support_matches_python(spark):
    t = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["user_id", "ts", "event_id", "event_type"]
    )
    rows = sorted(
        zip(
            t.column("user_id").to_pylist(),
            t.column("ts").to_pylist(),
            t.column("event_id").to_pylist(),
            t.column("event_type").to_pylist(),
        ),
        key=lambda r: (r[0], r[1], r[2]),
    )
    journeys = defaultdict(list)
    for u, _, _, et in rows:
        journeys[u].append(et)
    types = sorted({et for _, _, _, et in rows})

    def contains(seq, pat):
        i = 0
        for x in seq:
            if i < 3 and x == pat[i]:
                i += 1
        return i == 3

    support = defaultdict(int)
    for seq in journeys.values():
        for a in types:
            for b in types:
                for c in types:
                    if contains(seq, (a, b, c)):
                        support[(a, b, c)] += 1
    want = sorted(support.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        ((r["t1"], r["t2"], r["t3"]), r["support"])
        for r in REGISTRY["gsp_subsequence_support"][0](spark, SF_DIR).collect()
    ]
    assert got == want


def test_fdr_bh_metric_screen_matches_python(spark):
    import math

    t = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["event_type", "event_id", "value"]
    )
    sides = defaultdict(lambda: ([], []))
    for et, eid, v in zip(
        t.column("event_type").to_pylist(),
        t.column("event_id").to_pylist(),
        t.column("value").to_pylist(),
    ):
        sides[et][eid % 2].append(float(v))
    stats = {}
    for et, (a, b) in sides.items():
        ma, mb = sum(a) / len(a), sum(b) / len(b)
        va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
        vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
        z = (ma - mb) / math.sqrt(va / len(a) + vb / len(b))
        p = math.erfc(abs(z) / math.sqrt(2.0))
        stats[et] = (len(a), len(b), ma - mb, z, p)
    ranked = sorted(stats.items(), key=lambda kv: (kv[1][4], kv[0]))
    m = len(ranked)
    k_max = max(
        (k for k, (_, s) in enumerate(ranked, 1) if s[4] <= k * 0.10 / m), default=0
    )
    rows = REGISTRY["fdr_bh_metric_screen"][0](spark, SF_DIR).collect()
    assert [r["event_type"] for r in rows] == [et for et, _ in ranked]
    for rank, (r, (et, (na, nb, md, z, p))) in enumerate(zip(rows, ranked), 1):
        assert (r["n_a"], r["n_b"], r["bh_rank"]) == (na, nb, rank)
        assert abs(r["mean_diff"] - md) < 1e-5
        assert abs(r["z_stat"] - z) < 1e-5
        assert abs(r["p_value"] - p) < 1e-6  # A&S 7.1.26 poly vs libm erfc
        assert r["rejected"] == (1 if rank <= k_max else 0)


def test_cox_ph_exact_matches_python(spark):
    import math

    t = pq.read_table(
        f"{SF_DIR}/orders.parquet",
        columns=["o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"],
    )
    rows = sorted(
        zip(
            t.column("o_custkey").to_pylist(),
            [d.date() for d in t.column("o_orderdate").to_pylist()],
            t.column("o_orderkey").to_pylist(),
            t.column("o_orderpriority").to_pylist(),
        )
    )
    maxd = max(r[1] for r in rows)
    obs = []
    for i, (ck, d, _, pr) in enumerate(rows):
        nxt = rows[i + 1] if i + 1 < len(rows) else None
        x = 1 if pr == "1-URGENT" else 0
        if nxt and nxt[0] == ck:
            obs.append(((nxt[1] - d).days, 1, x))
        else:
            obs.append(((maxd - d).days, 0, x))
    per_t = defaultdict(lambda: [0.0, 0.0, 0, 0])  # d, s1, m0, m1
    for tt, d, x in obs:
        c = per_t[tt]
        c[0] += d
        c[1] += d * x
        c[2] += 1 - x
        c[3] += x
    tot0 = sum(c[2] for c in per_t.values())
    tot1 = sum(c[3] for c in per_t.values())
    ev = []
    run0 = run1 = 0
    for tt in sorted(per_t):
        d, s1, m0, m1 = per_t[tt]
        if d > 0:
            ev.append((d, s1, float(tot0 - run0), float(tot1 - run1)))
        run0 += m0
        run1 += m1
    b = 0.0
    for _ in range(3):
        eb = math.exp(b)
        su = sum(s1 - d * (n1 * eb) / (n0 + n1 * eb) for d, s1, n0, n1 in ev)
        si = sum(
            d * (n0 * n1 * eb) / (n0 + n1 * eb) ** 2 for d, s1, n0, n1 in ev
        )
        b += su / si
    eb = math.exp(b)
    si = sum(d * (n0 * n1 * eb) / (n0 + n1 * eb) ** 2 for d, s1, n0, n1 in ev)
    row = REGISTRY["cox_ph_exact"][0](spark, SF_DIR).collect()[0]
    assert row["n_obs"] == len(obs)
    assert row["n_events"] == sum(d for _, d, _ in obs)
    assert abs(row["beta_urgent"] - b) < 1e-5
    assert abs(row["hazard_ratio"] - math.exp(b)) < 1e-5
    assert abs(row["se_beta"] - 1.0 / math.sqrt(si)) < 1e-5


def test_mllib_prefixspan_matches_python(spark):
    import math

    t = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["user_id", "ts", "event_id", "event_type"]
    )
    rows = sorted(
        zip(
            t.column("user_id").to_pylist(),
            t.column("ts").to_pylist(),
            t.column("event_id").to_pylist(),
            t.column("event_type").to_pylist(),
        ),
        key=lambda r: (r[0], r[1], r[2]),
    )
    journeys = defaultdict(list)
    for u, _, _, et in rows:
        journeys[u].append(et)
    types = sorted({et for _, _, _, et in rows})

    def contains(seq, pat):
        i = 0
        for x in seq:
            if i < len(pat) and x == pat[i]:
                i += 1
        return i == len(pat)

    pats = (
        [(a,) for a in types]
        + [(a, b) for a in types for b in types]
        + [(a, b, c) for a in types for b in types for c in types]
    )
    support = {
        p: sum(1 for seq in journeys.values() if contains(seq, p)) for p in pats
    }
    min_count = math.ceil(0.05 * len(journeys))
    want = sorted(
        ((">".join(p), len(p), s) for p, s in support.items() if s >= min_count),
        key=lambda r: (-r[2], r[0]),
    )
    got = [
        (r["pattern"], r["length"], r["support"])
        for r in REGISTRY["mllib_prefixspan_patterns"][0](spark, SF_DIR).collect()
    ]
    assert got == want


def test_chow_break_test_matches_python(spark):
    from datetime import date

    from network_ids_using_pyspark_spark.queries.causal_ext import (
        _CHOW_BREAK,
        _CHOW_EPOCH,
    )

    t = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderdate", "o_totalprice"]
    )
    daily = defaultdict(float)
    for d, v in zip(
        [x.date() for x in t.column("o_orderdate").to_pylist()],
        t.column("o_totalprice").to_pylist(),
    ):
        daily[d] += float(v)
    epoch = date.fromisoformat(_CHOW_EPOCH)
    brk = date.fromisoformat(_CHOW_BREAK)

    def moments(items):
        n = float(len(items))
        s1 = sum(t for t, _ in items)
        s11 = sum(t * t for t, _ in items)
        sy = sum(r for _, r in items)
        s1y = sum(t * r for t, r in items)
        syy = sum(r * r for _, r in items)
        return n, s1, s11, sy, s1y, syy

    def sse(m):
        n, s1, s11, sy, s1y, syy = m
        det = n * s11 - s1 * s1
        b0 = (sy * s11 - s1y * s1) / det
        b1 = (n * s1y - s1 * sy) / det
        return syy - (b0 * sy + b1 * s1y), b1

    pre = [((d - epoch).days, r) for d, r in daily.items() if d < brk]
    post = [((d - epoch).days, r) for d, r in daily.items() if d >= brk]
    ma, mb = moments(pre), moments(post)
    pooled = tuple(a + b for a, b in zip(ma, mb))
    s_a, b1_a = sse(ma)
    s_b, b1_b = sse(mb)
    s_p, _ = sse(pooled)
    n = len(pre) + len(post)
    f = ((s_p - (s_a + s_b)) / 2.0) / ((s_a + s_b) / (n - 4.0))
    row = REGISTRY["chow_break_test"][0](spark, SF_DIR).collect()[0]
    assert (row["n_pre"], row["n_post"]) == (len(pre), len(post))
    assert abs(row["slope_pre"] - b1_a) < 1e-4
    assert abs(row["slope_post"] - b1_b) < 1e-4
    assert abs(row["sse_pooled_1e9"] - s_p / 1e9) < 1e-3
    assert abs(row["sse_split_1e9"] - (s_a + s_b) / 1e9) < 1e-3
    assert abs(row["f_stat"] - f) < 1e-4


def test_preference_pair_mining_matches_python(spark):
    import re

    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["lang", "source", "doc_id", "text"]
    )
    buckets = defaultdict(list)
    for lng, src, did, txt in zip(
        t.column("lang").to_pylist(),
        t.column("source").to_pylist(),
        t.column("doc_id").to_pylist(),
        t.column("text").to_pylist(),
    ):
        if len(txt) == 0:
            continue
        score = round(len(re.sub(r"[^0-9a-zA-Z]", "", txt)) / len(txt), 9)
        buckets[(lng, src)].append((score, did))
    want = {}
    for k, docs in buckets.items():
        if len(docs) < 2:
            continue
        best, worst = max(docs), min(docs)
        if best[0] - worst[0] > 0:
            want[k] = (len(docs), best, worst)
    rows = REGISTRY["preference_pair_mining"][0](spark, SF_DIR).collect()
    assert {(r["lang"], r["source"]) for r in rows} == set(want)
    for r in rows:
        n, best, worst = want[(r["lang"], r["source"])]
        assert r["n_docs"] == n
        assert (r["chosen_doc_id"], r["rejected_doc_id"]) == (best[1], worst[1])
        assert abs(r["margin"] - (best[0] - worst[0])) < 1e-6


def test_mahalanobis_outlier_topk_matches_python(spark):
    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    )
    ok = t.column("l_orderkey").to_pylist()
    ln = t.column("l_linenumber").to_pylist()
    xs = [float(v) for v in t.column("l_quantity").to_pylist()]
    ys = [float(v) for v in t.column("l_extendedprice").to_pylist()]
    n = float(len(xs))
    mx, my = sum(xs) / n, sum(ys) / n
    cxx = sum((x - mx) ** 2 for x in xs) / (n - 1)
    cyy = sum((y - my) ** 2 for y in ys) / (n - 1)
    cxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / (n - 1)
    det = cxx * cyy - cxy * cxy
    d2 = [
        (cyy * (x - mx) ** 2 - 2 * cxy * (x - mx) * (y - my) + cxx * (y - my) ** 2)
        / det
        for x, y in zip(xs, ys)
    ]
    want = sorted(zip(d2, ok, ln), key=lambda r: (-r[0], r[1], r[2]))[:20]
    rows = REGISTRY["mahalanobis_outlier_topk"][0](spark, SF_DIR).collect()
    assert [(r["l_orderkey"], r["l_linenumber"]) for r in rows] == [
        (o, li) for _, o, li in want
    ]
    for r, (d, _, _) in zip(rows, want):
        assert abs(r["mahalanobis_d2"] - d) < 1e-4


def test_rake_keywords_match_python(spark):
    import re

    stop = {"the", "a", "and", "of", "to", "in"}
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
    occurrences = []  # list of phrase tuples
    for txt in t.column("text").to_pylist():
        words = re.split(r"[^0-9a-z]+", txt.strip().lower())
        cur = []
        for w in words + [""]:
            if w == "" or w in stop:
                if cur:
                    occurrences.append(tuple(cur))
                cur = []
            else:
                cur.append(w)
    freq = defaultdict(int)
    deg = defaultdict(int)
    for ph in occurrences:
        for w in ph:
            freq[w] += 1
            deg[w] += len(ph)
    wscore = {w: round(deg[w] / freq[w], 9) for w in freq}
    pscore = defaultdict(lambda: [0, 0.0])
    for ph in occurrences:
        s = sum(wscore[w] for w in ph)
        e = pscore[" ".join(ph)]
        e[0] += 1
        e[1] = round(s, 6)
    want = sorted(
        ((p, c[1], c[0]) for p, c in pscore.items()), key=lambda r: (-r[1], r[0])
    )[:20]
    rows = REGISTRY["rake_keyword_extraction"][0](spark, SF_DIR).collect()
    got = [(r["phrase"], r["rake_score"], r["n_occurrences"]) for r in rows]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-5 and g[2] == w[2]
        assert g[0].count(" ") + 1 == len(g[0].split())


def test_degree_assortativity_matches_python(spark):
    import math

    o = pq.read_table(f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    )
    cust = dict(zip(o.column("o_orderkey").to_pylist(), o.column("o_custkey").to_pylist()))
    e0 = {
        (f"c{cust[ok]}", f"s{sk}")
        for ok, sk in zip(
            li.column("l_orderkey").to_pylist(), li.column("l_suppkey").to_pylist()
        )
        if ok in cust
    }
    edges = list(e0) + [(b, a) for a, b in e0]
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    n = float(len(edges))
    dx = [float(deg[s]) for s, _ in edges]
    dy = [float(deg[d]) for _, d in edges]
    sx, sy = sum(dx), sum(dy)
    sxx = sum(v * v for v in dx)
    syy = sum(v * v for v in dy)
    sxy = sum(a * b for a, b in zip(dx, dy))
    r = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    row = REGISTRY["degree_assortativity_trade_graph"][0](spark, SF_DIR).collect()[0]
    assert row["n_nodes"] == len(deg)
    assert row["n_edges"] == len(e0)
    assert abs(row["assortativity"] - r) < 1e-6


def test_loo_source_ablation_matches_python(spark):
    import re

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["source", "text"])
    per = defaultdict(lambda: [0, 0, 0.0])  # docs, toks, q
    for src, txt in zip(t.column("source").to_pylist(), t.column("text").to_pylist()):
        if len(txt) == 0:
            continue
        c = per[src]
        c[0] += 1
        c[1] += len(re.split(r"\s+", txt.strip()))
        c[2] += round(len(re.sub(r"[^0-9a-zA-Z]", "", txt)) / len(txt), 9)
    t_docs = sum(c[0] for c in per.values())
    t_toks = sum(c[1] for c in per.values())
    t_q = sum(c[2] for c in per.values())
    rows = REGISTRY["loo_source_ablation"][0](spark, SF_DIR).collect()
    assert [r["source"] for r in rows] == sorted(per)
    for r in rows:
        nd, nt, sq = per[r["source"]]
        assert r["n_docs"] == nd
        assert abs(r["token_share"] - nt / t_toks) < 1e-6
        assert abs(r["mean_quality_full"] - t_q / t_docs) < 1e-6
        without = (t_q - sq) / (t_docs - nd)
        assert abs(r["mean_quality_without"] - without) < 1e-6
        assert abs(r["quality_delta"] - (without - t_q / t_docs)) < 1e-6


def test_tail_dependence_matches_python(spark):
    import math

    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_quantity", "l_extendedprice"]
    )
    xs = [float(v) for v in t.column("l_quantity").to_pylist()]
    ys = [float(v) for v in t.column("l_extendedprice").to_pylist()]
    n = len(xs)
    rank = math.ceil(0.95 * n)
    qx = sorted(xs)[rank - 1]
    qy = sorted(ys)[rank - 1]
    nx = sum(1 for v in xs if v > qx)
    ny = sum(1 for v in ys if v > qy)
    nxy = sum(1 for a, b in zip(xs, ys) if a > qx and b > qy)
    row = REGISTRY["tail_dependence_qty_price"][0](spark, SF_DIR).collect()[0]
    assert (row["n"], row["n_x_tail"], row["n_y_tail"], row["n_joint_tail"]) == (
        n,
        nx,
        ny,
        nxy,
    )
    assert abs(row["cut_quantity"] - qx) < 1e-6
    assert abs(row["cut_extendedprice"] - qy) < 1e-6
    assert abs(row["p_y_tail_given_x"] - nxy / nx) < 1e-6
    assert abs(row["lambda_u"] - (nxy / n) / 0.05) < 1e-6


def test_lang_id_eval_metrics_matches_python(spark):
    import re

    markers = {"de": ["der", "und"], "en": ["the", "a"], "es": ["el", "la"]}
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["lang", "text"])
    n_actual = defaultdict(int)
    n_correct = defaultdict(int)
    n_pred = defaultdict(int)
    for lng, txt in zip(t.column("lang").to_pylist(), t.column("text").to_pylist()):
        toks = re.split(r"\s+", txt.strip())
        h = {
            lang: sum(1 for w in toks if w in set(ms))
            for lang, ms in markers.items()
        }
        if h["de"] >= h["en"] and h["de"] >= h["es"] and h["de"] > 0:
            p = "de"
        elif h["en"] >= h["es"] and h["en"] > 0:
            p = "en"
        elif h["es"] > 0:
            p = "es"
        else:
            p = "und"
        n_actual[lng] += 1
        n_pred[p] += 1
        if p == lng:
            n_correct[lng] += 1
    rows = REGISTRY["lang_id_eval_metrics"][0](spark, SF_DIR).collect()
    assert [r["lang"] for r in rows] == sorted(n_actual)
    for r in rows:
        lng = r["lang"]
        assert (r["n_actual"], r["n_correct"], r["n_predicted"]) == (
            n_actual[lng],
            n_correct[lng],
            n_pred.get(lng, 0),
        )
        prec = n_correct[lng] / n_pred[lng] if n_pred.get(lng) else 0.0
        rec = n_correct[lng] / n_actual[lng]
        f1 = 0.0 if prec + rec == 0 else 2 * prec * rec / (prec + rec)
        assert abs(r["precision"] - prec) < 1e-6
        assert abs(r["recall"] - rec) < 1e-6
        assert abs(r["f1"] - f1) < 1e-6


def test_overdispersion_matches_python(spark):
    t = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_type", "ts"])
    daily = defaultdict(int)
    days = set()
    for et, ts in zip(t.column("event_type").to_pylist(), t.column("ts").to_pylist()):
        d = ts.date()
        daily[(et, d)] += 1
        days.add(d)
    n_span = (max(days) - min(days)).days + 1
    rows = REGISTRY["overdispersion_daily_counts"][0](spark, SF_DIR).collect()
    types = sorted({et for et, _ in daily})
    assert [r["event_type"] for r in rows] == types
    for r in rows:
        cs = [c for (et, _), c in daily.items() if et == r["event_type"]]
        s, ss = sum(cs), sum(c * c for c in cs)
        mean = s / n_span
        var = (ss - s * s / n_span) / (n_span - 1)
        assert r["n_days_span"] == n_span
        assert r["n_days_active"] == len(cs)
        assert r["n_events"] == s
        assert abs(r["mean_per_day"] - mean) < 1e-6
        assert abs(r["var_per_day"] - var) < 1e-6
        assert abs(r["dispersion_index"] - var / mean) < 1e-6


def test_lexical_diversity_matches_python(spark):
    import re

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["source", "text"])
    wc = defaultdict(lambda: defaultdict(int))
    for src, txt in zip(t.column("source").to_pylist(), t.column("text").to_pylist()):
        for w in re.split(r"[^0-9a-z]+", txt.strip().lower()):
            if w:
                wc[src][w] += 1
    rows = REGISTRY["lexical_diversity_by_source"][0](spark, SF_DIR).collect()
    assert [r["source"] for r in rows] == sorted(wc)
    for r in rows:
        cs = wc[r["source"]]
        n = sum(cs.values())
        ty = len(cs)
        hap = sum(1 for c in cs.values() if c == 1)
        simp = 1.0 - sum(c * (c - 1) for c in cs.values()) / (n * (n - 1.0))
        assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (n, ty, hap)
        assert abs(r["type_token_ratio"] - ty / n) < 1e-6
        assert abs(r["hapax_share"] - hap / ty) < 1e-6
        assert abs(r["simpson_diversity"] - simp) < 1e-6


def test_simpson_paradox_detector_matches_python(spark):
    x1, x2, tr, _ = _orders()
    cells = defaultdict(lambda: [0, 0, 0, 0])
    for m, f, t in zip(x1, x2, tr):
        c = cells[m]
        if t:
            c[0] += 1
            c[2] += f
        else:
            c[1] += 1
            c[3] += f
    tot = [sum(c[i] for c in cells.values()) for i in range(4)]
    overall = tot[2] / tot[0] - tot[3] / tot[1]
    rows = REGISTRY["simpson_paradox_detector"][0](spark, SF_DIR).collect()
    assert [r["month"] for r in rows] == sorted(cells)
    for r in rows:
        nu, no, fu, fo = cells[r["month"]]
        d = fu / nu - fo / no
        assert (r["n_urgent"], r["n_other"]) == (nu, no)
        assert abs(r["diff"] - d) < 1e-6
        assert abs(r["overall_diff"] - overall) < 1e-6
        assert r["sign_reversed"] == (1 if d * overall < 0 else 0)


def test_james_stein_matches_python(spark):
    import re

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["source", "text"])
    per = defaultdict(list)
    for src, txt in zip(t.column("source").to_pylist(), t.column("text").to_pylist()):
        if len(txt):
            per[src].append(round(len(re.sub(r"[^0-9a-zA-Z]", "", txt)) / len(txt), 9))
    k = len(per)
    means = {s: sum(v) / len(v) for s, v in per.items()}
    grand = sum(means.values()) / k
    s2p = sum(
        sum(x * x for x in v) - sum(v) ** 2 / len(v) for v in per.values()
    ) / sum(len(v) - 1 for v in per.values())
    h = k / sum(1.0 / len(v) for v in per.values())
    ss = sum((m - grand) ** 2 for m in means.values())
    shrink = max(0.0, 1.0 - (k - 3.0) * (s2p / h) / ss)
    rows = REGISTRY["james_stein_source_means"][0](spark, SF_DIR).collect()
    assert [r["source"] for r in rows] == sorted(per)
    for r in rows:
        m = means[r["source"]]
        assert r["n_docs"] == len(per[r["source"]])
        assert abs(r["mean_quality"] - m) < 1e-6
        assert abs(r["shrink_factor"] - shrink) < 1e-5
        assert abs(r["js_mean"] - (grand + shrink * (m - grand))) < 1e-5


def test_kendall_tau_matches_python(spark):
    import math

    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_quantity", "l_discount"]
    )
    xs = t.column("l_quantity").to_pylist()
    ys = t.column("l_discount").to_pylist()
    cells = defaultdict(int)
    for x, y in zip(xs, ys):
        cells[(x, y)] += 1
    items = list(cells.items())
    C = D = 0
    for i, ((x1, y1), c1) in enumerate(items):
        for (x2, y2), c2 in items[i + 1 :]:
            lo, hi = ((x1, y1), (x2, y2)) if x1 < x2 else ((x2, y2), (x1, y1))
            if lo[0] == hi[0]:
                continue
            if lo[1] < hi[1]:
                C += c1 * c2
            elif lo[1] > hi[1]:
                D += c1 * c2
    n = len(xs)
    rx = defaultdict(int)
    ry = defaultdict(int)
    for (x, y), c in cells.items():
        rx[x] += c
        ry[y] += c
    tx = sum(v * (v - 1) // 2 for v in rx.values())
    ty = sum(v * (v - 1) // 2 for v in ry.values())
    n0 = n * (n - 1) / 2
    tau = (C - D) / math.sqrt((n0 - tx) * (n0 - ty))
    row = REGISTRY["kendall_tau_contingency"][0](spark, SF_DIR).collect()[0]
    assert (row["n"], row["concordant"], row["discordant"]) == (n, C, D)
    assert (row["ties_x"], row["ties_y"]) == (tx, ty)
    assert abs(row["tau_b"] - tau) < 1e-6


def test_spearman_rho_matches_scipy_style_python(spark):
    import math

    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_quantity", "l_discount"]
    )
    xs = t.column("l_quantity").to_pylist()
    ys = t.column("l_discount").to_pylist()

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            r = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = r
            i = j
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = float(len(xs))
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    rho = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    row = REGISTRY["spearman_rho_contingency"][0](spark, SF_DIR).collect()[0]
    assert row["n"] == len(xs)
    assert abs(row["spearman_rho"] - rho) < 1e-6


def test_bloom_fpr_audit_matches_python(spark):
    t = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    )
    members = [
        k
        for k, v in zip(
            t.column("o_orderkey").to_pylist(), t.column("o_totalprice").to_pylist()
        )
        if v > 400000
    ]
    nonmembers = [
        k
        for k, v in zip(
            t.column("o_orderkey").to_pylist(), t.column("o_totalprice").to_pylist()
        )
        if not v > 400000
    ]
    m, k = 4096, 3
    bits = set()
    for key in members:
        for i in range(k):
            bits.add(_phash(key, seed=f"bloom{i}") % m)
    fp = sum(
        1
        for key in nonmembers
        if all(_phash(key, seed=f"bloom{i}") % m in bits for i in range(k))
    )
    row = REGISTRY["bloom_fpr_audit"][0](spark, SF_DIR).collect()[0]
    assert row["n_members"] == len(members)
    assert row["n_bits_set"] == len(bits)
    assert row["n_probes"] == len(nonmembers)
    assert row["n_false_positives"] == fp
    assert abs(row["fpr_measured"] - fp / len(nonmembers)) < 1e-6
    theo = (1.0 - (1.0 - 1.0 / m) ** (k * len(members))) ** k
    assert abs(row["fpr_theoretical"] - theo) < 1e-6


def test_lda_two_class_matches_python(spark):
    x1, x2_, tr, _ = _orders()
    # here: x2 = urgent flag, y = finished flag (note _orders naming)
    feats = list(zip(x1, tr))
    ys = x2_
    cls = {0: [f for f, y in zip(feats, ys) if y == 0],
           1: [f for f, y in zip(feats, ys) if y == 1]}

    def moments(pts):
        n = float(len(pts))
        s1 = float(sum(a for a, _ in pts))
        s2 = float(sum(b for _, b in pts))
        s11 = float(sum(a * a for a, _ in pts))
        s12 = float(sum(a * b for a, b in pts))
        s22 = float(sum(b * b for _, b in pts))
        return n, s1, s2, s11, s12, s22

    ma, mb = moments(cls[0]), moments(cls[1])
    sxx = (ma[3] - ma[1] ** 2 / ma[0]) + (mb[3] - mb[1] ** 2 / mb[0])
    sxy = (ma[4] - ma[1] * ma[2] / ma[0]) + (mb[4] - mb[1] * mb[2] / mb[0])
    syy = (ma[5] - ma[2] ** 2 / ma[0]) + (mb[5] - mb[2] ** 2 / mb[0])
    d1 = mb[1] / mb[0] - ma[1] / ma[0]
    d2 = mb[2] / mb[0] - ma[2] / ma[0]
    det = sxx * syy - sxy * sxy
    w1 = (syy * d1 - sxy * d2) / det
    w2 = (sxx * d2 - sxy * d1) / det
    c = w1 * (ma[1] / ma[0] + mb[1] / mb[0]) / 2 + w2 * (
        ma[2] / ma[0] + mb[2] / mb[0]
    ) / 2
    w1q, w2q, cq = round(w1, 9), round(w2, 9), round(c, 9)
    correct = sum(
        1
        for (a, b), y in zip(feats, ys)
        if (w1q * a + w2q * b > cq) == (y == 1)
    )
    row = REGISTRY["lda_two_class_exact"][0](spark, SF_DIR).collect()[0]
    assert (row["n0"], row["n1"]) == (len(cls[0]), len(cls[1]))
    assert abs(row["w_month"] - w1) < 1e-6
    assert abs(row["w_urgent"] - w2) < 1e-6
    assert abs(row["threshold"] - c) < 1e-6
    assert abs(row["train_accuracy"] - correct / len(ys)) < 1e-6


def test_kl_divergence_by_source_matches_python(spark):
    import math
    import re

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["source", "text"])
    sw = defaultdict(lambda: defaultdict(int))
    for src, txt in zip(t.column("source").to_pylist(), t.column("text").to_pylist()):
        for w in re.split(r"[^0-9a-z]+", txt.strip().lower()):
            if w:
                sw[src][w] += 1
    wc = defaultdict(int)
    for counts in sw.values():
        for w, c in counts.items():
            wc[w] += c
    V = len(wc)
    N = sum(wc.values())
    lg6 = lambda x: round(math.log2(x), 6)  # noqa: E731
    lp = {w: lg6((c + 1.0) / (N + V)) for w, c in wc.items()}
    lp_sum = sum(lp.values())
    rows = REGISTRY["kl_divergence_by_source"][0](spark, SF_DIR).collect()
    assert [r["source"] for r in rows] == sorted(sw)
    for r in rows:
        counts = sw[r["source"]]
        n_s = sum(counts.values())
        q_s = 1.0 / (n_s + V)
        obs = sum(
            round((c + 1.0) / (n_s + V) * (lg6((c + 1.0) / (n_s + V)) - lp[w]), 9)
            for w, c in counts.items()
        )
        corr = sum(round(q_s * (lg6(q_s) - lp[w]), 9) for w in counts)
        kl = obs + q_s * (V * lg6(q_s) - lp_sum) - corr
        assert r["n_tokens"] == n_s and r["n_types_observed"] == len(counts)
        assert abs(r["kl_bits"] - kl) < 1e-5
        assert r["kl_bits"] >= 0  # KL sanity


def test_partition_plan_advisor_matches_python(spark):
    import math

    t = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_type"])
    counts = defaultdict(int)
    for et in t.column("event_type").to_pylist():
        counts[et] += 1
    n = sum(counts.values())
    target = math.ceil(n / 32)
    rows = REGISTRY["partition_plan_advisor"][0](spark, SF_DIR).collect()
    assert [r["key"] for r in rows] == sorted(
        counts, key=lambda k: (-counts[k], k)
    )
    for r in rows:
        c = counts[r["key"]]
        assert r["n_rows_key"] == c
        assert r["n_rows"] == n and r["target_rows_per_task"] == target
        assert r["is_skewed"] == (1 if c > 2 * target else 0)
        assert r["salt_factor"] == math.ceil(c / target)
        assert abs(r["share"] - c / n) < 1e-6


def test_markov_entropy_rate_matches_python(spark):
    import math

    t = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["user_id", "ts", "event_id", "event_type"]
    )
    rows = sorted(
        zip(
            t.column("user_id").to_pylist(),
            t.column("ts").to_pylist(),
            t.column("event_id").to_pylist(),
            t.column("event_type").to_pylist(),
        ),
        key=lambda r: (r[0], r[1], r[2]),
    )
    trans = defaultdict(int)
    cur_user, prev, converted = None, None, False
    for u, _, _, et in rows + [(None, None, None, None)]:
        if u != cur_user:
            if cur_user is not None and not converted:
                trans[(prev, "null")] += 1
            cur_user, prev, converted = u, "start", False
            if u is None:
                break
        if converted:
            continue
        dst = "conv" if et == "purchase" else et
        trans[(prev, dst)] += 1
        if et == "purchase":
            converted = True
        else:
            prev = dst
    tot_s = defaultdict(int)
    for (s, _), n in trans.items():
        tot_s[s] += n
    T = sum(tot_s.values())
    out = REGISTRY["markov_entropy_rate"][0](spark, SF_DIR).collect()
    assert [r["state"] for r in out] == sorted(tot_s)
    for r in out:
        s = r["state"]
        h = sum(
            round(-(n / tot_s[s]) * round(math.log2(n / tot_s[s]), 6), 9)
            for (src, _), n in trans.items()
            if src == s
        )
        assert r["n_transitions"] == tot_s[s]
        assert abs(r["share"] - tot_s[s] / T) < 1e-6
        assert abs(r["entropy_bits"] - h) < 1e-6
        assert abs(r["weighted_bits"] - tot_s[s] / T * h) < 1e-6


def test_circular_hour_stats_matches_python(spark):
    import math

    t = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_type", "ts"])
    agg = defaultdict(lambda: [0, 0.0, 0.0])
    for et, ts in zip(t.column("event_type").to_pylist(), t.column("ts").to_pylist()):
        from datetime import datetime

        sec = int((ts - datetime(1970, 1, 1)).total_seconds()) % 86400
        th = 2 * math.pi * sec / 86400.0
        a = agg[et]
        a[0] += 1
        a[1] += round(math.cos(th), 9)
        a[2] += round(math.sin(th), 9)
    rows = REGISTRY["circular_hour_stats"][0](spark, SF_DIR).collect()
    assert [r["event_type"] for r in rows] == sorted(agg)
    for r in rows:
        n, c, s = agg[r["event_type"]]
        assert r["n"] == n
        assert abs(r["resultant_r"] - math.sqrt(c * c + s * s) / n) < 1e-6
        ang = math.atan2(s, c)
        if ang < 0:
            ang += 2 * math.pi
        assert abs(r["mean_hour"] - ang / (2 * math.pi) * 24.0) < 1e-5


def test_poisson_glm_matches_python(spark):
    import math

    o = pq.read_table(
        f"{SF_DIR}/orders.parquet",
        columns=["o_orderkey", "o_orderdate", "o_orderpriority"],
    )
    li = pq.read_table(f"{SF_DIR}/lineitem.parquet", columns=["l_orderkey"])
    counts = defaultdict(int)
    for k in li.column("l_orderkey").to_pylist():
        counts[k] += 1
    rows = [
        (d.month, 1 if p == "1-URGENT" else 0, counts[k])
        for k, d, p in zip(
            o.column("o_orderkey").to_pylist(),
            o.column("o_orderdate").to_pylist(),
            o.column("o_orderpriority").to_pylist(),
        )
        if k in counts
    ]
    b0 = b1 = b2 = 0.0
    for _ in range(3):
        m = [0.0] * 9
        for a, b, y in rows:
            mu = max(round(math.exp(b0 + b1 * a + b2 * b), 9), 1e-9)
            r = y - mu
            m[0] += mu; m[1] += mu * a; m[2] += mu * b
            m[3] += mu * a * a; m[4] += mu * a * b; m[5] += mu * b * b
            m[6] += r; m[7] += r * a; m[8] += r * b
        N, s1, s2, s11, s12, s22, sy, s1y, s2y = m
        det = N * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
        b0 += (sy * (s11 * s22 - s12 * s12) - s1y * (s1 * s22 - s12 * s2) + s2y * (s1 * s12 - s11 * s2)) / det
        b1 += (N * (s1y * s22 - s12 * s2y) - s1 * (sy * s22 - s2y * s2) + s2 * (sy * s12 - s1y * s2)) / det
        b2 += (N * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - sy * s12) + s2 * (s1 * s1y - sy * s11)) / det
    dev = 0.0
    for a, b, y in rows:
        mu = max(round(math.exp(b0 + b1 * a + b2 * b), 9), 1e-9)
        dev += 2.0 * ((y * round(math.log(y / mu), 9) if y > 0 else 0.0) - (y - mu))
    row = REGISTRY["poisson_glm_exact"][0](spark, SF_DIR).collect()[0]
    assert row["n"] == len(rows)
    assert abs(row["b_intercept"] - b0) < 1e-4
    assert abs(row["b_month"] - b1) < 1e-5
    assert abs(row["b_urgent"] - b2) < 1e-4
    assert abs(row["mean_deviance"] - dev / len(rows)) < 1e-4


def test_brier_decomposition_matches_python(spark):
    import math

    x1, x2, tr, _ = _orders()
    # features (month, urgent), label = finished flag
    ys = x2
    feats = list(zip(x1, tr))
    b0 = b1 = b2 = 0.0
    for _ in range(3):
        m = [0.0] * 9
        for (a, b), y in zip(feats, ys):
            p = min(max(round(1.0 / (1.0 + math.exp(-(b0 + b1 * a + b2 * b))), 9), 1e-9), 1 - 1e-9)
            w, r = p * (1 - p), y - p
            m[0] += round(w, 9); m[1] += round(w * a, 9); m[2] += round(w * b, 9)
            m[3] += round(w * a * a, 9); m[4] += round(w * a * b, 9); m[5] += round(w * b * b, 9)
            m[6] += round(r, 9); m[7] += round(r * a, 9); m[8] += round(r * b, 9)
        N, s1, s2, s11, s12, s22, sy, s1y, s2y = m
        det = N * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
        b0 += (sy * (s11 * s22 - s12 * s12) - s1y * (s1 * s22 - s12 * s2) + s2y * (s1 * s12 - s11 * s2)) / det
        b1 += (N * (s1y * s22 - s12 * s2y) - s1 * (sy * s22 - s2y * s2) + s2 * (sy * s12 - s1y * s2)) / det
        b2 += (N * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - sy * s12) + s2 * (s1 * s1y - sy * s11)) / det
    bins = defaultdict(lambda: [0, 0.0, 0])
    sq = 0.0
    for (a, b), y in zip(feats, ys):
        p = min(max(round(1.0 / (1.0 + math.exp(-(b0 + b1 * a + b2 * b))), 9), 1e-9), 1 - 1e-9)
        bn = min(int(p * 10), 9)
        c = bins[bn]
        c[0] += 1
        c[1] += p
        c[2] += y
        sq += round((p - y) ** 2, 9)
    n = len(ys)
    ybar = sum(ys) / n
    rel = sum(round(nb * (sp / nb - syb / nb) ** 2, 9) for nb, sp, syb in bins.values())
    res = sum(round(nb * (syb / nb - ybar) ** 2, 9) for nb, sp, syb in bins.values())
    row = REGISTRY["brier_decomposition"][0](spark, SF_DIR).collect()[0]
    assert row["n"] == n
    assert abs(row["brier"] - sq / n) < 1e-5
    assert abs(row["reliability"] - rel / n) < 1e-5
    assert abs(row["resolution"] - res / n) < 1e-5
    assert abs(row["uncertainty"] - ybar * (1 - ybar)) < 1e-6
    # Murphy identity sanity (binning makes it approximate)
    assert abs(row["brier"] - (row["reliability"] - row["resolution"] + row["uncertainty"])) < 0.02


def test_mcnemar_matches_python(spark):
    import re

    markers = {"de": ["der", "und"], "en": ["the", "a"], "es": ["el", "la"]}
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["lang", "text"])
    langs = t.column("lang").to_pylist()
    maj = sorted(
        ((langs.count(lg), lg) for lg in set(langs)), key=lambda x: (-x[0], x[1])
    )[0][1]
    b = c = n_a = n_b = 0
    for lng, txt in zip(langs, t.column("text").to_pylist()):
        toks = re.split(r"\s+", txt.strip())
        h = {lg: sum(1 for w in toks if w in set(ms)) for lg, ms in markers.items()}
        if h["de"] >= h["en"] and h["de"] >= h["es"] and h["de"] > 0:
            p = "de"
        elif h["en"] >= h["es"] and h["en"] > 0:
            p = "en"
        elif h["es"] > 0:
            p = "es"
        else:
            p = "und"
        ar, br = p == lng, maj == lng
        n_a += ar
        n_b += br
        if ar and not br:
            b += 1
        if br and not ar:
            c += 1
    row = REGISTRY["mcnemar_langid_vs_baseline"][0](spark, SF_DIR).collect()[0]
    assert (row["n_model_right"], row["n_baseline_right"]) == (n_a, n_b)
    assert (row["b_discordant"], row["c_discordant"]) == (b, c)
    chi2 = 0.0 if b + c == 0 else (b - c) ** 2 / (b + c)
    assert abs(row["mcnemar_chi2"] - chi2) < 1e-6


def test_model_gains_table_consistency(spark):
    rows = REGISTRY["model_gains_table"][0](spark, SF_DIR).collect()
    assert [r["bin"] for r in rows] == sorted(
        {r["bin"] for r in rows}, reverse=True
    )
    total_n = rows[-1]["cum_n"]
    total_pos = rows[-1]["cum_pos"]
    assert total_n == sum(r["n"] for r in rows)
    assert total_pos == sum(r["n_pos"] for r in rows)
    assert abs(rows[-1]["cum_capture"] - 1.0) < 1e-6
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-6
    cum_n = cum_pos = 0
    base = total_pos / total_n
    for r in rows:
        cum_n += r["n"]
        cum_pos += r["n_pos"]
        assert (r["cum_n"], r["cum_pos"]) == (cum_n, cum_pos)
        assert abs(r["cum_capture"] - cum_pos / total_pos) < 1e-6
        assert abs(r["cum_lift"] - (cum_pos / cum_n) / base) < 1e-6


def test_mantel_haenszel_matches_python(spark):
    import math

    x1, x2, tr, _ = _orders()
    cells = defaultdict(lambda: [0.0, 0.0, 0.0, 0.0, 0.0])
    for m, f, t in zip(x1, x2, tr):
        e = cells[m]
        e[0] += t * f
        e[1] += t * (1 - f)
        e[2] += (1 - t) * f
        e[3] += (1 - t) * (1 - f)
        e[4] += 1
    R = sum(round(a * d / n, 9) for a, b, c, d, n in cells.values())
    S = sum(round(b * c / n, 9) for a, b, c, d, n in cells.values())
    P = sum(round((a + d) / n * (a * d / n), 9) for a, b, c, d, n in cells.values())
    Q = sum(
        round((a + d) / n * (b * c / n) + (b + c) / n * (a * d / n), 9)
        for a, b, c, d, n in cells.values()
    )
    W = sum(round((b + c) / n * (b * c / n), 9) for a, b, c, d, n in cells.values())
    se = math.sqrt(P / (2 * R * R) + Q / (2 * R * S) + W / (2 * S * S))
    row = REGISTRY["mantel_haenszel_or"][0](spark, SF_DIR).collect()[0]
    assert row["n_strata"] == len(cells)
    assert abs(row["or_mh"] - R / S) < 1e-6
    assert abs(row["log_or"] - math.log(R / S)) < 1e-6
    assert abs(row["se_log_or"] - se) < 1e-6
    assert abs(row["ci_low"] - math.exp(math.log(R / S) - 1.959964 * se)) < 1e-5
    assert abs(row["ci_high"] - math.exp(math.log(R / S) + 1.959964 * se)) < 1e-5


def test_embedding_isotropy_matches_numpy(spark):
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["embedding"])
    M = np.array(
        [np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()]
    )
    n, d = M.shape
    var = M.var(axis=0, ddof=1)
    row = REGISTRY["embedding_isotropy_profile"][0](spark, SF_DIR).collect()[0]
    assert (row["n_vecs"], row["n_dims"]) == (n, d)
    assert abs(row["mean_var"] - var.mean()) < 1e-5
    assert abs(row["cv_of_vars"] - var.std(ddof=1) / var.mean()) < 1e-4
    assert row["max_var_dim"] == int(np.argmax(var))
    assert row["min_var_dim"] == int(np.argmin(var))
    assert abs(row["max_var"] - var.max()) < 1e-5
    assert abs(row["min_var"] - var.min()) < 1e-5


def test_readability_by_source_matches_python(spark):
    import re

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["source", "text"])
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for src, txt in zip(t.column("source").to_pylist(), t.column("text").to_pylist()):
        if not txt.strip():
            continue
        a = agg[src]
        a[0] += 1
        a[1] += len(re.split(r"\s+", txt.strip()))
        a[2] += max(len(re.split(r"[.!?]+", txt)) - 1, 1)
        a[3] += max(len(re.findall(r"[aeiouy]+", txt.lower())), 1)
    rows = REGISTRY["readability_by_source"][0](spark, SF_DIR).collect()
    assert [r["source"] for r in rows] == sorted(agg)
    for r in rows:
        nd, w, s, sy = agg[r["source"]]
        assert (r["n_docs"], r["n_words"], r["n_sentences"], r["n_syllables"]) == (
            nd,
            w,
            s,
            sy,
        )
        score = 206.835 - 1.015 * (w / s) - 84.6 * (sy / w)
        assert abs(r["flesch_reading_ease"] - score) < 1e-5


def test_woe_iv_binning_matches_python(spark):
    import math

    _, _, tr, y = _orders()  # tr = urgent flag, y = totalprice
    n = len(y)
    cuts = [
        sorted(y)[math.ceil(k * n / 5) - 1] for k in range(1, 5)
    ]
    cells = defaultdict(lambda: [0, 0])
    for t, v in zip(tr, y):
        b = sum(1 for c in cuts if v > c)
        cells[b][0 if t else 1] += 1
    P = sum(c[0] for c in cells.values())
    Q = sum(c[1] for c in cells.values())
    rows = REGISTRY["woe_iv_binning"][0](spark, SF_DIR).collect()
    assert [r["bin"] for r in rows] == sorted(cells)
    iv = 0.0
    terms = {}
    for b, (pos, neg) in cells.items():
        w = round(math.log((pos / P) / (neg / Q)), 6)
        terms[b] = (pos, neg, w, round((pos / P - neg / Q) * w, 9))
        iv += terms[b][3]
    for r in rows:
        pos, neg, w, term = terms[r["bin"]]
        assert (r["n_pos"], r["n_neg"]) == (pos, neg)
        assert abs(r["woe"] - w) < 1e-6
        assert abs(r["iv_term"] - term) < 1e-6
        assert abs(r["iv_total"] - iv) < 1e-6


def test_ab_mde_readout_matches_python(spark):
    import math

    _, _, tr, y = _orders()
    t_vals = [round(v, 9) for v, t in zip(y, tr) if t]
    c_vals = [round(v, 9) for v, t in zip(y, tr) if not t]

    def moments(vals):
        n = float(len(vals))
        s = sum(vals)
        ss = sum(round(v * v, 9) for v in vals)
        return n, s, ss

    tn, ts, tss = moments(t_vals)
    cn, cs, css = moments(c_vals)
    se = math.sqrt(
        (tss - ts * ts / tn) / (tn - 1) / tn + (css - cs * cs / cn) / (cn - 1) / cn
    )
    k = 1.959964 + 0.841621
    row = REGISTRY["ab_mde_readout"][0](spark, SF_DIR).collect()[0]
    assert (row["n_treated"], row["n_control"]) == (len(t_vals), len(c_vals))
    assert abs(row["observed_diff"] - (ts / tn - cs / cn)) < 1e-4
    assert abs(row["se_diff"] - se) < 1e-5
    assert abs(row["mde_abs"] - k * se) < 1e-4
    assert abs(row["mde_rel"] - k * se / (cs / cn)) < 1e-6


def test_group_sequential_obf_matches_python(spark):
    import math
    from datetime import date

    t = pq.read_table(
        f"{SF_DIR}/orders.parquet",
        columns=["o_orderdate", "o_orderpriority", "o_totalprice"],
    )
    looks = [date(1997, 1, 1), date(1998, 7, 1), date(2000, 1, 1), date(2002, 1, 1)]
    arms = {k: ([], []) for k in range(1, 5)}
    for d, p, v in zip(
        [x.date() for x in t.column("o_orderdate").to_pylist()],
        t.column("o_orderpriority").to_pylist(),
        t.column("o_totalprice").to_pylist(),
    ):
        sl = next((i + 1 for i, b in enumerate(looks) if d < b), 4)
        arms[sl][0 if p == "1-URGENT" else 1].append(float(v))
    rows = REGISTRY["group_sequential_obf"][0](spark, SF_DIR).collect()
    n_final = sum(len(a) + len(b) for a, b in arms.values())
    for r in rows:
        k = r["look"]
        tv = [v for s in range(1, k + 1) for v in arms[s][0]]
        cv = [v for s in range(1, k + 1) for v in arms[s][1]]
        n_cum = len(tv) + len(cv)
        info = n_cum / n_final
        mt, mc = sum(tv) / len(tv), sum(cv) / len(cv)
        vt = (sum(v * v for v in tv) - sum(tv) ** 2 / len(tv)) / (len(tv) - 1)
        vc = (sum(v * v for v in cv) - sum(cv) ** 2 / len(cv)) / (len(cv) - 1)
        z = (mt - mc) / math.sqrt(vt / len(tv) + vc / len(cv))
        bound = 2.24 / math.sqrt(info)
        assert r["n_cum"] == n_cum
        assert abs(r["info_frac"] - info) < 1e-6
        assert abs(r["z_stat"] - z) < 1e-4
        assert abs(r["obf_boundary"] - bound) < 1e-6
        assert r["crossed"] == (1 if abs(z) > bound else 0)


def test_theil_decomposition_matches_python(spark):
    import math

    o = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_custkey", "o_totalprice"]
    )
    c = pq.read_table(
        f"{SF_DIR}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    )
    nat = dict(
        zip(c.column("c_custkey").to_pylist(), c.column("c_nationkey").to_pylist())
    )
    rev = defaultdict(float)
    for k, v in zip(
        o.column("o_custkey").to_pylist(), o.column("o_totalprice").to_pylist()
    ):
        if k in nat:
            rev[k] += float(v)
    groups = defaultdict(list)
    for k, x in rev.items():
        groups[nat[k]].append(round(x, 6))
    N = sum(len(v) for v in groups.values())
    SX = sum(sum(v) for v in groups.values())
    mu = SX / N
    t_between = round(
        sum(
            round(
                (sum(v) / SX) * round(math.log((sum(v) / len(v)) / mu), 6), 9
            )
            for v in groups.values()
        ),
        9,
    )
    rows = REGISTRY["theil_index_decomposition"][0](spark, SF_DIR).collect()
    assert [r["nation"] for r in rows] == sorted(groups)
    for r in rows:
        v = groups[r["nation"]]
        mg = sum(v) / len(v)
        tw = round(
            sum(round(x / mg * round(math.log(x / mg), 6), 9) for x in v)
            / len(v),
            9,
        )
        assert r["n_customers"] == len(v)
        assert abs(r["revenue_share"] - sum(v) / SX) < 1e-6
        assert abs(r["theil_within"] - tw) < 1e-6
        assert abs(r["weighted_within"] - (sum(v) / SX) * tw) < 1e-6
        assert abs(r["theil_between"] - t_between) < 1e-6


def test_jarque_bera_matches_python(spark):
    t = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_type", "value"])
    groups = defaultdict(list)
    for et, v in zip(t.column("event_type").to_pylist(), t.column("value").to_pylist()):
        groups[et].append(round(float(v), 9))
    rows = REGISTRY["jarque_bera_normality"][0](spark, SF_DIR).collect()
    assert [r["event_type"] for r in rows] == sorted(groups)
    for r in rows:
        vs = groups[r["event_type"]]
        n = len(vs)
        s1 = sum(vs)
        s2 = sum(round(v * v, 9) for v in vs)
        s3 = sum(round(v ** 3, 9) for v in vs)
        s4 = sum(round(v ** 4, 9) for v in vs)
        mu = s1 / n
        m2 = s2 / n - mu * mu
        m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu ** 3
        m4 = s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu ** 4
        S = m3 / m2 ** 1.5
        K = m4 / (m2 * m2) - 3
        jb = n / 6 * (S * S + K * K / 4)
        assert r["n"] == n
        assert abs(r["skewness"] - S) < 1e-5
        assert abs(r["excess_kurtosis"] - K) < 1e-5
        assert abs(r["jarque_bera"] - jb) < 1e-3


def test_iv_wald_matches_python(spark):
    x1, _, tr, y = _orders()
    z = [1 if m <= 6 else 0 for m in x1]
    n1 = sum(z)
    n0 = len(z) - n1
    x1m = sum(t for t, zz in zip(tr, z) if zz) / n1
    x0m = sum(t for t, zz in zip(tr, z) if not zz) / n0
    y1m = sum(v for v, zz in zip(y, z) if zz) / n1
    y0m = sum(v for v, zz in zip(y, z) if not zz) / n0
    row = REGISTRY["iv_wald_estimator"][0](spark, SF_DIR).collect()[0]
    assert (row["n_z1"], row["n_z0"]) == (n1, n0)
    assert abs(row["first_stage"] - (x1m - x0m)) < 1e-6
    assert abs(row["reduced_form"] - (y1m - y0m)) < 1e-4
    assert abs(row["beta_iv"] - (y1m - y0m) / (x1m - x0m)) < 1e-2


def test_rdd_density_check_matches_python(spark):
    import math

    from network_ids_using_pyspark_spark.queries.causal_ext import (
        _RDD_BW,
        _RDD_CUT,
    )

    _, _, _, y = _orders()
    nl = sum(1 for v in y if _RDD_CUT - _RDD_BW <= v < _RDD_CUT)
    nr = sum(1 for v in y if _RDD_CUT <= v < _RDD_CUT + _RDD_BW)
    z = (nr - nl) / math.sqrt(nr + nl)
    row = REGISTRY["rdd_density_check"][0](spark, SF_DIR).collect()[0]
    assert (row["n_left"], row["n_right"]) == (nl, nr)
    assert abs(row["density_z"] - z) < 1e-6
    assert row["manipulation_flag"] == (1 if abs(z) > 1.959964 else 0)


def test_covariate_balance_smd_matches_python(spark):
    import math

    x1, x2, tr, _ = _orders()
    strata = defaultdict(lambda: [0, 0])
    for a, b, t in zip(x1, x2, tr):
        strata[(a, b)][0 if t else 1] += 1

    def w_of(a, b, t):
        mt, mc = strata[(a, b)]
        return (mt / mc) if (t == 0 and mt > 0 and mc > 0) else 0.0

    rows = {
        r["covariate"]: r
        for r in REGISTRY["covariate_balance_smd"][0](spark, SF_DIR).collect()
    }
    for name, xs in (("month", x1), ("finished", x2)):
        tv = [x for x, t in zip(xs, tr) if t]
        cv = [x for x, t in zip(xs, tr) if not t]
        mt, mc = sum(tv) / len(tv), sum(cv) / len(cv)
        vt = (sum(x * x for x in tv) - sum(tv) ** 2 / len(tv)) / (len(tv) - 1)
        vc = (sum(x * x for x in cv) - sum(cv) ** 2 / len(cv)) / (len(cv) - 1)
        denom = math.sqrt((vt + vc) / 2)
        ws = [w_of(a, b, 0) for a, b, t in zip(x1, x2, tr) if not t]
        wx = [
            w_of(a, b, 0) * (a if name == "month" else b)
            for a, b, t in zip(x1, x2, tr)
            if not t
        ]
        wmean = sum(wx) / sum(ws)
        r = rows[name]
        assert abs(r["smd_raw"] - (mt - mc) / denom) < 1e-5
        assert abs(r["smd_weighted"] - (mt - wmean) / denom) < 1e-5
        # exact matching on these covariates ⇒ weighted balance ≈ 0
        assert abs(r["smd_weighted"]) < 1e-4
