"""Round-5 first-principles checks (VERDICT r4 ask #6): the DuckDB
oracle mirrors each query's algorithm, so a shared algorithmic bug
passes the parity gate — these tests recompute each statistic from the
raw parquet in plain Python/numpy, independent of both engines, for
the six round-4 additions that previously had parity checks only:
huber_location_irls, median_ci_order_stats, ppmi_cooccurrence_topk,
wasserstein_length_drift, cms_join_size_estimate, sprt_ab_monitor."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from network_ids_using_pyspark_spark.queries import REGISTRY

from .conftest import SF_DIR


def _col(table: str, *cols):
    t = pq.read_table(f"{SF_DIR}/{table}.parquet", columns=list(cols))
    return [t.column(c).to_pylist() for c in cols]


def _phash(x, seed: str = "") -> int:
    return int(hashlib.md5((seed + str(x)).encode()).hexdigest()[:15], 16)


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def test_huber_location_irls_matches_python(spark):
    (v,) = _col("orders", "o_totalprice")
    k, t = 1.345, 3
    mu = round(_median(v), 9)
    mu0 = mu
    s = round(1.4826 * _median([abs(x - mu) for x in v]), 9)
    for _ in range(t):
        num = den = 0.0
        for x in v:
            if abs(x - mu) == 0:
                continue
            w = min(1.0, k * s / abs(x - mu))
            num += round(w * x, 9)
            den += round(w, 9)
        mu = round(num / den, 9)
    n_down = sum(1 for x in v if abs(x - mu) > k * s)
    row = REGISTRY["huber_location_irls"][0](spark, SF_DIR).collect()[0]
    assert row["n"] == len(v)
    assert abs(row["median_init"] - mu0) < 1e-4
    assert abs(row["mad_scale"] - s) < 1e-4
    assert abs(row["mu_huber"] - mu) < 1e-3  # float vs decimal accumulation
    assert abs(row["mean_plain"] - sum(v) / len(v)) < 1e-3
    assert row["n_downweighted"] == n_down


def test_huber_irls_persists_only_its_values(spark):
    """μ and s come back to the driver as literals between passes, so
    building and collecting `huber_location_irls` leaves exactly one
    persisted RDD behind: the checkpointed value column."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = REGISTRY["huber_location_irls"][0](spark, SF_DIR)
    df.collect()
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1


def test_median_ci_order_stats_matches_python(spark):
    et, val = _col("events", "event_type", "value")
    z = 1.959964
    by_type: dict[str, list[float]] = defaultdict(list)
    for e, x in zip(et, val):
        by_type[e].append(x)
    rows = {r["event_type"]: r for r in REGISTRY["median_ci_order_stats"][0](spark, SF_DIR).collect()}
    assert set(rows) == set(by_type)
    for e, xs in by_type.items():
        xs.sort()
        n = len(xs)
        k_lo = max(1, math.floor(n / 2.0 - z * math.sqrt(n) / 2))
        k_hi = min(n, math.ceil(n / 2.0 + 1 + z * math.sqrt(n) / 2))
        r = rows[e]
        assert r["n"] == n and r["k_lo"] == k_lo and r["k_hi"] == k_hi
        assert abs(r["median_value"] - _median(xs)) < 1e-5
        assert abs(r["ci_lo"] - xs[k_lo - 1]) < 1e-5
        assert abs(r["ci_hi"] - xs[k_hi - 1]) < 1e-5
        assert r["ci_lo"] <= r["median_value"] <= r["ci_hi"]


def test_sprt_ab_monitor_matches_python(spark):
    ts, et = _col("events", "ts", "event_type")
    p0, p1 = 0.19, 0.21
    l1 = round(math.log(p1 / p0), 9)
    l0 = round(math.log((1 - p1) / (1 - p0)), 9)
    bound = round(math.log(0.95 / 0.05), 9)
    daily: dict = defaultdict(lambda: [0, 0])
    for t, e in zip(ts, et):
        d = t.date()
        daily[d][0] += 1
        daily[d][1] += e == "purchase"
    llr, walk = 0.0, {}
    first = None
    for d in sorted(daily):
        n, s = daily[d]
        llr += round(s * l1 + (n - s) * l0, 9)
        state = (
            "accept_h1" if llr >= bound else "accept_h0" if llr <= -bound else "continue"
        )
        if state != "continue" and first is None:
            first = d
        walk[d] = (n, s, llr, state)
    rows = REGISTRY["sprt_ab_monitor"][0](spark, SF_DIR).collect()
    assert len(rows) == len(walk)
    for r in rows:
        n, s, llr, state = walk[r["d"]]
        assert (r["n_trials"], r["n_success"], r["state"]) == (n, s, state)
        assert abs(r["llr"] - llr) < 1e-5
        assert r["first_decision_day"] == first


def test_wasserstein_length_drift_matches_python(spark):
    src, nc = _col("documents", "source", "n_chars")
    by_src: dict[str, list[int]] = defaultdict(list)
    for s, c in zip(src, nc):
        by_src[s].append(c)
    ref = sorted(by_src["src0"])
    rows = {r["source"]: r for r in REGISTRY["wasserstein_length_drift"][0](spark, SF_DIR).collect()}
    assert set(rows) == set(by_src) - {"src0"}
    for s, xs in by_src.items():
        if s == "src0":
            continue
        xs = sorted(xs)
        m = min(len(xs), len(ref))  # fixture keeps these equal
        w1 = sum(abs(a - b) for a, b in zip(xs[:m], ref[:m])) / m
        shift = sum(a - b for a, b in zip(xs[:m], ref[:m])) / m
        r = rows[s]
        assert r["n"] == m
        assert abs(r["w1_chars"] - w1) < 1e-6
        assert abs(r["mean_shift"] - shift) < 1e-6
        assert r["w1_chars"] >= abs(r["mean_shift"])  # transport ≥ |net shift|


def test_cms_join_size_estimate_matches_python(spark):
    uid, et = _col("events", "user_id", "event_type")
    d, w = 4, 256
    clicks = [u for u, e in zip(uid, et) if e == "click"]
    purch = [u for u, e in zip(uid, et) if e == "purchase"]

    def true_join(a, b):
        fa, fb = Counter(a), Counter(b)
        return sum(c * fb.get(k, 0) for k, c in fa.items())

    def counters(xs):
        out = [[0] * w for _ in range(d)]
        for u in xs:
            for i in range(d):
                out[i][_phash(u, seed=f"js{i}") % w] += 1
        return out

    def cms(ca, cb):
        return min(sum(x * y for x, y in zip(ca[i], cb[i])) for i in range(d))

    cc, cp, ce = counters(clicks), counters(purch), counters(uid)
    expected = {
        "click_join_purchase": (true_join(clicks, purch), cms(cc, cp)),
        "events_selfjoin_f2": (true_join(uid, uid), cms(ce, ce)),
    }
    rows = {r["pair"]: r for r in REGISTRY["cms_join_size_estimate"][0](spark, SF_DIR).collect()}
    assert set(rows) == set(expected)
    for pair, (ts_, est) in expected.items():
        r = rows[pair]
        assert (r["true_size"], r["cms_size"]) == (ts_, est)
        assert r["cms_size"] >= r["true_size"]  # CMS inner products err upward


def test_ppmi_cooccurrence_topk_matches_python(spark):
    (texts,) = _col("documents", "text")
    win, topk = 2, 40
    pair_n: Counter = Counter()
    for tx in texts:
        ts = [t for t in re.split(r"[^0-9a-z]+", tx.lower().strip()) if t]
        for i, wd in enumerate(ts):
            for o in range(1, win + 1):
                if i + o < len(ts):
                    pair_n[(wd, ts[i + o])] += 1
                    pair_n[(ts[i + o], wd)] += 1
    n_w: Counter = Counter()
    for (a, _b), c in pair_n.items():
        n_w[a] += c
    n = sum(pair_n.values())
    scored = [
        (
            round(max(0.0, round(math.log(c * n / (n_w[a] * n_w[b])), 9)), 6),
            a,
            b,
            c,
        )
        for (a, b), c in pair_n.items()
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    top = scored[:topk]
    rows = REGISTRY["ppmi_cooccurrence_topk"][0](spark, SF_DIR).collect()
    assert len(rows) == topk
    for r, (ppmi, a, b, c) in zip(rows, top):
        assert (r["word"], r["context"], r["n_pair"]) == (a, b, c)
        assert abs(r["ppmi"] - ppmi) < 1e-6
