"""Round-4 fix verification: independent (non-oracle) checks for the
advisor-flagged defects.  The DuckDB oracle mirrors each query's
algorithm, so a shared bug passes the parity gate — these tests
recompute the statistic from first principles in plain Python."""

from __future__ import annotations

import math

import duckdb

from network_ids_using_pyspark_spark.queries import REGISTRY

from .conftest import SF_DIR


def _entropy(counts: list[int]) -> float:
    n = sum(counts)
    return math.log(n) - sum(c * math.log(c) for c in counts if c > 0) / n


def test_mutual_information_entropies_match_python(spark):
    """h_x / h_y against an independent plain-Python entropy over the
    same contingency tables (the advisor-flagged swapped-flag bug made
    h_x sum n_x·ln(n_x) once per distinct *y*)."""
    con = duckdb.connect()
    pairs = {
        "events.type_x_hourband": (
            "events",
            "event_type",
            "CAST(EXTRACT(hour FROM ts) // 6 AS BIGINT)",
        ),
        "orders.priority_x_status": (
            "orders",
            "o_orderpriority",
            "o_orderstatus",
        ),
        "events.type_x_valueband": (
            "events",
            "event_type",
            "LEAST(CAST(floor(value / 100) AS BIGINT), 9)",
        ),
    }
    rows = REGISTRY["mutual_information_report"][0](spark, SF_DIR).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        tbl, x, y = pairs[r["pair"]]
        src = f"read_parquet('{SF_DIR}/{tbl}.parquet')"
        joint = con.execute(
            f"SELECT {x}, {y}, COUNT(*) FROM {src} GROUP BY 1, 2"
        ).fetchall()
        nx: dict = {}
        ny: dict = {}
        for xv, yv, c in joint:
            nx[xv] = nx.get(xv, 0) + c
            ny[yv] = ny.get(yv, 0) + c
        n = sum(nx.values())
        h_x = _entropy(list(nx.values()))
        h_y = _entropy(list(ny.values()))
        mi = sum(
            c * math.log(c * n / (nx[xv] * ny[yv])) for xv, yv, c in joint
        ) / n
        # 1e-9 log quantization + 1e-6 output rounding → 1e-5 bound
        assert abs(r["h_x"] - h_x) < 1e-5, (r["pair"], r["h_x"], h_x)
        assert abs(r["h_y"] - h_y) < 1e-5, (r["pair"], r["h_y"], h_y)
        assert abs(r["mi"] - mi) < 1e-5, (r["pair"], r["mi"], mi)
        if h_x > 0 and h_y > 0:
            assert abs(r["nmi"] - r["mi"] / math.sqrt(r["h_x"] * r["h_y"])) < 1e-5


def test_learned_binning_assigns_every_serve_row_once(spark):
    """Half-open bins: the serve-period row count must equal the sum of
    per-bin counts EXACTLY (the flagged formulation dropped gap values
    and double-counted tie-straddled boundaries)."""
    con = duckdb.connect()
    n_serve = con.execute(
        f"""SELECT COUNT(*) FROM read_parquet('{SF_DIR}/orders.parquet')
            WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'"""
    ).fetchone()[0]
    rows = REGISTRY["learned_binning_apply"][0](spark, SF_DIR).collect()
    assert sum(r["n_apply"] for r in rows) == n_serve
    assert all(1 <= r["bin"] <= 10 for r in rows)


def test_stump_split_gains_match_python(spark):
    """Exact info gain per decile threshold against a brute-force
    Python recomputation (the flagged sparse-cum formulation lost a
    label's cumulative count in buckets where it had zero rows)."""
    con = duckdb.connect()
    data = con.execute(
        f"""SELECT event_type, value, event_id
            FROM read_parquet('{SF_DIR}/events.parquet')"""
    ).fetchall()
    data.sort(key=lambda r: (r[1], r[2]))
    n = len(data)
    bins = 10
    # NTILE semantics: first (n % bins) buckets get one extra row
    base, extra = divmod(n, bins)
    gains = {}
    idx = 0
    total: dict = {}
    for lbl, _, _ in data:
        total[lbl] = total.get(lbl, 0) + 1
    h_root = _entropy(list(total.values()))
    left: dict = {}
    for k in range(1, bins):
        size = base + (1 if k <= extra else 0)
        for lbl, _, _ in data[idx : idx + size]:
            left[lbl] = left.get(lbl, 0) + 1
        idx += size
        thr = data[idx - 1][1]
        nl = sum(left.values())
        h_l = _entropy(list(left.values()))
        right = [total[x] - left.get(x, 0) for x in total]
        h_r = _entropy([c for c in right if c > 0]) if n - nl else 0.0
        gains[k] = (
            thr,
            nl,
            h_root - (nl / n) * h_l - ((n - nl) / n) * h_r,
        )
    rows = {r["k"]: r for r in REGISTRY["stump_split_gains"][0](spark, SF_DIR).collect()}
    assert set(rows) == set(gains)
    for k, (thr, nl, gain) in gains.items():
        assert rows[k]["n_left"] == nl, (k, rows[k]["n_left"], nl)
        assert abs(rows[k]["threshold"] - thr) < 1e-9
        assert abs(rows[k]["info_gain"] - gain) < 1e-5, (
            k,
            rows[k]["info_gain"],
            gain,
        )


def test_simhash_default_is_32_bits():
    """Library defaults must match the skew-safe configuration the r3
    analysis certified (16-bit banding is quadratic-adjacent on real
    bucket skew)."""
    import inspect

    from network_ids_using_pyspark_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
    )

    assert inspect.signature(simhash).parameters["bits"].default == 32
    assert (
        inspect.signature(simhash_near_dup_pairs).parameters["bits"].default
        == 32
    )


def test_kcore_matches_brute_force_peel_and_converged(spark):
    """k-core vs a plain Python peel-to-fixpoint over the same edge
    list; the query's min_core_degree >= k certifies in-band that the
    fixed superstep count reached the fixpoint."""
    con = duckdb.connect()
    edges = con.execute(
        f"""
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM read_parquet('{SF_DIR}/lineitem.parquet') a
        JOIN read_parquet('{SF_DIR}/lineitem.parquet') b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2
        """
    ).fetchall()
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    k = 3
    alive = set(adj)
    while True:
        drop = {u for u in alive if sum(1 for v in adj[u] if v in alive) < k}
        if not drop:
            break
        alive -= drop
    n_edges = sum(1 for u, v in edges if u in alive and v in alive)

    row = REGISTRY["kcore_decomposition"][0](spark, SF_DIR).collect()[0]
    assert row["n_core_nodes"] == len(alive)
    assert row["n_core_edges"] == n_edges
    if len(alive):
        assert row["min_core_degree"] >= k  # fixpoint reached


def test_welch_and_anova_match_python(spark):
    """Welch t / one-way ANOVA against textbook-formula recomputation
    in plain Python over the same table (shared-bug guard: the oracle
    mirrors the engine's algorithm, these don't)."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT o_orderpriority, o_totalprice FROM read_parquet('{SF_DIR}/orders.parquet')"
    ).fetchall()
    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)

    # Welch: urgent vs rest
    urgent = groups.get("1-URGENT", [])
    other = [v for g, vs in groups.items() if g != "1-URGENT" for v in vs]

    def mv(xs):
        n = len(xs)
        m = sum(xs) / n
        v = sum((x - m) ** 2 for x in xs) / (n - 1)
        return n, m, v

    n1, m1, v1 = mv(urgent)
    n2, m2, v2 = mv(other)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / math.sqrt(se2)
    df = se2 * se2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    r = REGISTRY["welch_ttest_urgent_orders"][0](spark, SF_DIR).collect()[0]
    assert r["n_urgent"] == n1 and r["n_other"] == n2
    assert abs(r["t_stat"] - t) < 1e-4, (r["t_stat"], t)
    assert abs(r["df_welch"] - df) / df < 1e-6

    # one-way ANOVA over all five priorities
    nn = len(rows)
    k = len(groups)
    grand = sum(v for _, v in rows) / nn
    ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2 for vs in groups.values())
    ssw = sum(
        (x - sum(vs) / len(vs)) ** 2 for vs in groups.values() for x in vs
    )
    f = (ssb / (k - 1)) / (ssw / (nn - k))
    eta2 = ssb / (ssb + ssw)
    ra = REGISTRY["anova_oneway_priority"][0](spark, SF_DIR).collect()[0]
    assert ra["n"] == nn and ra["n_groups"] == k
    assert abs(ra["f_stat"] - f) < 1e-3, (ra["f_stat"], f)
    assert abs(ra["eta_squared"] - eta2) < 1e-6


def test_theil_sen_matches_python(spark):
    """Median-of-slopes recomputed brute force (statistics.median uses
    the same interpolated rule for even counts)."""
    import statistics

    con = duckdb.connect()
    daily = con.execute(
        f"""SELECT CAST(ts AS DATE) AS d, COUNT(*) FROM
            read_parquet('{SF_DIR}/events.parquet') GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    d0 = min(d for d, _ in daily)
    pts = [((d - d0).days, c) for d, c in daily]
    slopes = [
        (cb - ca) / (xb - xa)
        for i, (xa, ca) in enumerate(pts)
        for xb, cb in pts[i + 1 :]
        if xb > xa
    ]
    slope = statistics.median(slopes)
    r = REGISTRY["theil_sen_daily_trend"][0](spark, SF_DIR).collect()[0]
    assert r["n_days"] == len(pts)
    assert r["n_pairs"] == len(slopes)
    assert abs(r["slope_per_day"] - slope) < 1e-5
    intercept = statistics.median(c - round(slope, 6) * x for x, c in pts)
    assert abs(r["intercept"] - intercept) < 1e-5


def test_ols_matches_numpy_lstsq(spark):
    """Closed-form OLS against numpy's QR-based lstsq on the same
    design matrix (entirely different algorithm and library)."""
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT),
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END,
                   o_totalprice
            FROM read_parquet('{SF_DIR}/orders.parquet')"""
    ).fetchall()
    X = np.array([[1.0, r[0], r[1]] for r in rows])
    y = np.array([r[2] for r in rows])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    sse = float(((y - pred) ** 2).sum())
    sst = float(((y - y.mean()) ** 2).sum())
    r2 = 1 - sse / sst
    r = REGISTRY["ols_regression_exact"][0](spark, SF_DIR).collect()[0]
    assert r["n"] == len(rows)
    assert abs(r["b_intercept"] - beta[0]) < 1e-3
    assert abs(r["b_month"] - beta[1]) < 1e-4
    assert abs(r["b_urgent"] - beta[2]) < 1e-4
    assert abs(r["r_squared"] - r2) < 1e-6


def test_logreg_irls_matches_numpy_newton(spark):
    """Three engine IRLS steps vs numpy Newton run to convergence —
    Newton is quadratically convergent on this well-conditioned 2-
    feature problem, so 3 steps should land within ~1e-3 of the MLE."""
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT),
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
            FROM read_parquet('{SF_DIR}/orders.parquet')"""
    ).fetchall()
    X = np.array([[1.0, r[0], r[1]] for r in rows])
    y = np.array([float(r[2]) for r in rows])
    beta = np.zeros(3)
    for _ in range(25):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        W = p * (1 - p)
        H = X.T @ (X * W[:, None])
        g = X.T @ (y - p)
        step = np.linalg.solve(H, g)
        beta = beta + step
        if np.abs(step).max() < 1e-12:
            break
    p = 1.0 / (1.0 + np.exp(-(X @ beta)))
    ll = -np.mean(y * np.log(p) + (1 - y) * np.log(1 - p))
    r = REGISTRY["logreg_irls_exact"][0](spark, SF_DIR).collect()[0]
    assert r["n"] == len(rows)
    assert abs(r["b_intercept"] - beta[0]) < 2e-3
    assert abs(r["b_month"] - beta[1]) < 2e-3
    assert abs(r["b_urgent"] - beta[2]) < 2e-3
    assert abs(r["log_loss"] - ll) < 1e-4


def test_logreg_irls_persists_nothing(spark):
    """The Newton betas come back to the driver as literals, so fitting
    and serving `logreg_irls_exact` leaves no persisted or
    checkpointed RDD behind."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = REGISTRY["logreg_irls_exact"][0](spark, SF_DIR)
    df.collect()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_kmeans_lloyd_matches_numpy(spark):
    """Engine Lloyd's vs a numpy reimplementation: same init, same
    tiebreak, same iteration count — sizes equal, WCSS within 1e-6
    relative."""
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT vec_id, CAST(embedding AS DOUBLE[])
            FROM read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"""
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows])
    k, iters = 8, 3
    C = X[ids < k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes the lowest index on ties
        for c in range(k):
            if (assign == c).any():
                C[c] = X[assign == c].mean(axis=0)
    d2 = ((X - C[assign]) ** 2).sum(axis=1)
    expected = {
        c: (int((assign == c).sum()), float(d2[assign == c].sum()))
        for c in range(k)
        if (assign == c).any()
    }
    got = {
        r["cid"]: (r["n"], r["wcss"])
        for r in REGISTRY["kmeans_lloyd_exact"][0](spark, SF_DIR).collect()
    }
    assert set(got) == set(expected)
    for c, (n, wcss) in expected.items():
        assert got[c][0] == n, (c, got[c][0], n)
        assert abs(got[c][1] - wcss) / max(wcss, 1e-9) < 1e-6


def test_gnb_matches_numpy(spark):
    """Engine GNB confusion matrix vs a numpy reimplementation of
    Gaussian NB with the same split, MLE variances, and tiebreak."""
    import math as _m

    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT o_orderkey, o_orderstatus,
                   CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS DOUBLE),
                   o_totalprice / 1000.0,
                   CAST(concat('0x', substring(md5(concat('gnb:', CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 10
            FROM read_parquet('{SF_DIR}/orders.parquet')"""
    ).fetchall()
    train = [(c, x1, x2) for _, c, x1, x2, b in rows if b < 8]
    test = [(c, x1, x2) for _, c, x1, x2, b in rows if b >= 8]
    classes = sorted({c for c, _, _ in train})
    n = len(train)
    model = {}
    for c in classes:
        xs = np.array([(x1, x2) for cc, x1, x2 in train if cc == c])
        mu = xs.mean(axis=0)
        var = xs.var(axis=0)  # MLE
        model[c] = (_m.log(len(xs) / n), mu, var)
    conf: dict = {}
    for c, x1, x2 in test:
        best, best_ll = None, None
        for mc in classes:
            pl, mu, var = model[mc]
            ll = pl - 0.5 * sum(
                _m.log(2 * _m.pi * var[i]) + (([x1, x2][i] - mu[i]) ** 2) / var[i]
                for i in range(2)
            )
            if best_ll is None or ll > best_ll + 1e-12:
                best, best_ll = mc, ll
        conf[(c, best)] = conf.get((c, best), 0) + 1
    got = {
        (r["actual"], r["predicted"]): r["n"]
        for r in REGISTRY["gnb_train_confusion_exact"][0](spark, SF_DIR).collect()
    }
    assert sum(got.values()) == len(test)
    # allow a handful of boundary flips from the 1e-9 quantization
    diff = sum(abs(got.get(k, 0) - conf.get(k, 0)) for k in set(got) | set(conf))
    assert diff <= max(2, len(test) // 500), (diff, len(test))


def test_pca_power_iteration_matches_numpy(spark):
    """Algorithm parity: numpy running the SAME five power steps from
    the all-ones start must land on the same loadings and norm (the
    near-random fixture spectrum has lambda2/lambda1 ~ 0.93, so five
    steps are honestly pre-convergence — the query certifies the
    ITERATION, with a sanity band against the true top eigenvalue)."""
    import numpy as np

    con = duckdb.connect()
    X = np.array(
        [
            r[0]
            for r in con.execute(
                f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{SF_DIR}/embeddings.parquet')"
            ).fetchall()
        ]
    )
    C = np.cov(X.T, bias=True)
    w = np.ones(64)
    for _ in range(5):
        u = C @ w
        s = float(np.linalg.norm(u))
        w = u / s
    rows = REGISTRY["pca_power_iteration_exact"][0](spark, SF_DIR).collect()
    assert abs(rows[0]["eigenvalue"] - s) < 1e-5, (rows[0]["eigenvalue"], s)
    for r in rows:
        assert abs(r["loading"] - w[r["dim"] - 1]) < 1e-5, r
    # and the Rayleigh estimate is in the true top eigenvalue's band
    top_val = float(np.linalg.eigvalsh(C)[-1])
    assert 0.7 * top_val < rows[0]["eigenvalue"] <= top_val * 1.0001


def test_gnb_auc_matches_sklearn_free_python(spark):
    """Exact AUC vs a plain-Python tie-aware rank computation over the
    same scores (recomputed with numpy GNB posteriors — independent of
    the engine's quantized pipeline up to the 1e-9 grid)."""
    import math as _m

    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT o_orderkey, o_orderstatus,
                   CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS DOUBLE),
                   o_totalprice / 1000.0,
                   CAST(concat('0x', substring(md5(concat('gnb:', CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 10
            FROM read_parquet('{SF_DIR}/orders.parquet')"""
    ).fetchall()
    train = [(c, x1, x2) for _, c, x1, x2, b in rows if b < 8]
    test = [(c, x1, x2) for _, c, x1, x2, b in rows if b >= 8]
    classes = sorted({c for c, _, _ in train})
    n = len(train)
    model = {}
    for c in classes:
        xs = np.array([(x1, x2) for cc, x1, x2 in train if cc == c])
        model[c] = (_m.log(len(xs) / n), xs.mean(axis=0), xs.var(axis=0))
    pairs = []
    for c, x1, x2 in test:
        lls = {}
        for mc in classes:
            pl, mu, var = model[mc]
            lls[mc] = pl - 0.5 * sum(
                _m.log(2 * _m.pi * var[i]) + (([x1, x2][i] - mu[i]) ** 2) / var[i]
                for i in range(2)
            )
        mx = max(lls.values())
        denom = sum(_m.exp(v - mx) for v in lls.values())
        score = _m.exp(lls["F"] - mx) / denom if "F" in lls else 0.0
        pairs.append((1 if c == "F" else 0, round(score, 9)))
    pos = sorted(s for y, s in pairs if y == 1)
    neg = sorted(s for y, s in pairs if y == 0)
    import bisect

    u = 0.0
    for s in pos:
        below = bisect.bisect_left(neg, s)
        ties = bisect.bisect_right(neg, s) - below
        u += below + 0.5 * ties
    auc = u / (len(pos) * len(neg))
    r = REGISTRY["gnb_auc_exact"][0](spark, SF_DIR).collect()[0]
    assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
    assert abs(r["auc"] - auc) < 1e-4, (r["auc"], auc)


def test_dbscan_grid_matches_brute_force(spark):
    """Grid clusters vs a plain-Python flood fill over the same core
    cells (and that 10 supersteps truly reached the fixpoint)."""
    con = duckdb.connect()
    cells = con.execute(
        f"""SELECT CAST(floor(e[1] / 0.1) AS BIGINT),
                   CAST(floor(e[2] / 0.1) AS BIGINT), COUNT(*)
            FROM (SELECT CAST(embedding AS DOUBLE[]) e
                  FROM read_parquet('{SF_DIR}/embeddings.parquet'))
            GROUP BY 1, 2"""
    ).fetchall()
    core = {(x, y): c for x, y, c in cells if c >= 4}
    seen: set = set()
    comps = []
    for start in core:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            u = stack.pop()
            if u in seen:
                continue
            seen.add(u)
            comp.add(u)
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    v = (u[0] + dx, u[1] + dy)
                    if v in core and v not in seen:
                        stack.append(v)
        comps.append(comp)
    expected = sorted(
        (len(c), sum(core[u] for u in c)) for c in comps
    )
    rows = REGISTRY["dbscan_grid_clusters"][0](spark, SF_DIR).collect()
    got = sorted((r["n_cells"], r["n_points"]) for r in rows if r["cluster"] != -1)
    assert got == expected, (got, expected)
    noise = [r for r in rows if r["cluster"] == -1][0]
    assert noise["n_cells"] == sum(1 for _, _, c in cells if c < 4)


def test_holt_winters_matches_python(spark):
    """Level/trend/seasonal fold against an independent plain-Python
    Holt-Winters implementation over the same daily series (the oracle
    mirrors the engine's recurrence, so only an outside recomputation
    can catch a shared state-update mistake)."""
    con = duckdb.connect()
    ys = [
        float(r[1])
        for r in con.execute(
            f"""SELECT CAST(o_orderdate AS DATE) AS d,
                       CAST(COUNT(*) AS DOUBLE) AS y
                FROM read_parquet('{SF_DIR}/orders.parquet')
                GROUP BY 1 ORDER BY 1"""
        ).fetchall()
    ]
    con.close()

    m, a, ca, b, cb, g, cg = 7, 0.4, 0.6, 0.2, 0.8, 0.3, 0.7
    r9 = lambda v: round(v, 9)  # noqa: E731 — the engines' 1e-9 grid
    l = r9(sum(ys[:m]) / m)
    t = r9((sum(ys[m : 2 * m]) / m - sum(ys[:m]) / m) / m)
    s = [r9(y - l) for y in ys[:m]]
    sse = 0.0
    for y in ys[m:]:
        err = y - (l + t + s[0])
        lnew = r9(a * (y - s[0]) + ca * (l + t))
        tnew = r9(b * (lnew - l) + cb * t)
        s = s[1:] + [r9(g * (y - l - t) + cg * s[0])]
        l, t = lnew, tnew
        sse = r9(sse + err * err)

    fn, _ = REGISTRY["holt_winters_seasonal_forecast"]
    row = fn(spark, SF_DIR).collect()[0]
    assert row["n_days"] == len(ys)
    assert abs(row["level_final"] - l) < 1e-6
    assert abs(row["trend_final"] - t) < 1e-6
    assert abs(row["forecast_next"] - (l + t + s[0])) < 1e-6
    assert abs(row["rmse"] - math.sqrt(sse / (len(ys) - m))) < 1e-6




def test_unigram_viterbi_matches_python(spark):
    """Viterbi segmentation + hard-EM usage counts against an
    independent plain-Python dynamic program over the same word
    histogram (the unrolled-CTE oracle mirrors the engine's dp, so
    only an outside recomputation can catch a shared dp mistake)."""
    con = duckdb.connect()
    hist = dict(
        con.execute(
            f"""SELECT tok, COUNT(*) FROM (
                  SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '[^0-9a-z]+')) AS tok
                  FROM read_parquet('{SF_DIR}/documents.parquet'))
                WHERE tok <> '' GROUP BY 1"""
        ).fetchall()
    )
    con.close()

    L = 4
    vocab: dict[str, int] = {}
    for w, f in hist.items():
        for k in range(1, min(L, len(w)) + 1):
            for p in range(len(w) - k + 1):
                vocab[w[p : p + k]] = vocab.get(w[p : p + k], 0) + f
    total = sum(vocab.values())
    lp = {p: round(math.log(c / total), 9) for p, c in vocab.items()}

    used: dict[str, int] = {}
    for w, f in hist.items():
        n = len(w)
        dp = [(0.0, -1)] + [(-math.inf, -1)] * n  # (score, back)
        for i in range(1, n + 1):
            best, bj = -math.inf, -1
            for j in range(max(0, i - L), i):
                s = round(dp[j][0] + lp[w[j:i]], 9)
                if s > best:  # strict: smallest j wins ties, as the engines do
                    best, bj = s, j
            dp[i] = (best, bj)
        pos = n
        while pos > 0:
            j = dp[pos][1]
            used[w[j:pos]] = used.get(w[j:pos], 0) + f
            pos = j

    fn, _ = REGISTRY["unigram_viterbi_tokenize"]
    rows = fn(spark, SF_DIR).collect()
    expected = sorted(used.items(), key=lambda kv: (-kv[1], kv[0]))[: len(rows)]
    got = [(r["piece"], r["used_count"]) for r in rows]
    assert got == expected
    for r in rows:
        assert r["seed_count"] == vocab[r["piece"]]


def test_suffix_doubling_matches_python_substrings(spark):
    """Level-j rank groups must equal equality classes of the literal
    length-2^j substrings (Python slices) of the same concatenated
    sample — the textbook invariant of prefix doubling, checked from
    first principles rather than through the mirrored oracle."""
    from collections import Counter

    con = duckdb.connect()
    texts = [
        r[0]
        for r in con.execute(
            f"""SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')
                WHERE doc_id < 8 ORDER BY doc_id"""
        ).fetchall()
    ]
    con.close()
    s = "".join(t + chr(1) for t in texts)

    rows = REGISTRY["suffix_array_doubling_profile"][0](spark, SF_DIR).collect()
    for r in rows:
        span = r["span"]
        groups = Counter(s[p : p + span] for p in range(len(s)))
        assert r["n_groups"] == len(groups), (r["level"], r["n_groups"], len(groups))
        assert r["n_tied_pos"] == sum(c for c in groups.values() if c > 1)
        assert r["max_group"] == max(groups.values())


def test_kcenter_greedy_matches_python(spark):
    """Greedy selection sequence and coverage radii against a direct
    Python implementation of Gonzalez farthest-point over the same
    vectors (the unrolled oracle mirrors the engine's fold; this
    doesn't)."""
    con = duckdb.connect()
    vecs = {
        r[0]: [float(x) for x in r[1]]
        for r in con.execute(
            f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchall()
    }
    con.close()

    def d2(a, b):
        saa = sum(x * x for x in a)
        sbb = sum(x * x for x in b)
        dab = 0.0
        for x, y in zip(a, b):
            dab += x * y
        return round(saa - 2 * dab + sbb, 9)

    centers = [0]
    mind = {i: d2(v, vecs[0]) for i, v in vecs.items()}
    for _ in range(7):
        nxt = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        centers.append(nxt)
        for i, v in vecs.items():
            mind[i] = min(mind[i], d2(v, vecs[nxt]))
    assign: dict[int, list] = {c: [] for c in centers}
    for i, v in vecs.items():
        best = min(
            ((d2(v, vecs[c]), r) for r, c in enumerate(centers)),
        )
        assign[centers[best[1]]].append(best[0])

    rows = {r["sel_rank"]: r for r in REGISTRY["kcenter_coreset_select"][0](spark, SF_DIR).collect()}
    assert [rows[r]["center_vec_id"] for r in range(8)] == centers
    for r, c in enumerate(centers):
        assert rows[r]["n_assigned"] == len(assign[c])
        assert abs(rows[r]["radius_sq"] - round(max(assign[c]), 6)) < 1e-9


def test_itemcf_scores_match_python(spark):
    """Item-kNN recommendation scores against a brute-force Python
    recomputation over the same baskets."""
    con = duckdb.connect()
    items = con.execute(
        f"""SELECT DISTINCT l_orderkey, l_partkey
            FROM read_parquet('{SF_DIR}/lineitem.parquet')"""
    ).fetchall()
    prof_rows = con.execute(
        f"""SELECT DISTINCT o.o_custkey, l.l_partkey
            FROM read_parquet('{SF_DIR}/orders.parquet') o
            JOIN read_parquet('{SF_DIR}/lineitem.parquet') l
              ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey < 50"""
    ).fetchall()
    con.close()
    baskets: dict[int, set] = {}
    item_sup: dict[int, int] = {}
    for ok, pk in items:
        baskets.setdefault(ok, set()).add(pk)
        item_sup[pk] = item_sup.get(pk, 0) + 1
    co: dict[tuple, int] = {}
    for ok, parts in baskets.items():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                co[(ps[i], ps[j])] = co.get((ps[i], ps[j]), 0) + 1
    sims: dict[int, list] = {}
    for (a, b), n in co.items():
        if n < 2:
            continue
        s = round(n / math.sqrt(item_sup[a] * item_sup[b]), 9)
        sims.setdefault(a, []).append((b, s))
        sims.setdefault(b, []).append((a, s))
    prof: dict[int, set] = {}
    for u, pk in prof_rows:
        prof.setdefault(u, set()).add(pk)
    from decimal import Decimal

    expected: dict[int, dict] = {}
    for u, owned in prof.items():
        scores: dict[int, Decimal] = {}
        for it in owned:
            for cand, s in sims.get(it, []):
                if cand in owned:
                    continue
                scores[cand] = scores.get(cand, Decimal(0)) + Decimal(str(s))
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        expected[u] = {
            rank + 1: (item, float(sc)) for rank, (item, sc) in enumerate(top)
        }
    rows = REGISTRY["itemcf_topk_recs"][0](spark, SF_DIR).collect()
    for r in rows:
        item, sc = expected[r["custkey"]][r["rec_rank"]]
        assert r["item"] == item, (r, item)
        assert abs(r["score"] - sc) < 1e-9
