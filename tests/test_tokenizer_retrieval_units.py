"""Independent (non-oracle) checks for the tokenizer/retrieval/filter
layer.  The DuckDB oracles mirror each query's algorithm (same encoding
trick, same CTE chain), so a shared design bug would pass the parity
gate — these tests recompute the result from first principles in plain
Python/numpy: explicit greedy merge loops, explicit argmax scans, no
string-replace encoding anywhere."""

from __future__ import annotations

import re
from collections import Counter

import duckdb

from network_ids_using_pyspark_spark.queries import REGISTRY

from .conftest import SF_DIR


def _doc_words() -> list[list[str]]:
    con = duckdb.connect()
    texts = con.execute(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    return [
        [t for t in re.split(r"[^0-9a-z]+", txt.strip().lower()) if t]
        for (txt,) in texts
    ]


def _python_bpe(k: int):
    """Reference BPE: tuple-of-symbols words, explicit left-to-right
    greedy merge — no parenthesis encoding, no replace()."""
    counts = Counter()
    for words in _doc_words():
        counts.update(words)
    vocab = {tuple(w): c for w, c in counts.items()}
    merges = []
    for _ in range(k):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        # argmax with the engine's total tie-break: count DESC, pair ASC
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges, vocab


def test_bpe_merges_match_python(spark):
    from network_ids_using_pyspark_spark.queries.tokenizer import _BPE_K

    merges, _ = _python_bpe(_BPE_K)
    rows = sorted(
        REGISTRY["bpe_merge_training"][0](spark, SF_DIR).collect(),
        key=lambda r: r["merge_rank"],
    )
    assert len(rows) == _BPE_K
    for r, (a, b, cnt) in zip(rows, merges):
        assert (r["left_sym"], r["right_sym"], r["pair_count"]) == (a, b, cnt)
        assert r["merged"] == a + b


def test_bpe_tokenize_totals_match_python(spark):
    from network_ids_using_pyspark_spark.queries.tokenizer import _BPE_K

    _, vocab = _python_bpe(_BPE_K)
    n_syms = {"".join(syms): len(syms) for syms in vocab}
    expected = {}
    for doc_id, words in enumerate(_doc_words()):
        if words:
            expected[doc_id] = sum(n_syms[w] for w in words)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in REGISTRY["bpe_tokenize_profile"][0](spark, SF_DIR).collect()
    }
    # doc_id in the fixture is 0..n-1 in row order
    assert got == expected


def _embeddings():
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, label, CAST(embedding AS DOUBLE[]) "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    labels = {r[0]: r[1] for r in rows}
    vecs = {r[0]: np.array(r[2]) for r in rows}
    return ids, labels, vecs


def test_hard_negatives_match_numpy(spark):
    import numpy as np

    from network_ids_using_pyspark_spark.queries.similarity import (
        _HNEG_K,
        _HNEG_NQ,
    )

    ids, labels, vecs = _embeddings()
    got = {}
    for r in REGISTRY["hard_negative_mining"][0](spark, SF_DIR).collect():
        got[(r["q_vec_id"], r["rk"])] = (r["cand_vec_id"], r["sim"])
    for q in [i for i in ids if i < _HNEG_NQ]:
        qv = vecs[q]
        sims = [
            (
                float(qv @ vecs[c] / (np.linalg.norm(qv) * np.linalg.norm(vecs[c]))),
                c,
            )
            for c in ids
            if labels[c] != labels[q]
        ]
        sims.sort(key=lambda t: (-t[0], t[1]))
        for rk, (sim, c) in enumerate(sims[:_HNEG_K], start=1):
            cand, got_sim = got[(q, rk)]
            assert cand == c, (q, rk, cand, c)
            assert abs(got_sim - sim) < 1e-9


def test_mmr_selection_matches_numpy(spark):
    import numpy as np

    from network_ids_using_pyspark_spark.queries.search import (
        _MMR_K,
        _MMR_L,
        _MMR_ML,
        _MMR_POOL,
        _MMR_Q,
    )

    ids, _, vecs = _embeddings()
    qv = vecs[_MMR_Q]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    rel = sorted(
        ((cos(qv, vecs[c]), c) for c in ids if c != _MMR_Q),
        key=lambda t: (-t[0], t[1]),
    )[:_MMR_POOL]
    pool = {c: r for r, c in rel}
    selected, expected = [], []
    for _ in range(_MMR_K):
        best = None
        for c, r in pool.items():
            if c in selected:
                continue
            ms = max((cos(vecs[c], vecs[s]) for s in selected), default=0.0)
            score = _MMR_L * r - _MMR_ML * ms
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c, r, ms, score)
        _, c, r, ms, score = best
        selected.append(c)
        expected.append((c, r, ms, score))
    rows = sorted(
        REGISTRY["mmr_diversified_rerank"][0](spark, SF_DIR).collect(),
        key=lambda x: x["mmr_rank"],
    )
    assert [x["vec_id"] for x in rows] == [c for c, *_ in expected]
    for x, (c, r, ms, score) in zip(rows, expected):
        assert abs(x["rel_sim"] - r) < 1e-9
        assert abs(x["max_sim_selected"] - ms) < 1e-9
        assert abs(x["mmr_score"] - score) < 1e-9


def test_quality_filter_matches_numpy_newton(spark):
    """Per-language mean score against a numpy 3-step Newton run on the
    same (stopword ratio, tokens/100) features — unquantized, so the
    comparison tolerance covers the engine's 1e-9 grid."""
    import numpy as np

    from network_ids_using_pyspark_spark.queries.stats_regression import (
        _IRLS_T,
        _QCF_T,
    )

    stop = {"the", "a", "and", "of", "to", "in"}
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT lang, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    feats, langs = [], []
    for lang, text in rows:
        toks = [t for t in re.split(r"\s+", text.strip()) if t]
        if not toks:
            continue
        x1 = round(sum(t in stop for t in toks) / len(toks), 9)
        x2 = round(len(toks) / 100.0, 9)
        feats.append((1.0, x1, x2))
        langs.append(lang)
    X = np.array(feats)
    y = np.array([1.0 if l == "en" else 0.0 for l in langs])
    beta = np.zeros(3)
    for _ in range(_IRLS_T):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        W = p * (1 - p)
        beta = beta + np.linalg.solve(X.T @ (X * W[:, None]), X.T @ (y - p))
    p = 1.0 / (1.0 + np.exp(-(X @ beta)))
    out = {
        r["lang"]: r
        for r in REGISTRY["quality_classifier_filter"][0](spark, SF_DIR).collect()
    }
    for lang in set(langs):
        mask = np.array([l == lang for l in langs])
        assert out[lang]["n"] == int(mask.sum())
        assert abs(out[lang]["mean_score"] - float(p[mask].mean())) < 1e-5
        assert out[lang]["n_retained"] == int((p[mask] >= _QCF_T).sum())


def test_holt_linear_matches_python_fold(spark):
    """The engine's struct-accumulator fold vs an explicit plain-Python
    recurrence (also guards the oracle's recursive-CTE rewrite — the
    naive DuckDB list_reduce twin was verifiably wrong, see the SQL
    comment in stats_regression.py)."""
    import math

    con = duckdb.connect()
    ys = [
        r[0]
        for r in con.execute(
            f"""SELECT CAST(COUNT(*) AS DOUBLE) FROM read_parquet('{SF_DIR}/orders.parquet')
                GROUP BY CAST(o_orderdate AS DATE) ORDER BY CAST(o_orderdate AS DATE)"""
        ).fetchall()
    ]
    l, t, s = ys[1], round(ys[1] - ys[0], 9), 0.0
    for x in ys[2:]:
        e = x - (l + t)
        l2 = round(0.5 * x + 0.5 * (l + t), 9)
        t2 = round(0.3 * (l2 - l) + 0.7 * t, 9)
        s = round(s + e * e, 9)
        l, t = l2, t2
    r = REGISTRY["holt_linear_forecast"][0](spark, SF_DIR).collect()[0]
    assert r["n_days"] == len(ys)
    assert r["level_final"] == round(l, 6)
    assert r["trend_final"] == round(t, 6)
    assert r["forecast_next"] == round(l + t, 6)
    assert r["rmse"] == round(math.sqrt(s / (len(ys) - 2)), 6)


def test_exact_substring_spans_sound_and_maximal(spark):
    """Every reported span must be fully covered by cross-doc duplicated
    k-grams (soundness) and not extendable by one position on either
    side (maximality) — recomputed from the raw texts in plain Python."""
    from network_ids_using_pyspark_spark.queries.passages import _XS_K, _XS_MIN

    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    owners = {}
    for doc_id, text in texts.items():
        for i in range(len(text) - _XS_K + 1):
            owners.setdefault(text[i : i + _XS_K], set()).add(doc_id)
    dup = {g for g, d in owners.items() if len(d) >= 2}
    rows = REGISTRY["exact_substring_dup_spans"][0](spark, SF_DIR).collect()
    assert rows, "fixture contains exact dup docs — spans must exist"
    for r in rows:
        text = texts[r["doc_id"]]
        lo = r["span_start"] - 1  # SQL positions are 1-based
        hi = lo + r["span_len"]
        assert r["span_len"] >= _XS_MIN
        starts = range(lo, hi - _XS_K + 1)
        assert all(text[i : i + _XS_K] in dup for i in starts)
        if lo > 0:
            assert text[lo - 1 : lo - 1 + _XS_K] not in dup
        if hi < len(text):
            i = hi - _XS_K + 1
            assert text[i : i + _XS_K] not in dup


def test_bpe_fertility_by_lang_matches_python(spark):
    from collections import defaultdict

    from network_ids_using_pyspark_spark.queries.tokenizer import _BPE_K

    _, vocab = _python_bpe(_BPE_K)
    n_syms = {"".join(syms): len(syms) for syms in vocab}
    con = duckdb.connect()
    langs = [
        lng
        for (lng,) in con.execute(
            f"SELECT lang FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    ]
    agg = defaultdict(lambda: [set(), 0, 0, 0])  # docs, words, toks, chars
    for doc_id, (lang, words) in enumerate(zip(langs, _doc_words())):
        for w in words:
            a = agg[lang]
            a[0].add(doc_id)
            a[1] += 1
            a[2] += n_syms[w]
            a[3] += len(w)
    rows = REGISTRY["bpe_fertility_by_lang"][0](spark, SF_DIR).collect()
    assert [r["lang"] for r in rows] == sorted(agg)
    for r in rows:
        docs, nw, nt, nc = agg[r["lang"]]
        assert r["n_docs"] == len(docs)
        assert (r["n_words"], r["n_bpe_tokens"]) == (nw, nt)
        assert abs(r["tokens_per_word"] - nt / nw) < 1e-6
        assert abs(r["chars_per_token"] - nc / nt) < 1e-6
