"""Property-based tests (hypothesis) for the pure-Python kernels the
engine's correctness leans on — the PNG codec and the nearest-neighbor
resampler.  These run entirely off-Spark, so the search is cheap."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from network_ids_using_pyspark_spark.functions.pngcodec import (
    decode_png,
    encode_png,
    resize_nearest,
    to_grayscale,
)

_dims = st.tuples(
    st.integers(min_value=1, max_value=24),  # width
    st.integers(min_value=1, max_value=24),  # height
    st.sampled_from([1, 2, 3, 4]),  # channels
)


@settings(max_examples=60, deadline=None)
@given(_dims, st.randoms(use_true_random=False))
def test_png_roundtrip_any_pixels(dims, rnd):
    w, h, ch = dims
    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    assert decode_png(encode_png(w, h, px, ch)) == (w, h, ch, px)


@settings(max_examples=60, deadline=None)
@given(_dims, st.randoms(use_true_random=False))
def test_resize_identity_and_bounds(dims, rnd):
    w, h, ch = dims
    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    # identity resize reproduces the buffer exactly
    assert resize_nearest(px, w, h, ch, w, h) == px
    # any resize only ever emits source sample values
    out = resize_nearest(px, w, h, ch, 5, 3)
    assert len(out) == 5 * 3 * ch
    src_vals = set(px)
    assert set(out) <= src_vals


@settings(max_examples=60, deadline=None)
@given(_dims, st.randoms(use_true_random=False))
def test_grayscale_range_and_length(dims, rnd):
    w, h, ch = dims
    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    g = to_grayscale(px, ch)
    assert len(g) == w * h
    # luma of a constant-value pixel stays within 1 of that value
    const = bytes([128] * (w * h * ch))
    gc = to_grayscale(const, ch)
    assert all(abs(v - 128) <= 1 for v in gc)


# ---------------------------------------------------------------------------
# rank-location arithmetic (operators/rangepart.py): the pure kernel
# the exact-rank-selection descent reduces to.  If this locates every
# global rank in the right bin with the right local offset for ANY
# histogram, the distributed selection is exact whenever the per-bin
# counts are (and Spark's groupBy counts are).
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    st.data(),
)
def test_locate_ranks_matches_flat_scan(counts, data):
    from network_ids_using_pyspark_spark.operators.rangepart import locate_ranks

    hist = {b: c for b, c in enumerate(counts) if c > 0}
    n = sum(hist.values())
    if n == 0:
        assert locate_ranks(hist, [(1, 1)]) == {}
        return
    ranks = data.draw(
        st.lists(st.integers(min_value=1, max_value=n), min_size=1, max_size=8)
    )
    pairs = [(r, r) for r in sorted(set(ranks))]
    needed = locate_ranks(hist, pairs)
    # flat truth: element at global rank r lives in the bin where the
    # running total first reaches r
    flat = []
    for b in sorted(hist):
        flat.extend([b] * hist[b])
    located = {g: (b, loc) for b, sub in needed.items() for g, loc in sub}
    assert set(located) == {r for r, _ in pairs}
    for g, (b, loc) in located.items():
        assert flat[g - 1] == b  # right bin
        # right local offset: loc-th element of bin b is global rank g
        before = sum(hist[x] for x in hist if x < b)
        assert before + loc == g
        assert 1 <= loc <= hist[b]


# ---------------------------------------------------------------------------
# Cross-engine interpolation parity (r9): the registry's oracles pair
# Spark `median`/`percentile` with DuckDB `median`/`quantile_cont` in
# dozens of queries.  r9's Hypothesis find (the even-count median is
# lo/2 + hi/2, not the r7-documented lo + (hi-lo)/2) showed this
# pairing's ulp behavior must be TESTED, not assumed.  This test
# compares the two engines bitwise on 120 seeded groups of random
# bit-pattern doubles (sizes 1-9, so every interpolation branch and
# fraction is exercised) at all five registry fractions + the median.
# One Spark job, one DuckDB query — fast enough for every CI run.
# ---------------------------------------------------------------------------


def test_percentile_median_bitwise_match_duckdb(spark):
    import random
    import struct

    import duckdb
    from pyspark.sql import functions as F

    rnd = random.Random(20260816)

    def rd():
        while True:
            x = struct.unpack("<d", struct.pack("<Q", rnd.getrandbits(64)))[0]
            if x == x and abs(x) != float("inf"):
                return x

    def bits(x):
        return struct.pack("<d", x)

    groups = {g: [rd() for _ in range(rnd.randrange(1, 10))] for g in range(120)}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g int, v double")
    ps = [0.1, 0.25, 0.5, 0.75, 0.9]
    sp = df.groupBy("g").agg(
        F.median("v").alias("med"),
        *[F.percentile("v", F.lit(p)).alias(f"p{i}") for i, p in enumerate(ps)],
    )
    spark_res = {r["g"]: r for r in sp.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    q = (
        "SELECT g, median(v) AS med, "
        + ", ".join(f"quantile_cont(v, {p}) AS p{i}" for i, p in enumerate(ps))
        + " FROM t GROUP BY g"
    )
    duck_res = {r[0]: r for r in con.execute(q).fetchall()}
    for g in groups:
        s, d = spark_res[g], duck_res[g]
        assert bits(s["med"]) == bits(d[1]), (groups[g], s["med"], d[1])
        for i in range(len(ps)):
            assert bits(s[f"p{i}"]) == bits(d[2 + i]), (
                ps[i], groups[g], s[f"p{i}"], d[2 + i],
            )


# ---------------------------------------------------------------------------
# Decimal -> double read-back: every exact DECIMAL aggregate must come
# back as the same double on both engines.  Spark's plain
# ``cast("double")`` is correctly rounded on every decimal width (the
# long-backed p <= 18 ones included); DuckDB's direct cast is not once
# the unscaled value exceeds 2^53, so ``dec_double_sql`` goes through the
# digit string.  Both must equal Python's correctly rounded
# ``float(str(d))`` bit for bit.
# ---------------------------------------------------------------------------

_READBACK_TYPES = [(38, 9), (30, 6), (18, 6), (38, 0)]


def test_decimal_readback_bitwise_match_duckdb(spark):
    import random
    import struct
    from decimal import Decimal

    import duckdb
    from pyspark.sql import functions as F

    from network_ids_using_pyspark_spark.functions.numeric import dec_double_sql

    rnd = random.Random(20261020)

    def draw(p, s):
        # unscaled values of 16..p digits, all above 2^53
        nd = rnd.randint(16, p)
        u = rnd.randrange(max(2**53 + 1, 10 ** (nd - 1)), 10**nd)
        return str(Decimal(rnd.choice((-1, 1)) * u).scaleb(-s))

    n = 500
    cols = [f"c{p}_{s}" for p, s in _READBACK_TYPES]
    rows = [(k, *(draw(p, s) for p, s in _READBACK_TYPES)) for k in range(n)]

    def bits(x):
        return struct.pack("<d", x)

    want = [[bits(float(r[1 + i])) for r in rows] for i in range(len(cols))]

    df = spark.createDataFrame(rows, "k int, " + ", ".join(f"{c} string" for c in cols))
    got = sorted(df.select("k", *[
        F.col(c).cast(f"decimal({p}, {s})").cast("double").alias(c)
        for c, (p, s) in zip(cols, _READBACK_TYPES)
    ]).collect())

    con = duckdb.connect()
    con.execute(f"CREATE TABLE t(k INTEGER, {', '.join(f'{c} VARCHAR' for c in cols)})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * (1 + len(cols)))})", rows)
    duck = con.execute(
        "SELECT k, "
        + ", ".join(
            dec_double_sql(f"CAST({c} AS DECIMAL({p}, {s}))")
            for c, (p, s) in zip(cols, _READBACK_TYPES)
        )
        + " FROM t ORDER BY k"
    ).fetchall()
    for i, c in enumerate(cols):
        assert [bits(r[1 + i]) for r in got] == want[i], c
        assert [bits(r[1 + i]) for r in duck] == want[i], c
