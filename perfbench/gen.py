"""Seeded input generators for the benchmark (numpy + pyarrow only).

Nothing here imports Spark or the engine: the program under test only
ever receives the files written here.  Every file depends only on
(seed, stream, shard), so the same seed gives byte-identical files.

* ``write_flow_shards`` — reference-width CICFlowMeter CSV shards: a
  leading ``flow_id`` key, then the 80 CICFlowMeter-v3 columns in file
  order, with the reference's dirty values (NULL ``Flow Byts/s``,
  ±Infinity/NaN ``Flow Pkts/s``, negative ``Flow Duration``) and an
  85/10/5 label mix.
* ``write_stats_tables`` — the parquet tables the stats cohort reads
  (customer, orders, lineitem, documents, embeddings), shaped like the
  TPC-H-ish fixture tables: same schemas, key ranges and value domains.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

LABELS = ("Benign", "FTP-BruteForce", "SSH-BruteForce")

# (name, type) in CICFlowMeter-v3 file order; i=int, l=long, d=double, s=string.
FLOW_COLUMNS: list[tuple[str, str]] = [
    ("Dst Port", "i"), ("Protocol", "i"), ("Timestamp", "s"),
    ("Flow Duration", "l"), ("Tot Fwd Pkts", "i"), ("Tot Bwd Pkts", "i"),
    ("TotLen Fwd Pkts", "i"), ("TotLen Bwd Pkts", "i"),
    ("Fwd Pkt Len Max", "i"), ("Fwd Pkt Len Min", "i"),
    ("Fwd Pkt Len Mean", "d"), ("Fwd Pkt Len Std", "d"),
    ("Bwd Pkt Len Max", "i"), ("Bwd Pkt Len Min", "i"),
    ("Bwd Pkt Len Mean", "d"), ("Bwd Pkt Len Std", "d"),
    ("Flow Byts/s", "d"), ("Flow Pkts/s", "d"),
    ("Flow IAT Mean", "d"), ("Flow IAT Std", "d"),
    ("Flow IAT Max", "l"), ("Flow IAT Min", "l"),
    ("Fwd IAT Tot", "l"), ("Fwd IAT Mean", "d"), ("Fwd IAT Std", "d"),
    ("Fwd IAT Max", "l"), ("Fwd IAT Min", "l"),
    ("Bwd IAT Tot", "i"), ("Bwd IAT Mean", "d"), ("Bwd IAT Std", "d"),
    ("Bwd IAT Max", "i"), ("Bwd IAT Min", "i"),
    ("Fwd PSH Flags", "i"), ("Bwd PSH Flags", "i"),
    ("Fwd URG Flags", "i"), ("Bwd URG Flags", "i"),
    ("Fwd Header Len", "i"), ("Bwd Header Len", "i"),
    ("Fwd Pkts/s", "d"), ("Bwd Pkts/s", "d"),
    ("Pkt Len Min", "i"), ("Pkt Len Max", "i"),
    ("Pkt Len Mean", "d"), ("Pkt Len Std", "d"), ("Pkt Len Var", "d"),
    ("FIN Flag Cnt", "i"), ("SYN Flag Cnt", "i"), ("RST Flag Cnt", "i"),
    ("PSH Flag Cnt", "i"), ("ACK Flag Cnt", "i"), ("URG Flag Cnt", "i"),
    ("CWE Flag Count", "i"), ("ECE Flag Cnt", "i"),
    ("Down/Up Ratio", "i"), ("Pkt Size Avg", "d"),
    ("Fwd Seg Size Avg", "d"), ("Bwd Seg Size Avg", "d"),
    ("Fwd Byts/b Avg", "i"), ("Fwd Pkts/b Avg", "i"),
    ("Fwd Blk Rate Avg", "i"), ("Bwd Byts/b Avg", "i"),
    ("Bwd Pkts/b Avg", "i"), ("Bwd Blk Rate Avg", "i"),
    ("Subflow Fwd Pkts", "i"), ("Subflow Fwd Byts", "i"),
    ("Subflow Bwd Pkts", "i"), ("Subflow Bwd Byts", "i"),
    ("Init Fwd Win Byts", "i"), ("Init Bwd Win Byts", "i"),
    ("Fwd Act Data Pkts", "i"), ("Fwd Seg Size Min", "i"),
    ("Active Mean", "d"), ("Active Std", "d"),
    ("Active Max", "i"), ("Active Min", "i"),
    ("Idle Mean", "d"), ("Idle Std", "d"),
    ("Idle Max", "l"), ("Idle Min", "l"),
    ("Label", "s"),
]

_STREAMS = {"train": 1, "backlog": 2, "trickle": 3, "stats": 4}
_DAY0 = 1518568261  # 14/02/2018 00:31:01 UTC, the reference capture day


def _rng(seed: int, stream: str, shard: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream], shard])


def _flow_table(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """One shard of flows; class-shifted features so tree models separate
    the three labels, as the reference's CIC-IDS-2018 day-file does."""
    u = rng.random
    u_label = u(n)
    cls = np.where(u_label < 0.85, 0, np.where(u_label < 0.95, 1, 2))
    port_u = u(n)
    dst_port = np.select(
        [cls == 1, cls == 2, port_u < 0.4, port_u < 0.7, port_u < 0.8],
        [21, 22, 80, 443, 3389],
        65533,
    )
    dur = 1 + np.floor(u(n) * 120_000_000).astype(np.int64)
    dur[u(n) < 0.001] = -919_011_000_000
    fwd_pkts = 1 + np.floor(u(n) ** 3 * (100 + cls * 400)).astype(np.int64)
    byts = np.round(np.exp(u(n) * 3.0 + 4.0 + cls * 2.0), 3)
    byts_null = u(n) < 0.005
    pkts = np.round(np.exp(u(n) * 2.5 + 2.0 + cls * 1.5), 3)
    pk_u = u(n)
    pkts_text = pc.cast(pa.array(pkts), pa.string())
    pkts_text = pc.if_else(pa.array(pk_u < 0.002), "Infinity", pkts_text)
    pkts_text = pc.if_else(pa.array((pk_u >= 0.002) & (pk_u < 0.003)), "-Infinity", pkts_text)
    pkts_text = pc.if_else(pa.array((pk_u >= 0.003) & (pk_u < 0.005)), "NaN", pkts_text)
    ts = pc.strftime(
        pa.array((_DAY0 + np.floor(u(n) * 86400)).astype(np.int64), pa.timestamp("s")),
        format="%d/%m/%Y %H:%M:%S",
    )
    special = {
        "Dst Port": pa.array(dst_port, pa.int32()),
        "Protocol": pa.array(np.where(u(n) < 0.8, 6, 17), pa.int32()),
        "Timestamp": ts,
        "Flow Duration": pa.array(dur),
        "Tot Fwd Pkts": pa.array(fwd_pkts, pa.int32()),
        "TotLen Fwd Pkts": pa.array(fwd_pkts * (40 + np.floor(u(n) * 1400).astype(np.int64)), pa.int32()),
        "Fwd Pkt Len Mean": pa.array(np.round(u(n) * 500 + cls * 300, 3)),
        "Flow Byts/s": pa.array(byts, mask=byts_null),
        "Flow Pkts/s": pkts_text,
        "Flow IAT Mean": pa.array(np.round(u(n) * 1000 + cls * 2000, 3)),
        "SYN Flag Cnt": pa.array((u(n) < 0.2 + cls * 0.3).astype(np.int32)),
        "ACK Flag Cnt": pa.array((u(n) < 0.6).astype(np.int32)),
        "Down/Up Ratio": pa.array(np.floor(u(n) * (1 + cls * 4)).astype(np.int32)),
        "Init Fwd Win Byts": pa.array(
            np.where(u(n) < 0.1, -1, np.floor(u(n) * 65535) + 1).astype(np.int32)
        ),
        "Label": pa.array(np.array(LABELS, dtype=object)[cls], pa.string()),
    }
    cols = {"flow_id": pa.array(first_id + np.arange(n, dtype=np.int64))}
    for name, t in FLOW_COLUMNS:
        if name in special:
            cols[name] = special[name]
        elif t == "i":
            cols[name] = pa.array(np.floor(u(n) * 1000 + cls * 200).astype(np.int32))
        elif t == "l":
            cols[name] = pa.array(np.floor(u(n) * 1_000_000 + cls * 200_000).astype(np.int64))
        else:
            cols[name] = pa.array(np.round(u(n) * 100 + cls * 20, 3))
    return pa.table(cols)


def write_flow_shards(
    out_dir: str, seed: int, stream: str, n_shards: int, rows_per_shard: int
) -> list[str]:
    """Write ``n_shards`` CSV files of ``rows_per_shard`` flows each;
    flow ids are unique across the shards of one stream.  Returns the
    paths in shard order."""
    os.makedirs(out_dir, exist_ok=True)
    header = ",".join(["flow_id"] + [name for name, _ in FLOW_COLUMNS]) + "\n"
    opts = pcsv.WriteOptions(include_header=False, quoting_style="none")
    paths = []
    for shard in range(n_shards):
        table = _flow_table(_rng(seed, stream, shard), shard * rows_per_shard + 1, rows_per_shard)
        path = os.path.join(out_dir, f"{stream}-{shard:04d}.csv")
        with open(path, "wb") as f:
            f.write(header.encode())
            pcsv.write_csv(table, f, opts)
        paths.append(path)
    return paths


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small customer query filter "
    "group big vector stream"
).split()


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def write_stats_tables(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """Write the five parquet tables the stats cohort reads, sized by
    ``n_orders`` with the fixture's ratios (customer = orders/10,
    lineitem = 4 × orders).  Returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "stats", 0)
    n_cust, n_line = max(n_orders // 10, 10), 4 * n_orders
    n_docs, n_vecs = max(n_orders // 30, 50), max(n_orders // 75, 50)
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)], pa.string()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_orders)], pa.string()),
            "o_totalprice": pa.array(_cents(rng, n_orders, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)], pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)),
            "l_partkey": pa.array(rng.integers(0, max(n_orders * 2 // 15, 10), n_line)),
            "l_suppkey": pa.array(rng.integers(0, max(n_orders // 150, 10), n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, n_line, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)], pa.string()),
            "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)], pa.string()),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }),
    }
    words = np.array(_WORDS, dtype=object)
    lengths = rng.integers(8, 80, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    lang_u = rng.random(n_docs)
    langs = np.where(lang_u < 0.41, 0, 1 + np.floor((lang_u - 0.41) / 0.59 * 4).astype(int).clip(0, 3))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(_LANGS, dtype=object)[langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec_labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[vec_labels] + rng.normal(0.0, 0.8, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(vec_labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
