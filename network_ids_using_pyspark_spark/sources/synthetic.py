"""Deterministic synthetic flow-record generator (FIXTURES.md §1).

The driver's testdata has no ``flows`` table, so the reference-shaped
fixture (CICFlowMeter-style columns incl. spaces/``/`` in names, dirty
numerics, 3 skewed label classes with separable feature distributions —
SURVEY.md §1) is generated *in Spark*: ``spark.range(n)`` plus portable-
hash pseudo-randoms.  Fully distributed and reproducible — no driver-side
data, no RNG state; row i's values depend only on (seed, i), so any
partitioning of the range produces the same table.

Used by the ML-parity queries and golden-metric tests (BASELINE.md
floors: RF/DT ≥ .99 f1 on separable classes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import portable_uniform, portable_uniform_sql

LABELS = ("Benign", "FTP-BruteForce", "SSH-BruteForce")


def _u(seed: str) -> Column:
    """Uniform(0,1) from the row id — portable, deterministic."""
    return portable_uniform(F.col("id"), seed=seed)


def synth_flow_columns(seed: str = "flows") -> dict[str, Column]:
    """The generator's portable columns over ``spark.range``'s ``id``:
    label, class index, ``dst_port``, ``protocol``, ``flow_duration``
    (dirty), SYN, ACK and epoch seconds.  :func:`synth_flows` builds its
    table from these; :func:`synth_flows_sql` is their DuckDB twin."""
    u_label = _u(seed + ":label")
    cls = F.when(u_label < 0.85, 0).when(u_label < 0.95, 1).otherwise(2)
    dur = (1 + F.floor(_u(seed + ":dur") * 120_000_000)).cast("long")
    port_u = _u(seed + ":port")
    return {
        "label": F.when(u_label < 0.85, LABELS[0])
        .when(u_label < 0.95, LABELS[1])
        .otherwise(LABELS[2]),
        # class index 0/1/2 drives the feature shifts
        "cls": cls,
        "dst_port": F.when(cls == 1, 21)  # FTP brute force → port 21
        .when(cls == 2, 22)  # SSH brute force → port 22
        .when(port_u < 0.4, 80)
        .when(port_u < 0.7, 443)
        .when(port_u < 0.8, 3389)
        .otherwise(65533)
        .cast("int"),
        "protocol": F.when(_u(seed + ":proto") < 0.8, 6).otherwise(17).cast("int"),
        "flow_duration": F.when(
            _u(seed + ":dneg") < 0.001, F.lit(-919_011_000_000)
        ).otherwise(dur),
        "syn": (_u(seed + ":syn") < 0.2 + cls * 0.3).cast("int"),
        "ack": (_u(seed + ":ack") < 0.6).cast("int"),
        "epoch": F.lit(1518568261) + F.floor(_u(seed + ":ts") * 86400).cast("long"),
    }


def synth_flows_sql(n: int, seed: str = "flows") -> str:
    """DuckDB twin of :func:`synth_flow_columns` over ids 0..n-1: the
    columns ``label``, ``cls``, ``dst_port``, ``protocol``,
    ``flow_duration``, ``syn``, ``ack`` and ``epoch``, with the same
    values as rows 0..n-1 of :func:`synth_flows`.  The exp/pow columns
    (packet counts and rates) are left out: transcendentals are not
    portable across engines (see functions/numeric.py)."""

    def u(name: str) -> str:
        return portable_uniform_sql("id", seed=f"{seed}:{name}")

    cls = "CASE WHEN u_label < 0.85 THEN 0 WHEN u_label < 0.95 THEN 1 ELSE 2 END"
    return f"""
    SELECT
      CASE WHEN u_label < 0.85 THEN '{LABELS[0]}'
           WHEN u_label < 0.95 THEN '{LABELS[1]}'
           ELSE '{LABELS[2]}' END AS label,
      {cls} AS cls,
      CAST(CASE WHEN u_label >= 0.85 AND u_label < 0.95 THEN 21
                WHEN u_label >= 0.95 THEN 22
                WHEN u_port < 0.4 THEN 80
                WHEN u_port < 0.7 THEN 443
                WHEN u_port < 0.8 THEN 3389
                ELSE 65533 END AS INTEGER) AS dst_port,
      CAST(CASE WHEN u_proto < 0.8 THEN 6 ELSE 17 END AS INTEGER) AS protocol,
      CASE WHEN u_dneg < 0.001 THEN -919011000000
           ELSE CAST(1 + floor(u_dur * 120000000) AS BIGINT) END AS flow_duration,
      CASE WHEN u_syn < 0.2 + ({cls}) * 0.3 THEN 1 ELSE 0 END AS syn,
      CASE WHEN u_ack < 0.6 THEN 1 ELSE 0 END AS ack,
      1518568261 + CAST(floor(u_ts * 86400) AS BIGINT) AS epoch
    FROM (
      SELECT {u('label')} AS u_label, {u('dur')} AS u_dur,
             {u('dneg')} AS u_dneg, {u('port')} AS u_port,
             {u('proto')} AS u_proto, {u('syn')} AS u_syn,
             {u('ack')} AS u_ack, {u('ts')} AS u_ts
      FROM range(0, {n}) t(id)
    )"""


def synth_flows(spark: SparkSession, n_rows: int, seed: str = "flows") -> DataFrame:
    """Reference-shaped flow table with per-class feature shifts.

    Label mix ≈ 85/10/5 (``ISAA_Review_3.ipynb:193-195``); per-class
    means are separated by ≫ the in-class spread so tree models reach
    the BASELINE f1 floors.  Dirty-data rates per FIXTURES.md §1:
    0.5% NULL in ``Flow Byts/s``, 0.3% +Inf / 0.2% NaN in
    ``Flow Pkts/s``, 0.1% negative garbage in ``Flow Duration``.
    """
    df = spark.range(n_rows)
    c = synth_flow_columns(seed)
    cls = c["cls"]

    fwd_pkts = (1 + F.floor(F.pow(_u(seed + ":fp"), 3.0) * (100 + cls * 400))).cast("int")
    byts = F.round(
        F.exp(_u(seed + ":byts") * 3.0 + 4.0 + cls * 2.0), 3
    )  # log-normal-ish, class-shifted
    dirty_byts = F.when(_u(seed + ":bnull") < 0.005, F.lit(None).cast("double")).otherwise(byts)
    pkts = F.round(F.exp(_u(seed + ":pkts") * 2.5 + 2.0 + cls * 1.5), 3)
    u_pk = _u(seed + ":pinf")
    dirty_pkts = (
        F.when(u_pk < 0.003, F.lit(float("inf")))
        .when(u_pk < 0.005, F.lit(float("nan")))
        .otherwise(pkts)
    )

    ts = F.date_format(F.timestamp_seconds(c["epoch"]), "dd/MM/yyyy HH:mm:ss")

    out = df.select(
        (F.col("id") + 1).alias("flow_id"),
        c["dst_port"].alias("Dst Port"),
        c["protocol"].alias("Protocol"),
        ts.alias("Timestamp"),
        c["flow_duration"].alias("Flow Duration"),
        fwd_pkts.alias("Tot Fwd Pkts"),
        (fwd_pkts * (40 + F.floor(_u(seed + ":plen") * 1400)).cast("int")).alias(
            "TotLen Fwd Pkts"
        ),
        F.round(_u(seed + ":flm") * 500 + cls * 300, 3).alias("Fwd Pkt Len Mean"),
        dirty_byts.alias("Flow Byts/s"),
        dirty_pkts.alias("Flow Pkts/s"),
        F.round(_u(seed + ":iat") * 1000 + cls * 2000, 3).alias("Flow IAT Mean"),
        c["syn"].alias("SYN Flag Cnt"),
        c["ack"].alias("ACK Flag Cnt"),
        F.floor(_u(seed + ":dur2") * (1 + cls * 4)).cast("int").alias("Down/Up Ratio"),
        F.when(_u(seed + ":iwb") < 0.1, -1)
        .otherwise(F.floor(_u(seed + ":iwb2") * 65535) + 1)
        .cast("int")
        .alias("Init Fwd Win Byts"),
        c["label"].alias("Label"),
    )
    return out


def synth_flows_ref_width(
    spark: SparkSession, n_rows: int, seed: str = "flows"
) -> DataFrame:
    """The flow fixture at the reference's REAL width: all 80
    CICFlowMeter-v3 columns (``ISAA_Review_3.ipynb:434-514``), typed per
    ``sources.cicflowmeter.CICFLOWMETER_SCHEMA``.

    The 15 behavior-bearing columns come from :func:`synth_flows`
    verbatim; the remaining 65 are deterministic hash-derived fillers
    with a per-class mean shift (so the full 78-feature assembler /
    ``[78, …]`` MLP shape trains to the BASELINE floors).  Row i depends
    only on (seed, i) — distributed, no RNG state."""
    from .cicflowmeter import _COLS

    base = synth_flows(spark, n_rows, seed)
    cls = (
        F.when(F.col("Label") == LABELS[0], 0)
        .when(F.col("Label") == LABELS[1], 1)
        .otherwise(2)
    )

    present = set(base.columns)
    fillers = {}
    for name, t in _COLS:
        if name in present:
            continue
        u = portable_uniform(F.col("flow_id"), seed=f"{seed}:rw:{name}")
        if t == "i":
            fillers[name] = F.floor(u * 1000 + cls * 200).cast("int")
        elif t == "l":
            fillers[name] = F.floor(u * 1_000_000 + cls * 200_000).cast("long")
        else:  # 'd'
            fillers[name] = F.round(u * 100 + cls * 20, 3)
    return base.withColumns(fillers).select(*[name for name, _ in _COLS])
