"""Bucketed-table co-located join: pre-bucketing both sides on the join
key removes the exchange entirely — the 100 TB pattern for repeated
fact-fact joins.  Asserted at the plan level and value-checked against
the plain join."""

from __future__ import annotations

import pytest

from network_ids_using_pyspark_spark.plans.inspect import count_shuffles
from network_ids_using_pyspark_spark.session import scratch_dir
from network_ids_using_pyspark_spark.sources.bucketed import write_bucketed
from network_ids_using_pyspark_spark.sources.tables import load_table

from .conftest import SF_DIR


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, no_broadcast):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", "l_orderkey", 8, path=scratch_dir(spark, "li-b"))
    write_bucketed(o, "o_b", "o_orderkey", 8, path=scratch_dir(spark, "o-b"))

    bucketed = spark.table("li_b").join(
        spark.table("o_b"), spark.table("li_b").l_orderkey == spark.table("o_b").o_orderkey
    )
    plain = li.join(o, li.l_orderkey == o.o_orderkey)

    assert count_shuffles(bucketed) == 0  # co-located: no exchange at all
    assert count_shuffles(plain) >= 1  # unbucketed SMJ shuffles both sides
    assert bucketed.count() == plain.count()
