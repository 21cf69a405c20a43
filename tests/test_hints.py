"""maybe_broadcast: hint only when Catalyst's size estimate fits."""

from __future__ import annotations

from pyspark.sql import functions as F

from samza_hello_samza_spark.functions.hints import maybe_broadcast, plan_size_bytes
from samza_hello_samza_spark.session import load_table
from tests.conftest import SF_DIR


def test_plan_size_is_real_for_parquet_scan(spark):
    size = plan_size_bytes(load_table(spark, SF_DIR, "customer"))
    assert size is not None and 0 < size < (1 << 40)


def test_small_dim_gets_hint(spark):
    cust = load_table(spark, SF_DIR, "customer")
    hinted = maybe_broadcast(cust)
    assert hinted is not cust
    plan = hinted.join(
        load_table(spark, SF_DIR, "orders"),
        hinted.c_custkey == F.col("o_custkey"),
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_oversized_frame_is_declined(spark):
    """A frame over budget comes back unhinted — strategy left to AQE."""
    cust = load_table(spark, SF_DIR, "customer")
    assert maybe_broadcast(cust, max_bytes=1) is cust


def test_unknown_size_is_declined(spark):
    """No stats (e.g. local-relation edge) must mean NO forced broadcast."""
    # a frame whose estimate exceeds any realistic budget: simulate by
    # budget 0 — the contract is "decline unless provably small".
    df = spark.range(10).toDF("id")
    assert maybe_broadcast(df, max_bytes=0) is df
