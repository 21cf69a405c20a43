"""Analytics plans hash-match their DuckDB oracles at sf0.001."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from samza_hello_samza_spark.plans import analytics
from tests.conftest import SF_DIR, assert_matches_oracle

#: rows-only by design (sketch-based; no exact SQL equivalent).
NO_ORACLE = {"events_dau_approx"}


@pytest.mark.parametrize("name", sorted(set(analytics.QUERIES) - NO_ORACLE))
def test_oracle_match(spark, duck, name):
    assert name in analytics.ORACLES, f"{name} missing oracle"
    assert_matches_oracle(
        spark, duck, analytics.QUERIES[name], analytics.ORACLES[name]
    )


def test_dau_approx_close_to_exact(spark):
    """HLL++ sketch stays within 5% of the exact distinct count."""
    exact = {r.day: r.dau for r in analytics.events_dau(spark, SF_DIR).collect()}
    approx = {
        r.day: r.dau for r in analytics.events_dau_approx(spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(1, 0.05 * n), (day, n, approx[day])


def test_q3_revenue_rounds_a_half_cent_sum_up(spark, tmp_path):
    """An order whose exact revenue ends on a half cent: summed in
    double it is 390294.77499999997, which one engine rounds to .78 and
    the other to .77. Summed as DECIMAL money both give .78."""
    day = dt.datetime(1997, 6, 1)
    tables = {
        "customer": pa.table({"c_custkey": [113], "c_mktsegment": ["BUILDING"]}),
        "orders": pa.table({
            "o_orderkey": [565], "o_custkey": [113],
            "o_orderdate": [dt.datetime(1996, 3, 17)],
        }),
        "lineitem": pa.table({
            "l_orderkey": [565] * 6,
            "l_extendedprice": [7505.53, 102980.71, 87178.5, 63020.37, 62565.36, 88573.3],
            "l_discount": [0.04, 0.03, 0.09, 0.05, 0.1, 0.01],
            "l_shipdate": [day] * 6,
        }),
    }
    con = duckdb.connect()
    for name, table in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    assert con.execute(
        "SELECT sum(l_extendedprice * (1 - l_discount)) FROM lineitem"
    ).fetchone()[0] == 390294.77499999997
    got = analytics.q3_shipping_priority(spark, str(tmp_path)).collect()
    assert [r.revenue for r in got] == [390294.78]
    oracle = con.execute(analytics.ORACLES["q3_shipping_priority"]).fetchall()
    assert [r[2] for r in oracle] == [390294.78]
