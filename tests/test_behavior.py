"""Behavioral-analytics plans hash-match their DuckDB oracles at sf0.001."""

from __future__ import annotations

import pytest

from samza_hello_samza_spark.plans import behavior
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(behavior.QUERIES))
def test_oracle_match(spark, duck, name):
    assert name in behavior.ORACLES, f"{name} missing oracle"
    assert_matches_oracle(spark, duck, behavior.QUERIES[name], behavior.ORACLES[name])


def test_session_paths_agree_with_session_window(spark):
    """Path sessions and session_window sessions are the SAME sessions:
    one sessionizer ⇒ identical (user, session) count."""
    from samza_hello_samza_spark.operators.samza_surface import (
        session_window,
        sessionized,
    )
    from samza_hello_samza_spark.session import load_table

    n_sessions_sw = session_window(spark, SF_DIR).count()
    n_sessions_paths = (
        sessionized(load_table(spark, SF_DIR, "events"))
        .select("user_id", "session_id")
        .distinct()
        .count()
    )
    assert n_sessions_sw == n_sessions_paths


def test_session_paths_single_exchange(spark):
    """Break window, per-session rank window, and session groupBy all
    ride ONE user_id hash exchange (the (user_id, session_id) window's
    required clustering is satisfied by the user_id partitioning)."""
    plan = (
        behavior.session_paths(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # exchanges: 1 for user_id window chain, 1 for the path count agg,
    # 1 single-partition for the final top-k — no 4th exchange for the
    # per-session window.
    n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash_exchanges <= 2, plan[:3000]


def test_seasonality_index_averages_to_one(spark):
    rows = behavior.orders_seasonality(spark, SF_DIR).collect()
    assert len(rows) == 12
    mean_idx = sum(r.seasonality_index for r in rows) / 12
    assert abs(mean_idx - 1.0) < 0.01


def test_ntile_buckets_balanced(spark):
    """ntile(4) within each nation: bucket sizes differ by at most 1."""
    from collections import Counter

    rows = behavior.nation_month_rank(spark, SF_DIR).collect()
    per_nation: dict[str, Counter] = {}
    for r in rows:
        per_nation.setdefault(r.n_name, Counter())[r.quartile] += 1
    for nation, c in per_nation.items():
        sizes = [c[q] for q in sorted(c)]
        assert max(sizes) - min(sizes) <= 1, (nation, sizes)


def test_time_to_convert_bounds(spark):
    r = behavior.funnel_time_to_convert(spark, SF_DIR).collect()[0]
    assert r.n_converted <= r.n_viewers
    if r.n_converted:
        assert 0 <= r.p50_sec <= r.p90_sec


def test_recency_buckets_cover_all_users(spark):
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.session import load_table

    rows = behavior.user_recency_buckets(spark, SF_DIR).collect()
    n_users = load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    assert all(r.days_inactive >= 0 and r.value_at_risk >= 0 for r in rows)


def test_growth_accounting_identities(spark):
    """Per-day: active = new + retained + resurrected; day-1 is all
    new; churn(d) = active(d-1) - retained(d) on adjacent days; and
    total new over all days = total distinct users."""
    from samza_hello_samza_spark.plans.behavior import growth_accounting
    from samza_hello_samza_spark.session import load_table
    from tests.conftest import SF_DIR

    rows = sorted(growth_accounting(spark, SF_DIR).collect(), key=lambda r: r.day)
    assert rows
    by_day = {r.day: r for r in rows}
    first = rows[0]
    assert first.n_new == first.n_active and first.n_retained == 0
    assert first.n_churned == 0
    total_users = (
        load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert sum(r.n_new for r in rows) == total_users
    for r in rows:
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
        prev = by_day.get(r.day - 1)
        if prev is not None:
            assert r.n_churned == prev.n_active - r.n_retained
            assert r.n_retained <= prev.n_active
