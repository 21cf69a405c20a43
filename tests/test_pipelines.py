"""3-stage wikipedia topology ≡ the single-query batch stats."""

from __future__ import annotations

from samza_hello_samza_spark.operators import samza_surface
from samza_hello_samza_spark.streaming import pipelines, sources
from samza_hello_samza_spark.streaming.runner import run_stream_to_memory
from tests.conftest import SF_DIR


def test_topology_matches_batch_stats(spark, tmp_path):
    events = sources.events_stream(spark, SF_DIR)
    stats = pipelines.run_wikipedia_topology(spark, events, str(tmp_path))
    got = run_stream_to_memory(stats, mode="update")
    cols = stats.columns  # every window column; edits_all_time is batch-only
    want = samza_surface.wikipedia_stats(spark, SF_DIR).select(*cols).collect()
    got_set = sorted(tuple(r[c] for c in cols) for r in got)
    want_set = sorted(tuple(r[c] for c in cols) for r in want)
    assert got_set == want_set
