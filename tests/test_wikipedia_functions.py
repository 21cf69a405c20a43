"""Wikipedia parser: hypothesis round-trip/parity properties PLUS a
replay of the reference's real committed IRC feed data
(tests/fixtures/wikipedia/, copied from the reference's Apache-2.0
test resources src/test/resources/Wiki*EditEvents.txt) — per-line
group parity with the reference regex (WikipediaParser.java:47) and
per-window stats over the full 995-line feed including its malformed
lines (the reference's TestWikipediaApplication analog on genuine
messy data)."""

from __future__ import annotations

import json
import os
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

# the same pattern the Spark column expression uses
from samza_hello_samza_spark.functions.wikipedia import WIKI_EDIT_REGEX

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "wikipedia")
FEED_FILES = [
    "WikipediaEditEvents.txt",
    "WikinewsEditEvents.txt",
    "WikitionaryEditEvents.txt",
]

# The reference's exact pattern (WikipediaParser.java:47). re.ASCII
# matches Java's default ASCII-only \s/\d semantics.
REF_PATTERN = re.compile(
    r"\[\[(.*)\]\]\s(.*)\s(.*)\s\*\s(.*)\s\*\s\(\+?(.\d*)\)\s(.*)", re.ASCII
)


def ref_parse(raw: str):
    """The reference parser's semantics: regex find + int byte-diff,
    None on any failure (WikipediaParser.java:46-80 log-and-drop)."""
    m = REF_PATTERN.search(raw)
    if not m:
        return None
    try:
        byte_diff = int(m.group(5))
    except ValueError:
        return None
    return {
        "title": m.group(1),
        "flags": m.group(2),
        "diff_url": m.group(3),
        "user": m.group(4),
        "diff_bytes": byte_diff,
        "summary": m.group(6),
    }


def build_line(title, flags, url, user, byte_diff, summary):
    sign = "+" if byte_diff >= 0 else ""
    return f"[[{title}]] {flags} {url} * {user} * ({sign}{byte_diff}) {summary}"


titles = st.text(
    alphabet=st.characters(
        blacklist_characters="]", blacklist_categories=("Cs", "Cc")
    ),
    min_size=0,
    max_size=30,
)
flags = st.text(alphabet="MNB!-", min_size=1, max_size=4)
words = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x024F
    ),
    min_size=1,
    max_size=12,
)
# real users may contain spaces ("Sam Sailor") — generate them too
users = st.lists(words, min_size=1, max_size=3).map(" ".join)
summaries = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
    min_size=0,
    max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(
    title=titles,
    flag=flags,
    url=words,
    user=users,
    byte_diff=st.integers(min_value=-10**9, max_value=10**9),
    summary=summaries,
)
def test_regex_parity_and_roundtrip(title, flag, url, user, byte_diff, summary):
    line = build_line(title, flag, f"https://d/{url}", user, byte_diff, summary)
    m = re.fullmatch(WIKI_EDIT_REGEX, line)
    assert m, f"regex failed on {line!r}"
    # parity with the reference's backtracking regex on EVERY line —
    # ambiguous summaries (containing ' * (' or ']]') shift group
    # boundaries identically in both engines.
    ref = ref_parse(line)
    assert ref is not None
    assert m.group(1) == ref["title"]
    assert m.group(2) == ref["flags"]
    assert m.group(3) == ref["diff_url"]
    assert m.group(4) == ref["user"]
    assert int(m.group(5)) == ref["diff_bytes"]
    assert m.group(6) == ref["summary"]
    # exact round-trip whenever the summary cannot create ambiguity
    if " * (" not in summary and "]]" not in summary:
        assert m.group(1) == title
        assert m.group(2) == flag
        assert m.group(4) == user
        assert int(m.group(5)) == byte_diff
        assert m.group(6) == summary


def _load_fixture_lines():
    """All feed lines: (raw or None-if-malformed-JSON, time_ms)."""
    out = []
    for fn in FEED_FILES:
        with open(os.path.join(FIXTURE_DIR, fn)) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    obj = json.loads(line)
                    out.append((obj["raw"], int(obj["time"])))
                except Exception:
                    out.append((None, None))
    return out


def test_fixture_has_real_messy_data():
    lines = _load_fixture_lines()
    assert len(lines) == 995
    assert sum(1 for r, _ in lines if r is None) == 9  # malformed JSON
    parsed = [ref_parse(r) for r, _ in lines if r is not None]
    assert all(p is not None for p in parsed)
    # the property that broke the \S* user group: spaces in usernames
    assert any(" " in p["user"] for p in parsed)
    # and empty flag fields ("[[title]]  https://...")
    assert any(p["flags"] == "" for p in parsed)


def test_real_feed_per_line_parser_parity(spark):
    """Every one of the 986 parseable real lines must produce exactly
    the reference parser's groups through the Spark column parse."""
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.functions.wikipedia import edit_fields, parse_raw_line

    raws = [r for r, _ in _load_fixture_lines() if r is not None]
    df = spark.createDataFrame([(r,) for r in raws], "raw string").select(
        "raw", parse_raw_line(F.col("raw")).alias("rec")
    )
    p = edit_fields(F.col("rec"))
    rows = df.select(
        "raw",
        (F.size("rec") == 6).alias("matched"),
        p["title"].alias("title"),
        p["unparsed_flags"].alias("flags"),
        p["diff_url"].alias("diff_url"),
        p["user"].alias("user"),
        p["diff_bytes"].alias("diff_bytes"),
        p["summary"].alias("summary"),
        p["is_minor"].alias("is_minor"),
        p["is_bot_edit"].alias("is_bot_edit"),
        p["is_special"].alias("is_special"),
        p["is_talk"].alias("is_talk"),
    ).collect()
    assert len(rows) == 986
    for r in rows:
        ref = ref_parse(r.raw)
        assert ref is not None and r.matched, r.raw
        assert r.title == ref["title"], r.raw
        assert r.flags == ref["flags"], r.raw
        assert r.diff_url == ref["diff_url"], r.raw
        assert r.user == ref["user"], r.raw
        assert r.diff_bytes == ref["diff_bytes"], r.raw
        assert r.summary == ref["summary"], r.raw
        assert r.is_minor == ("M" in ref["flags"]), r.raw
        assert r.is_bot_edit == ("B" in ref["flags"]), r.raw
        assert r.is_special == ref["title"].startswith("Special:"), r.raw
        assert r.is_talk == ref["title"].startswith("Talk:"), r.raw


def test_real_feed_topology_windowed_stats(spark):
    """Stream the genuine feed files through parser_job → stats_job and
    assert every 10-minute window's counts against an independently
    computed truth (reference regex + plain Python arithmetic). The 9
    malformed Wiktionary lines must be dropped, not counted."""
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.sources.connectors import file_json_stream
    from samza_hello_samza_spark.streaming import pipelines
    from samza_hello_samza_spark.streaming.runner import run_stream_to_memory

    schema = "channel STRING, raw STRING, time BIGINT, source STRING"
    stream = file_json_stream(spark, FIXTURE_DIR, schema)
    events = stream.select(
        F.col("time").alias("event_id"),
        F.timestamp_millis(F.col("time")).alias("ts"),
        "raw",
    )
    stats = pipelines.stats_job(pipelines.parser_job(events))
    got = {
        r.window_start_epoch: (r.edits, r.bytes_added, r.unique_titles, r.minor_edits)
        for r in run_stream_to_memory(stats, mode="update")
    }

    truth: dict[int, list] = {}
    for raw, time_ms in _load_fixture_lines():
        if raw is None:
            continue
        p = ref_parse(raw)
        if p is None:
            continue
        w = (time_ms // 1000) // 600 * 600
        agg = truth.setdefault(w, [0, 0, set(), 0])
        agg[0] += 1
        agg[1] += p["diff_bytes"]
        agg[2].add(p["title"])
        agg[3] += 1 if "M" in p["flags"] else 0
    want = {w: (a[0], a[1], len(a[2]), a[3]) for w, a in truth.items()}
    assert got == want
    assert sum(v[0] for v in want.values()) == 986
