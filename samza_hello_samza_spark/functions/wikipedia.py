"""Wikipedia edit-event parsing, Spark-first.

Reference: /root/reference/src/main/java/samza/examples/wikipedia/
model/WikipediaParser.java:46-80 — a regex over raw IRC lines
``[[title]] flags diffUrl * user * (+byteDiff) summary`` producing
title/user/flags/diff-bytes/diff-url/summary plus derived boolean
flags (is-minor/new/unpatrolled/bot-edit/special/talk).

Here the parse is a pure column expression (one ``regexp_replace``),
so it stays inside whole-stage codegen — no Python in the hot path. The
driver's testdata has no IRC lines, so :func:`synthesize_raw_line`
deterministically builds reference-format lines from the ``events``
table; parsing then recovers structure exactly as the reference does.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Variant of the reference regex (WikipediaParser.java:47), verified
# group-for-group identical on every parseable line of the reference's
# real committed IRC feeds (tests/fixtures/wikipedia/, 986 lines —
# tests/test_wikipedia_functions.py): title is greedy `(.*)` (titles
# may contain `]`; backtracking lands on the same `]]` the reference
# picks), flags/url stay `\S*` (the feed guarantees them space-free),
# and the USER group is `(.*)` — real users like "Sam Sailor" contain
# spaces, which a `\S*` user group silently rejects. Greedy-capture
# semantics agree between Java regex (Spark) and RE2 (DuckDB oracle)
# for this pattern.
WIKI_EDIT_REGEX = r"\[\[(.*)\]\] (\S*) (\S*) \* (.*) \* \(\+?(-?\d+)\) (.*)"


def synthesize_raw_line(event_id: Column, user_id: Column, event_type: Column, value: Column) -> Column:
    """Deterministically build a reference-format raw edit line.

    Flags are derived from event columns: M(inor) for low-value
    edits, N(ew) for signups, B(ot) for even user ids — mirroring the
    flag semantics the reference parser extracts.
    """
    title = F.concat(
        F.when(event_type == "signup", F.lit("Special:")).otherwise(F.lit("")),
        F.lit("Page_"),
        (event_id % 97).cast("string"),
    )
    flags = F.concat(
        F.when(value < 100, F.lit("M")).otherwise(F.lit("")),
        F.when(event_type == "signup", F.lit("N")).otherwise(F.lit("")),
        F.when(user_id % 2 == 0, F.lit("B")).otherwise(F.lit("")),
        F.when(event_type == "error", F.lit("!")).otherwise(F.lit("")),
    )
    flags = F.when(flags == "", F.lit("-")).otherwise(flags)
    byte_diff = (value * 10).cast("long") - 500
    return F.concat(
        F.lit("[["), title, F.lit("]] "),
        flags, F.lit(" "),
        F.lit("https://diff/"), event_id.cast("string"), F.lit(" * "),
        F.lit("user_"), user_id.cast("string"), F.lit(" * ("),
        F.when(byte_diff >= 0, F.lit("+")).otherwise(F.lit("")),
        byte_diff.cast("string"),
        F.lit(") edit summary "), (event_id % 13).cast("string"),
    )


def parse_raw_line(raw: Column) -> Column:
    """Parse a raw edit line into its six regex groups, as array<string>.

    One regex pass: ``regexp_replace`` rewrites the matched line into a
    ``\\x01``-delimited record which a plain ``split`` fans out — one
    regex evaluation per row instead of six ``regexp_extract`` calls
    (same pattern, same groups, same Java regex engine, so extracted
    values are identical on matching lines). An unparseable line (the
    reference logs-and-drops it, WikipediaParser.java:39) passes
    through ``regexp_replace`` unchanged, so its record has one element
    instead of six; a NULL line gives a NULL record.

    Project the record as a column once and gate on ``size(rec) = 6``
    before reading it with :func:`edit_fields`: an expression that
    repeats the parse repeats the regex.
    """
    sep = "\x01"
    return F.split(
        F.regexp_replace(raw, WIKI_EDIT_REGEX, sep.join(f"${g}" for g in range(1, 7))),
        sep,
    )


def edit_fields(rec: Column) -> dict[str, Column]:
    """The reference's output fields of a six-group record from
    :func:`parse_raw_line`, plus its derived boolean flags."""
    title = F.try_element_at(rec, F.lit(1))
    flags = F.try_element_at(rec, F.lit(2))
    return {
        "title": title,
        "unparsed_flags": flags,
        "diff_url": F.try_element_at(rec, F.lit(3)),
        "user": F.try_element_at(rec, F.lit(4)),
        "diff_bytes": F.try_element_at(rec, F.lit(5)).cast("long"),
        "summary": F.try_element_at(rec, F.lit(6)),
        # Derived flags, WikipediaParser.java:60-66.
        "is_minor": flags.contains("M"),
        "is_new": flags.contains("N"),
        "is_unpatrolled": flags.contains("!"),
        "is_bot_edit": flags.contains("B"),
        "is_special": title.startswith("Special:"),
        "is_talk": title.startswith("Talk:"),
    }
