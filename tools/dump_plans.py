#!/usr/bin/env python3
"""Dump `.explain("formatted")` for the named registry keys.

Usage: dump_plans.py TAG SUFFIX KEY [KEY ...]
  Writes plans/<TAG>/<KEY>_<SUFFIX>.txt under the checkout this tool
  lives in. SUFFIX is usually "before" or "after": take the "before"
  dumps by running this file from a checkout of the parent commit.
  Plans are captured at the package's DEFAULT_SF_DIR
  ($SPARK_GRAFT_SF_DIR, the bench tier) so PushedFilters / partition
  counts match what the bench executes. The index dir, the data dir's
  index tag and the data dir are written as <index_dir>, <sf_tag> and
  <sf_dir>, so dumps from two checkouts or two index dirs differ only
  where the plans differ.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from samza_hello_samza_spark.operators.ann_index import _tag  # noqa: E402
from samza_hello_samza_spark.registry import all_queries  # noqa: E402
from samza_hello_samza_spark.session import (  # noqa: E402
    DEFAULT_SF_DIR,
    get_spark,
    index_base_dir,
)


def scrub_paths(plan: str) -> str:
    """``plan`` with the machine's paths replaced by placeholders,
    longest first, so a path that contains another is replaced whole."""
    subs = {
        os.path.abspath(index_base_dir()): "<index_dir>",
        _tag(DEFAULT_SF_DIR): "<sf_tag>",
        os.path.abspath(DEFAULT_SF_DIR): "<sf_dir>",
    }
    for path in sorted(subs, key=len, reverse=True):
        plan = plan.replace(path, subs[path])
    return plan


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    tag, suffix, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    out = os.path.join(HERE, "plans", tag)
    os.makedirs(out, exist_ok=True)
    spark = get_spark(f"dump-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    queries = all_queries()
    for k in keys:
        fn = queries.get(k)
        if fn is None:
            print(f"skip {k}: not registered", file=sys.stderr)
            continue
        try:
            df = fn(spark, DEFAULT_SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            plan = f"ERROR: {exc}"
        plan = scrub_paths(plan)
        with open(os.path.join(out, f"{k}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"dumped {tag}/{k}_{suffix}.txt ({len(plan)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()
