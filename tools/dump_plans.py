#!/usr/bin/env python3
"""Dump `.explain("formatted")` for the named registry keys.

Usage: dump_plans.py TAG SUFFIX KEY [KEY ...]
  Writes plans/<TAG>/<KEY>_<SUFFIX>.txt under the checkout this tool
  lives in. SUFFIX is usually "before" or "after": take the "before"
  dumps by running this file from a checkout of the parent commit.
  Plans are captured at the package's DEFAULT_SF_DIR
  ($SPARK_GRAFT_SF_DIR, the bench tier) so PushedFilters / partition
  counts match what the bench executes. Each key runs in its own
  released() scope, as in bench.py and driver_sim.py: a warm-up call
  runs in full through the noop sink, and the plan dumped is that of a
  second call. Every layout the key builds then exists and every cache
  it fills is filled, so an InMemoryRelation renders the same whether
  the index dir started cold or warm. The index dir, the data dir's
  index tag, the data dir and part-file write ids are written as
  <index_dir>, <sf_tag>, <sf_dir> and <uuid>, and the ids that follow
  the process's history or run-time order are renumbered
  (renumber_ids), so dumps from two checkouts, two index dirs or two
  processes differ only where the plans differ.
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from samza_hello_samza_spark.operators.ann_index import _tag  # noqa: E402
from samza_hello_samza_spark.registry import all_queries  # noqa: E402
from samza_hello_samza_spark.session import (  # noqa: E402
    DEFAULT_SF_DIR,
    get_spark,
    index_base_dir,
    released,
)


def scrub_paths(plan: str) -> str:
    """``plan`` with the machine's paths replaced by placeholders,
    longest first, so a path that contains another is replaced whole,
    and the write id in each part-file name by <uuid>."""
    subs = {
        os.path.abspath(index_base_dir()): "<index_dir>",
        _tag(DEFAULT_SF_DIR): "<sf_tag>",
        os.path.abspath(DEFAULT_SF_DIR): "<sf_dir>",
    }
    for path in sorted(subs, key=len, reverse=True):
        plan = plan.replace(path, subs[path])
    return re.sub(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", plan)


def renumber_ids(plan: str) -> str:
    """``plan`` with each id that depends on the process's history or on
    run-time order replaced by its rank of first appearance. Expression
    ids (``name#123``), exchange plan ids, RDD ids and lambda variable
    suffixes count up over the process's life. An executed adaptive
    plan numbers its query stages and codegen stages in the order they
    ran, so those ranks restart at each ``AdaptiveSparkPlan`` entry."""
    ids: dict[str, dict[str, str]] = {}

    def rank(kind: str, old: str) -> str:
        seen = ids.setdefault(kind, {})
        return seen.setdefault(old, str(len(seen)))

    node, out = "", []
    for line in plan.split("\n"):
        header = re.match(r"\(\d+\) (\w+)", line)
        if header:
            node = header.group(1)
            if node == "AdaptiveSparkPlan":
                ids.pop("codegen", None)
                ids.pop("stage", None)
        line = re.sub(r"(#|plan_id=|RDD\[|lambda x_)(\d+)", lambda m: m[1] + rank(m[1], m[2]), line)
        line = re.sub(r"(\[codegen id : )(\d+)", lambda m: m[1] + rank("codegen", m[2]), line)
        if node.endswith("QueryStage"):
            line = re.sub(r"^(Arguments: )(\d+)$", lambda m: m[1] + rank("stage", m[2]), line)
        out.append(line)
    return "\n".join(out)


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
            with released():
                fn(spark, DEFAULT_SF_DIR).write.mode("overwrite").format("noop").save()
                df = fn(spark, DEFAULT_SF_DIR)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
        except Exception as exc:
            plan = f"ERROR: {exc}"
        plan = renumber_ids(scrub_paths(plan))
        with open(os.path.join(out, f"{k}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"dumped {tag}/{k}_{suffix}.txt ({len(plan)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()
