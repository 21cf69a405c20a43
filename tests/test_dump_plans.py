"""tools/dump_plans.py: dumps of one plan from two processes compare equal."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "dump_plans",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "dump_plans.py"),
)
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)

#: one executed adaptive plan, as two processes rendered it: other
#: expression, exchange, RDD and lambda ids, and the two cached stages
#: numbered in the other run-time order
_COLD = """\
(1) Scan ExistingRDD
Arguments: [src#120L], MapPartitionsRDD[194] at localCheckpoint
(2) AdaptiveSparkPlan
Arguments: isFinalPlan=true
(3) TableCacheQueryStage
Output [1]: [doc_id#7L]
Arguments: 0
(4) Filter [codegen id : 1]
Condition : exists(w#9, lambdafunction(lambda x_3#11 = a, lambda x_3#11, false))
(5) BroadcastQueryStage
Output [1]: [doc_id#7L]
Arguments: 2
(6) Filter [codegen id : 2]
Condition : isnotnull(doc_id#7L)
(7) ShuffleQueryStage
Output [1]: [doc_id#7L]
Arguments: 1
(8) Exchange
Arguments: hashpartitioning(doc_id#7L, 32), ENSURE_REQUIREMENTS, [plan_id=4826]
"""


def _warm(plan: str) -> str:
    for a, b in (
        ("#120L", "#5L"), ("RDD[194]", "RDD[117]"), ("#7L", "#3L"), ("#9", "#4"),
        ("x_3#11", "x_4#12"), ("plan_id=4826", "plan_id=402"),
        ("codegen id : 1", "codegen id : X"), ("codegen id : 2", "codegen id : 1"),
        ("codegen id : X", "codegen id : 2"),
        ("Arguments: 2\n", "Arguments: X\n"), ("Arguments: 1\n", "Arguments: 2\n"),
        ("Arguments: X\n", "Arguments: 1\n"),
    ):
        plan = plan.replace(a, b)
    return plan


def test_process_and_run_order_ids_renumber_equal():
    warm = _warm(_COLD)
    assert warm != _COLD
    assert dump_plans.renumber_ids(warm) == dump_plans.renumber_ids(_COLD)


def test_a_real_plan_difference_survives():
    other = _COLD.replace("32), ENSURE", "16), ENSURE")
    assert dump_plans.renumber_ids(other) != dump_plans.renumber_ids(_COLD)
    moved = _COLD.replace("Condition : isnotnull(doc_id#7L)", "Condition : isnotnull(w#9)")
    assert dump_plans.renumber_ids(moved) != dump_plans.renumber_ids(_COLD)
