"""``tools/plan_audit.py``'s ``plan`` column: one digest when a query's two
builds agree up to the masked per-run values, ``unstable`` when they do not."""

from __future__ import annotations

from tools.plan_audit import plan_column, plan_digest

#: two builds of one query whose ``Expand`` lists its distinct-aggregate
#: groups in exprId order (``decontaminate_overlap``'s shape)
_FIRST = """Aggregate [count(distinct a#12) AS n_a#40L, count(distinct b#13) AS n_b#41L]
  Expand [[a#12, null, 1], [null, b#13, 2]], [a#50, b#51, gid#49]
    Relation [a#12,b#13] parquet"""
_SWAPPED = """Aggregate [count(distinct a#112) AS n_a#140L, count(distinct b#113) AS n_b#141L]
  Expand [[null, b#113, 2], [a#112, null, 1]], [a#150, b#151, gid#149]
    Relation [a#112,b#113] parquet"""


def test_builds_that_differ_only_in_masked_values_share_one_digest():
    renumbered = _FIRST.replace("#1", "#9").replace("#4", "#7")
    assert renumbered != _FIRST
    assert plan_column(_FIRST, renumbered) == plan_digest(_FIRST)
    assert len(plan_digest(_FIRST)) == 12
    # Spark numbers common-subexpression aliases per session (dq_audit_orders)
    common = "Project [(o_totalprice#3 <= 0.0) AS _common_expr_{}#7]"
    assert plan_column(common.format(4), common.format(9)) != "unstable"


def test_builds_whose_plans_differ_read_unstable():
    assert plan_digest(_FIRST) != plan_digest(_SWAPPED)
    assert plan_column(_FIRST, _SWAPPED) == "unstable"
    assert plan_column(_SWAPPED, _FIRST) == "unstable"
