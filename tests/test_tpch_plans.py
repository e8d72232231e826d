"""Structural plan guards for the TPC-H sweep: every dimension join must
broadcast (no sort-merge join anywhere at test scale), selective predicates
must reach the parquet scan, and exchange counts stay bounded — the SCALE.md
invariants as regression tests.
"""

from __future__ import annotations

import pytest

from feature_store_healthcare_spark import plans
from feature_store_healthcare_spark import queries as catalog

#: (query, its bound from when plans.count_exchanges also counted hash
#: broadcasts): kept as the case ids, so the ids stay stable; the bound
#: test_tpch_plan_shape asserts is in SHUFFLES
SWEEP = [
    ("q4_order_priority", 3),
    ("q6_revenue_forecast", 1),
    ("q7_volume_shipping", 6),
    ("q8_market_share", 8),
    ("q10_returned_items", 4),
    ("q13_customer_distribution", 3),
    ("q14_promo_revenue", 2),
    ("q15_top_supplier", 5),
    ("q17_small_quantity_revenue", 4),
    ("q19_disjunctive_predicates", 2),
    ("q2_min_cost_supplier", 6),
    ("q9_product_type_profit", 5),
    ("q11_important_stock", 9),
    ("q12_late_lines_priority", 2),
    ("q16_supplier_part_counts", 4),
    ("q20_potential_promotion", 6),
    ("q21_suppliers_kept_waiting", 7),
    ("q22_global_sales_opportunity", 3),
]

#: shuffle exchanges per query at most (``plans.count_exchanges``)
SHUFFLES = {
    "q4_order_priority": 1,
    "q6_revenue_forecast": 1,
    "q7_volume_shipping": 1,
    "q8_market_share": 1,
    "q10_returned_items": 1,
    "q13_customer_distribution": 2,
    "q14_promo_revenue": 1,
    "q15_top_supplier": 3,
    "q17_small_quantity_revenue": 2,
    "q19_disjunctive_predicates": 1,
    "q2_min_cost_supplier": 2,
    "q9_product_type_profit": 1,
    "q11_important_stock": 3,
    "q12_late_lines_priority": 1,
    "q16_supplier_part_counts": 2,
    "q20_potential_promotion": 3,
    "q21_suppliers_kept_waiting": 1,
    "q22_global_sales_opportunity": 2,
}


def test_q2_and_q21_use_take_ordered(spark, sf_dir):
    for name in ("q2_min_cost_supplier", "q21_suppliers_kept_waiting"):
        df = catalog.queries()[name](spark, sf_dir)
        assert plans.uses_take_ordered(df), f"{name}: sort+limit must collapse to top-k"


@pytest.mark.parametrize("name,_old_bound", SWEEP)
def test_tpch_plan_shape(spark, sf_dir, name, _old_bound):
    df = catalog.queries()[name](spark, sf_dir)
    assert plans.count_sort_merge_joins(df) == 0, f"{name}: dim join lost broadcast"
    assert plans.count_exchanges(df) <= SHUFFLES[name], (
        f"{name}: {plans.count_exchanges(df)} exchanges (max {SHUFFLES[name]})"
    )
    assert any(f.strip() for f in plans.pushed_filters(df)), (
        f"{name}: no predicate reached the scan"
    )


def test_q10_uses_take_ordered(spark, sf_dir):
    df = catalog.queries()["q10_returned_items"](spark, sf_dir)
    assert plans.uses_take_ordered(df), "sort+limit must collapse to top-k"
