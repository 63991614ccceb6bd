"""Spark's generated-code cache holds the engine's working set.

``get_spark`` sizes ``spark.sql.codegen.cache.maxEntries`` so that a repeated
plan reuses its compiled classes. At Spark's default of 100 entries a pass
over more than 100 distinct generated classes evicts its own classes, and
every later pass recompiles all of them with Janino.
"""

from __future__ import annotations

from conftest import SF_SMALL

from data_lake_medallion_architecture_project_spark.session import CODEGEN_CACHE_ENTRIES
from tools.codegen_report import run_pass

# Bench queries whose plans no earlier test file builds, so the first run
# compiles their classes here (about 240 on a fresh session, more than the old
# default of 100). None compiled anything in four repeat passes.
QUERIES = (
    "kmv_priority_customer_overlap",
    "customer_rfm_scores",
    "customer_segment_revenue",
    "order_price_ddsketch",
    "nation_yoy_revenue",
    "orders_reconciliation_diff",
    "purchases_with_last_click",
    "category_sales_summary",
    "event_net_position",
    "daily_sales_summary",
    "customer_top_orders",
    "native_session_windows",
    "clicks_after_purchase",
    "order_count_distribution",
)

# Compiles allowed on the repeat run. Some bench queries, left out of the list,
# now and then generate a few new classes when built again (8 seen for
# hll_weekly_users_md5); at the old default the repeat recompiled them all.
MAX_REPEAT_COMPILES = 10


def test_repeated_queries_reuse_compiled_classes(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    first = run_pass(spark, QUERIES, SF_SMALL)["janino"]
    second = run_pass(spark, QUERIES, SF_SMALL)["janino"]
    assert first > 100, f"the query list compiled only {first} classes"
    assert second <= MAX_REPEAT_COMPILES, (
        f"the repeat run recompiled {second} of {first} classes"
    )
