"""Pins for the shipped SparkSession (`session.get_spark`).

The suite's session-scoped ``spark`` fixture comes from ``get_spark``, so
these tests read the settings every test, the bench and the server run
under.
"""

from __future__ import annotations

from distributed_database_for_sql_spark.queries import registry

# the eleven registry reads perfbench's analytics_read workload repeats:
# together they generate more classes than Spark's default 100-entry
# codegen cache holds
REPEATED_READS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q9_product_profit",
    "q13_customer_distribution", "q18_large_volume_customer",
    "q21_waiting_orders", "window_topk_per_group", "agg_rollup",
)


def test_shipped_session_settings(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "5000"
    assert conf.get("spark.speculation") == "false"
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_repeated_reads_reuse_generated_code(spark, sf_dir):
    """A second pass over the reads finds its generated classes in the
    codegen cache; a cache smaller than their working set evicts classes
    the pass needs again and recompiles them (Spark's default 100-entry
    cache recompiles ~174 of the ~184 these reads generate at sf0.001).

    A few classes can differ from one run of the same query to the next
    (4 were seen late in a full suite run, none in isolation), so the
    bound is a tenth of the set rather than zero."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    specs = [registry()[name] for name in REPEATED_READS]
    for spec in specs:
        spec.fn(spark, sf_dir).collect()
    before = compiles.getCount()
    for spec in specs:
        spec.fn(spark, sf_dir).collect()
    assert compiles.getCount() - before < 18
