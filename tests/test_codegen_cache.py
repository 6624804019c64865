"""A repeated set of query shapes must
hit Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
set in ``session.get_spark``) instead of recompiling with Janino.

One pass is the 15 dialect rows of ``SQLPP_SOURCES`` with their binds,
collected through the suite's engine, and then ``dedup_minhash`` into
the noop sink: about 180 distinct generated classes. Spark's default
cache holds 100, so at that size the second pass recompiles about 175.
Warm, it compiles none on a quiet box; on a loaded one a few (4 seen in
a full tier-1 run) can appear, new classes of a plan that adaptive
execution chose differently, so the test allows fewer than 10."""

from __future__ import annotations

from sqlpp_spark.queries import REGISTRY, _ensure_loaded
from sqlpp_spark.queries.sqlpp_suite import SQLPP_SOURCES, _engine

DIALECT_ROWS = (
    "sqlpp_filter_project",
    "sqlpp_join_group",
    "sqlpp_left_join_nullable",
    "sqlpp_named_query_compose",
    "sqlpp_fieldset_splice",
    "sqlpp_group_having_order",
    "sqlpp_params_bound",
    "sqlpp_variant_param",
    "sqlpp_scalar_subquery_corr",
    "sqlpp_window_functions",
    "sqlpp_date_ops",
    "sqlpp_group_order_all",
    "sqlpp_in_list",
    "sqlpp_case_like_between",
    "sqlpp_recursive_spine",
)


def _one_pass(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    for name in DIALECT_ROWS:
        src, binds = SQLPP_SOURCES[name]
        eng.query(src, **binds).collect()
    df = REGISTRY["dedup_minhash"].builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


def test_second_pass_hits_the_generated_class_cache(spark, sf_dir):
    _ensure_loaded()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    _one_pass(spark, sf_dir)
    first = compiles.getCount()
    _one_pass(spark, sf_dir)
    assert compiles.getCount() - first < 10
