"""Session defaults: the codegen cache holds the query working set."""

from datafusion_uba_spark.queries import REGISTRY

# Event rows whose generated classes are stable across executions
# (~115 classes at sf0.001): more than Spark's default cache of 100
# holds, so with that default every pass evicts and recompiles.
WARM_ROWS = (
    "retention_count",
    "retention_sum",
    "cohort_retention_weekly",
    "funnel_steps_any",
    "sessionize",
    "event_transitions",
    "survival_curve",
)


def _compiled_classes(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_warm_pass_compiles_no_class(spark, sf_dir):
    def one_pass():
        for name in WARM_ROWS:
            fn, _ = REGISTRY[name]
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    one_pass()
    before = _compiled_classes(spark)
    one_pass()
    assert _compiled_classes(spark) - before == 0
