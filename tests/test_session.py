"""Session-factory settings of ``sources.tables.get_spark``."""


def test_codegen_cache_outlives_a_hundred_stages(spark):
    """A long session keeps every stage it compiled: after more than
    100 distinct generated stages (Spark's default cache size), the
    first ones rerun without a Janino recompile."""
    compiles = (spark._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    base = spark.range(0, 3, 1, 1)

    def run(i):
        # the literal inlines into the generated code: one new class
        # per i
        base.selectExpr(f"id * 7919 + {1_000_003 + i} AS x").collect()

    before = compiles.getCount()
    for i in range(120):
        run(i)
    assert compiles.getCount() - before > 100
    before = compiles.getCount()
    for i in range(10):
        run(i)
    assert compiles.getCount() == before
