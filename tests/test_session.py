"""session.get_spark's codegen cache: sized so that a repeated query
finds every generated class it needs and Janino compiles nothing."""

from __future__ import annotations

import bench
from movies_etl_spark import session


def test_codegen_cache_holds_a_benchmark_pass(spark, sf_dir, perfbench_workloads):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    import __spark_entry__  # noqa: F401  (registers every query)
    from movies_etl_spark.plans import registry

    names = perfbench_workloads["batch_queries"]
    compiles = []
    for _ in range(2):
        before, _ns = bench.codegen_counters(spark)
        for name in names:
            df = registry.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        compiles.append(bench.codegen_counters(spark)[0] - before)
    # the second pass compiles nothing: at Spark's default of 100
    # entries both passes compile every class
    assert compiles[1] == 0, compiles
