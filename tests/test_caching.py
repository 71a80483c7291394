"""Cache-lifetime contract (ADVICE r4): lazy operators that persist
scan-shared intermediates must release them once the caller drops the
result — a long-lived session running many queries must not accumulate
executor storage."""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.graph import triangle_count
from sfcrimedatapipeline_spark.operators.profile import exact_quantiles_by


def _settled_persistent_rdds(spark, at_most: int, tries: int = 20) -> int:
    """Persistent-RDD count once async cleanup settles: the JVM
    ContextCleaner releases blocks on a background thread after GC, so
    a single instantaneous read races it — both for the operator's own
    cache and for leftovers of EARLIER tests sharing the session (the
    flake this replaces: == base failed only under full-suite ordering).
    Polls until the count drops to ``at_most`` or tries run out."""
    import time

    n = _n_persistent_rdds(spark)
    for _ in range(tries):
        if n <= at_most:
            return n
        time.sleep(0.25)
        gc.collect()
        n = _n_persistent_rdds(spark)
    return n


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _is_cached(spark, jdf) -> bool:
    """Whether CacheManager holds an entry for this JVM Dataset's plan
    (updated synchronously by unpersist, unlike the persistent-RDD
    count, which the ContextCleaner lowers later)."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return cache_manager.lookupCachedData(jdf).isDefined()


def test_triangle_count_releases_edge_cache(spark):
    spark.catalog.clearCache()
    gc.collect()
    base = _n_persistent_rdds(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a long, doc_b long"
    )
    tri = triangle_count(pairs)
    assert tri.collect()[0].n_triangles == 1
    assert _n_persistent_rdds(spark) > base  # edge list cached during use
    del tri
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base  # released with the result


def test_exact_quantiles_by_releases_ranked_cache(spark):
    spark.catalog.clearCache()
    gc.collect()
    base = _n_persistent_rdds(spark)
    df = spark.range(100).select(
        (F.col("id") % 4).alias("g"), F.col("id").cast("double").alias("v")
    )
    q = exact_quantiles_by(df, "g", "v", [0.5])
    assert q.count() == 4
    del q
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base


def test_contamination_releases_fingerprint_caches(spark):
    from sfcrimedatapipeline_spark.operators.corpus import (
        cross_corpus_contamination,
    )

    spark.catalog.clearCache()
    gc.collect()
    base = _n_persistent_rdds(spark)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 4 + str(i)) for i in range(20)],
        "doc_id long, text string",
    )
    out = cross_corpus_contamination(docs, docs.limit(5))
    out.count()
    del out
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base


def test_pipeline_transform_releases_caches(spark, staging):
    from sfcrimedatapipeline_spark.operators.keys import load_order_id
    from sfcrimedatapipeline_spark.plans.dims import (
        generate_dim_date,
        generate_dim_time,
    )
    from sfcrimedatapipeline_spark.plans.pipeline import transform

    spark.catalog.clearCache()
    gc.collect()
    # staging fixture is cached session-wide; clearCache dropped it, so
    # re-cache (and materialize, so it doesn't land after `base`) to
    # restore the fixture contract for other tests
    staging.cache().count()
    base = _n_persistent_rdds(spark)
    tables = transform(
        load_order_id(staging, "id"),
        generate_dim_date(spark, "2018-01-01", "2018-12-31"),
        generate_dim_time(spark),
    )
    dims = ["DimDate", "DimTime", "DimLocation", "DimIncident", "DimReportType"]
    dim_plans = [tables[name]._jdf for name in dims]
    assert tables["FactCrime"].count() > 0
    assert all(_is_cached(spark, plan) for plan in dim_plans)
    assert _n_persistent_rdds(spark) > base
    del tables
    gc.collect()
    assert not any(_is_cached(spark, plan) for plan in dim_plans)
    assert _settled_persistent_rdds(spark, base) <= base


def test_run_pipeline_releases_caches(spark, staging):
    """The staging, dim and fact caches of a refresh go when the caller
    drops the tables; a caller's own cached staging frame stays cached."""
    from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline

    spark.catalog.clearCache()
    gc.collect()
    staging.cache().count()
    base = _n_persistent_rdds(spark)
    tables = run_pipeline(spark, staging.filter(F.col("Row ID") % 2 == 0))
    plans = [df._jdf for df in tables.values()]
    assert tables["ServeInitialReports"].count() > 0
    assert tables["FactCrime"].count() > 0
    # every table but serve is cached
    assert [_is_cached(spark, plan) for plan in plans] == [True] * 6 + [False]
    assert _n_persistent_rdds(spark) > base
    del tables
    gc.collect()
    assert not any(_is_cached(spark, plan) for plan in plans)
    assert _settled_persistent_rdds(spark, base) <= base
    assert _is_cached(spark, staging._jdf)
