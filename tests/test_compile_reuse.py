"""A query repeated in one session reuses its generated classes: the
session's codegen cache (``spark.sql.codegen.cache.maxEntries``, set
by session.build_session) holds a whole headline pass, so a second
round of the 18 bench.py HEADLINE queries compiles nothing. With
Spark's default of 100 entries the pass's working set evicts itself
and the second round recompiles nearly every class."""

from __future__ import annotations

import bench
from distributed_mapreduce__spark import registry

from .conftest import SF_SMOKE


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_headline_round_compiles_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    registry.load_all()
    lookup = {**registry.LOCAL_QUERIES, **registry.QUERIES}
    names = [n for n in bench.HEADLINE if n in lookup]
    assert len(names) == len(bench.HEADLINE)

    def headline_round():
        for name in names:
            lookup[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    before = _compilations(spark)
    headline_round()
    first = _compilations(spark) - before
    headline_round()
    second = _compilations(spark) - before - first
    assert second == 0, f"second round compiled {second} classes (first: {first})"
