"""A query repeated in one session reuses its generated classes: the
session's codegen cache (``spark.sql.codegen.cache.maxEntries``, set
by session.build_session) holds a whole headline pass, so a second
round of the 18 bench.py HEADLINE queries compiles nothing. With
Spark's default of 100 entries the pass's working set evicts itself
and the second round recompiles nearly every class.

The same factory starts the driver JVM with raised tier-4 (C2)
thresholds and nothing else about the JIT: C2 stays on."""

from __future__ import annotations

import bench
from distributed_mapreduce__spark import registry
from distributed_mapreduce__spark.session import DRIVER_JAVA_OPTIONS

from .conftest import SF_SMOKE


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_driver_jvm_runs_the_tier4_policy(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    want = dict(
        opt.removeprefix("-XX:").split("=")
        for opt in DRIVER_JAVA_OPTIONS.split()
    )
    assert sorted(want) == [
        "Tier4BackEdgeThreshold",
        "Tier4CompileThreshold",
        "Tier4InvocationThreshold",
        "Tier4MinInvocationThreshold",
    ]
    assert {f: bean.getVMOption(f).getValue() for f in want} == want
    # C2 itself stays on: a C1-only JVM is far slower on hot loops
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "4"
    assert spark.conf.get("spark.driver.extraJavaOptions") == DRIVER_JAVA_OPTIONS


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
