"""SparkSession factory with scale-aware defaults.

The reference's runtime (master/master.go scheduler, phase barrier,
straggler re-execution — SURVEY.md §2.3) is Spark's scheduler here; this
module only encodes *configuration*: AQE for runtime re-planning (skew
joins, partition coalescing), speculative execution (R4 parity: the
reference re-dispatches tasks in-progress >10 s, master/master.go:111-117),
and shuffle-partition sizing.

Scale notes (100 TB design): the knobs below are expressed relative to
cluster size, not hardcoded for the local test box. On a 1000-executor
cluster you would raise ``spark.sql.shuffle.partitions`` to ~2-3× total
cores (AQE coalesces down), keep AQE + skew-join on, and keep the
broadcast threshold at tens of MB so dimension tables (region/nation/
supplier/part in the star schema) always broadcast.

Generated-code cache (``spark.sql.codegen.cache.maxEntries``, fixed at
:data:`CODEGEN_CACHE_ENTRIES`; ``extra_conf`` overrides it). Spark
compiles each whole-stage / expression class with Janino and keeps it
in an LRU keyed by the generated source, so a query repeated in the
session reuses its classes, but only while its pass fits in the cache.
Spark's default of 100 entries is below one pass of this engine, so
the LRU evicted every class before its next use and every repeat paid
Janino plus the JIT again. Measured on a 4-vCPU VM (local[4]):

- the perfbench ``batch`` pass (word count top-k, corpus prepare, an
  Arrow UDF, the 18 headline queries) compiles 252 distinct classes;
  with 100 entries each warm pass recompiled 257, with this cache 0;
- one ``bench.py`` headline + ``new_ops`` pass at sf0.01 compiles
  about 1,210 classes, of which 40-55 embed per-run values and are new
  on every pass. With 1,000 entries the warm passes still recompiled
  ~1,100; with 2,000 they compile only those 40-55. The size holds
  that pass with ~1.7x headroom (8x a batch pass).
- Metaspace (``Metaspace`` MemoryPoolMXBean) after a cold and 3 warm
  passes: batch 172 MB (179 MB with the default cache, still growing
  ~3.5 MB a pass from the recompiles); headline + ``new_ops`` 206 MB
  (204 MB with 1,000 entries).

JIT policy (``spark.driver.extraJavaOptions``, fixed at
:data:`DRIVER_JAVA_OPTIONS`; ``extra_conf`` overrides it). HotSpot
runs a method in C1 once it is warm and recompiles it with C2 once it
crosses the tier-4 thresholds (JDK 17: 5,000 invocations, or at least
600 once invocations plus loop back-edges pass 15,000; a loop is
compiled on stack after 40,000 back-edges). Catalyst,
py4j and the generated classes run a few thousand times per pass, so a
short session kept C2-compiling them through its second pass and never
ran long enough to repay it: a traced warm ``batch`` pass spent 16.8 s
in ``jvm.jit_s`` against 4.1 CPU-s of executor work. All four
thresholds are scaled by one factor. Measured on a 4-vCPU VM
(local[4]), perfbench ``batch`` ``cpu_s`` (``--seconds 30``, untraced,
one seed per round, variants alternating in each round, every run
correct):

- factor 1 (the defaults), 10 runs: median 28.93 (q1 28.42, q3 30.30);
- x2, 6 runs: 25.02 (24.80, 25.99);
- x3, 10 runs: 23.05 (22.13, 23.30), below the default on 9 of 10 seeds;
- x5, 10 runs: 22.21 (21.20, 22.82);
- x10, 3 runs: 24.10 (23.67, 26.01); likely because hot methods run
  longer as tier-3 C1 code, which carries full profiling.

x3 is the smallest factor whose median is within the defaults' quartile
spread (1.88) of the best one (x5); a smaller factor delays C2 the
least in a long session. Rejected, one or two runs each:

- ``TieredStopAtLevel=1`` (C1 only): ``batch`` 17.1-18.3 CPU-s, but
  the third headline pass at sf0.1 took 62.8 CPU-s against 27.4 and a
  1.5e9-row hash aggregate 264 CPU-s against 14;
- ``CompileThresholdScaling=5`` (every tier's thresholds): ``batch``
  22.8-23.8 CPU-s, but ``setup_s`` +13 %, since C1 also comes later;
- ``CICompilerCount=2``: ``batch`` 23.8-26.9 CPU-s.

Driver only: in local mode the executors are threads of the driver
JVM, so these flags cover them; no workload measures a separate
executor JVM, so ``spark.executor.extraJavaOptions`` is left alone.

The conf is static: it applies only to a session this factory starts.
A session the caller supplies (``__spark_entry__.entry(spark)``, or one
already running when ``getOrCreate`` is called) keeps whatever it was
built with.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: sized in the module docstring.
CODEGEN_CACHE_ENTRIES = 2000

#: ``spark.driver.extraJavaOptions``: HotSpot's four tier-4 (C2)
#: thresholds at 3x their JDK 17 defaults (5000, 600, 15000, 40000);
#: the factor is measured in the module docstring.
DRIVER_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000"
    " -XX:Tier4MinInvocationThreshold=1800"
    " -XX:Tier4CompileThreshold=45000"
    " -XX:Tier4BackEdgeThreshold=120000"
)


def default_parallelism() -> int:
    """Worker-thread count for local mode: ``SPARK_GRAFT_CPUS`` when
    set, else the CPUs this process may run on — more threads than
    cores only queue, and load the box the run is measured on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def build_session(
    app_name: str = "distributed_mapreduce__spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    - AQE on (coalesce + skew join): replaces hand-tuned partition counts
      at runtime; essential at 100 TB where static tuning is impossible.
    - Speculation on: straggler mitigation (reference R4,
      master/master.go:111-117 re-dispatches slow tasks after 10 s).
    - UTC session timezone: deterministic timestamp semantics and parity
      with the DuckDB oracle (naive-UTC timestamps).
    - Arrow enabled: fast pandas interchange for the Pandas-UDF operators.
    - Generated-code cache of :data:`CODEGEN_CACHE_ENTRIES`: a repeated
      query reuses its compiled classes (module docstring).
    - Driver JVM started with :data:`DRIVER_JAVA_OPTIONS`: C2 compiles
      only code hotter than a few thousand calls a pass (module
      docstring).
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "3")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        # Local-fixture knob: the test parquet files are ~1-20 MB, so the
        # default 128 MB split yields ONE scan partition and serializes
        # the map stage. 4 MB splits let row groups parallelize. On a
        # real cluster with TB-scale inputs, raise this back to 128 MB+.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark() -> SparkSession:
    """Active session if one exists, else a fresh default-configured one."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()
