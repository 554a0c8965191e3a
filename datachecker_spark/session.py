"""SparkSession factory tuned for the local[N] sandbox.

At cluster scale the same code runs unchanged under spark-submit; the only
local-mode specifics are driver memory (local mode = driver-only JVM) and
shuffle partitions sized to cores instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One run_with_lineage pass over the resume_lineage benchmark corpus
# (two run_suite calls plus the io layer) generates about 360 distinct Java
# sources. Spark's default cache holds 100, so every pass evicted and
# recompiled all of them (356-368 compiles per repeated pass, measured at
# local[4]); with 1024 entries a repeated pass compiles 0-50.
CODEGEN_CACHE_ENTRIES = 1024
DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_mem(phys_bytes: int | None = None) -> str:
    """Default driver heap: half the host's physical RAM, capped at 24g
    (local mode runs everything in the driver JVM; the rest of the host is
    left to Python workers, page cache and other processes)."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(phys_bytes // 2**21, DRIVER_MEM_CAP_MB)
    return f"{max(mb, 512)}m"


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "spark-doccheck",
    extra_conf: dict[str, str] | None = None,
    aqe: bool | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[N] thread count; default $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: default = cores (local shuffles are driver-disk only;
    200 partitions on 60k rows is pure overhead, and at cluster scale the
    runner overrides this per-job from input statistics).
    aqe: adaptive query execution. Default ON (matching cluster deploys):
    with the round-2 runner shape — derived columns materialized once, the
    whole constraint union as ONE eagerly-checkpointed job — AQE's
    post-shuffle partition coalescing collapses the thousands of tiny union
    tasks that otherwise throttle the local single-threaded scheduler
    (measured at 300k docs / local[32]: suite 39.8s AQE-off vs 23.0s AQE-on).
    Round 1 measured the opposite because the suite then ran as ~40 separate
    small jobs where per-stage re-planning dominated; that shape is gone.
    Opt out with SPARK_GRAFT_AQE=0. Aggregation-key skew does not depend on
    AQE either way: the engine salts hot keys itself
    (constraints/duplicates.py).

    Driver heap: $SPARK_DRIVER_MEM, else default_driver_mem() — half the
    host's physical RAM, capped at 24g.

    Codegen cache: spark.sql.codegen.cache.maxEntries is raised from
    Spark's 100 to CODEGEN_CACHE_ENTRIES, so a repeated suite pass reuses
    its generated classes instead of recompiling them (see the constant).
    It is a static conf: it applies only when this call creates the
    session (and the JVM's first codegen happens after that). A session
    that already exists keeps the cache size it started with.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    if aqe is None:
        aqe = os.environ.get("SPARK_GRAFT_AQE", "1") == "1"

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # block/shuffle/checkpoint cleanup rides on weak references — with a
        # large heap the JVM may not GC for many minutes and stale blocks
        # accumulate until memory pressure collapses throughput (measured:
        # multi-pass 4M-doc suite runs pinned the heap and fell to <1 core
        # of progress). The default periodicGC.interval is 30min; 2min keeps
        # the ContextCleaner draining on long benchmark loops.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Throughput GC for a batch engine. G1's pause-time feedback loop is
        # actively harmful here: on a contended host, stolen cycles stretch
        # its measured pauses, it shrinks the young gen in response, and
        # collection frequency explodes — measured at 1M docs/local[16]:
        # the identical suite pass burned 1,857 executor-CPU-seconds under
        # G1/48g (232s of GC, 4-5x wall blowup, bimodal 50s↔280s) vs 408
        # CPU-s / 48s wall under ParallelGC/16g. ParallelGC has no pause
        # target to miss — young gen stays large and collections stay rare —
        # and a bounded heap keeps each collection short. Executors on a
        # real cluster are sized the same way (throughput collector or a
        # pinned young gen for batch; whole-machine heaps invite exactly
        # this feedback pathology).
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC",
        )
        # spark.sql.inMemoryColumnarStorage.compressed stays at the Spark
        # default (true). The suite cache is mostly free text where the
        # columnar dictionary probe is pure overhead (stored bytes measured
        # +1.3% with compression off — the encodings were degenerating to
        # PassThrough anyway), so disabling it looked like a win — but four
        # interleaved A/B windows split 2-2 with swings larger than the
        # candidate effect (tools/bench_cache_fill.py fill vs fill_nocomp;
        # BASELINE.md cache-fill section). Not flipped on that evidence;
        # re-measure on a quiet host before deciding.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def sample_now_literal() -> str:
    """One wall-clock sample of 'now' as a 'YYYY-mm-dd HH:MM:SS' UTC string
    — the suite's single source for the future/stale timestamp cutoff
    (reference: sampled once at process startup, src/main.zig:399-403).

    The string is parsed back by F.lit(...).cast('timestamp') in the
    SESSION timezone; get_spark pins that to UTC, so inside the engine the
    literal is the true present instant. On a foreign non-UTC session the
    literal shifts by the session offset — and so do the TIMESTAMP_NTZ
    document columns it is compared against (both parse in session TZ), so
    future/stale comparisons still hold for the engine's NTZ-as-UTC inputs.
    Callers with true-instant TIMESTAMP columns on a non-UTC session must
    pass an explicit now/timestamp_now instead.
    """
    import datetime as dt

    return dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
