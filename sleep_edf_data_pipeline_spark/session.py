"""SparkSession factory with cluster-safe defaults.

Defaults target ``local[$SPARK_GRAFT_CPUS]`` testing but are chosen to
survive a 1000-executor cluster: AQE on (runtime coalescing, skew-join
splitting), bounded file-split sizes so scan tasks stay ~128 MB, Arrow
for every Python exchange, and a UTC session so timestamp semantics are
independent of the host.

On a real cluster most of these are overridden by spark-submit; nothing
here hard-codes local-mode assumptions except the fallback master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and runtime broadcast conversion — the main levers that make
    # one static plan survive a 1000x scale-up.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep scan tasks bounded regardless of file layout.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Every Python<->JVM exchange rides Arrow; batch size bounds UDF memory
    # the same way the reference bounds its 100-epoch pandas batches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # The driver corpus stores events.ts as TIMESTAMP(NANOS), which the
    # vectorized parquet reader rejects; read the raw int64 and convert
    # at the source wrapper (tables.table) with integer division.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Generated-class cache sized to the working set, so a repeated plan
    # is Janino-compiled once per JVM.  The default (100) is smaller than
    # one round of repeated queries: measured on local[4], one round of
    # the 14 perfbench mart queries at sf0.1 generates about 284 classes
    # and one corpus build about 127, so at the default every repeat
    # recompiled them all and ran them cold in the JIT.  A full registry
    # pass at sf0.001 generates about 3,240 distinct classes; with this
    # cap JVM Metaspace after that pass is 234-238 MB, against 208-215 MB
    # at the default.  Static: read once, when the JVM starts.
    "spark.sql.codegen.cache.maxEntries": "8192",
    # local[N] runs driver+executors in ONE JVM: N concurrent tasks
    # share a single heap, so the 1g default collapses under 32-way
    # joins (GCLocker thrash → dead SparkEnv).  Sized for the test
    # host; spark-submit overrides on a real cluster.  Must be set at
    # JVM launch — ignored if a session already exists.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Pin the heap committed (-Xms=-Xmx + pre-touch) and use the
    # throughput collector: with the default growing/uncommitting G1
    # heap, allocation-heavy joins spent 75-98% CPU in *kernel* time
    # re-zeroing and re-faulting pages the collector had returned to
    # the OS (measured 10-16x slowdowns with run-to-run variance on
    # the same plan).  Pre-touching is parallel and costs ~1s at
    # startup; executor JVMs on a real cluster get the same flags via
    # spark.executor.extraJavaOptions in spark-submit.
    "spark.driver.extraJavaOptions": (
        f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '16g')} "
        "-XX:+AlwaysPreTouch -XX:+UseParallelGC"
    ),
}


def get_spark(
    app_name: str = "sleep-edf-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
