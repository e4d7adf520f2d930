"""Test-corpus table loading.

Parquet scans with Catalyst-native column pruning / filter pushdown —
callers select/filter and the optimizer pushes both into the scan.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: spread() probe failures that mean "can't size this frame" (treated as
#: 0 files → repartition), vs. genuine bugs which should propagate.
_SPREAD_EXPECTED_ERRORS = (Py4JError, AnalysisException, AttributeError)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic test table (TESTDATA.md).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as int64 and is
    converted here to a microsecond TIMESTAMP_NTZ (integer division —
    nanos exceed 2^53 so float division would lose precision).  DuckDB
    applies the same floor-truncation when reading nanos, so both
    engines see identical values.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """Content fingerprint of one table under ``sf_dir``.

    (realpath, sorted (relative-name, size, mtime_ns) of every data
    file).  Any rewrite — new files, appended shards, touched bytes —
    changes the key, so derived artifacts (trained codebooks,
    materialized marts) can never outlive the data they came from.
    Pure os.stat metadata: no file reads, so the check is microseconds
    even for thousands of shards.
    """
    root = os.path.realpath(os.path.join(sf_dir, f"{name}.parquet"))
    entries: list[tuple[str, int, int]] = []
    if os.path.isdir(root):
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                if fn.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, root), st.st_size, st.st_mtime_ns)
                )
    elif os.path.exists(root):
        st = os.stat(root)
        entries.append((os.path.basename(root), st.st_size, st.st_mtime_ns))
    return (root, tuple(sorted(entries)))


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Widen a narrow scan to the session's parallelism.

    CPU-dense per-row operators (shingling, hashing, vector math) are
    throughput-bound by the scan's split count, and a small parquet
    file yields a single split no matter how many cores the session
    has.  Repartition by key ONLY when the scan's file count < cores;
    on a real cluster a 100 TB table already arrives as thousands of
    files/splits, so this is a no-op there and the (tiny) round-robin
    shuffle price is paid only in the degenerate local case.

    Sizing uses ``inputFiles()`` (metadata-only, no job) rather than
    ``df.rdd.getNumPartitions()`` — the RDD conversion materializes a
    physical plan on the driver for every query build.  File count
    under-estimates splits for multi-row-group files, which only makes
    the guard more conservative (an unneeded repartition of an
    already-wide scan, never a narrowing).  A frame that already
    carries an explicit Repartition node is trusted as-is.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # Node names start each treeString line after the tree-drawing
        # prefix; anchoring there ("Repartition ..." / ":- Repartition")
        # avoids matching the word inside expression text.  Only the
        # expected failure modes (py4j bridge errors, analysis on a
        # non-file-backed frame) fall back to "assume narrow" — a real
        # bug should surface, not silently force a shuffle.
        plan = df._jdf.queryExecution().logical().treeString()
        if any(
            line.lstrip(" :+-").startswith("Repartition")
            for line in plan.splitlines()
        ):
            return df
        n_files = len(df.inputFiles())
    except _SPREAD_EXPECTED_ERRORS:
        n_files = 0
    if n_files >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)
