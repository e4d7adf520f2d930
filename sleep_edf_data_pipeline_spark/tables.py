"""Test-corpus table loading.

Parquet scans with Catalyst-native column pruning / filter pushdown —
callers select/filter and the optimizer pushes both into the scan.

Every package read of a parquet path goes through :func:`read_parquet`,
which takes the schema from one file footer on the driver: building a
reader launches no Spark job, where ``spark.read.parquet`` runs schema
inference as a one-task job on every call.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException, PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType

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
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


#: Footer key under which Spark stores the schema of a frame it wrote.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema read on the driver.

    The schema is the one Spark's own inference picks: Spark's schema
    JSON from the footer of one data file when Spark wrote it, else the
    file's Arrow schema mapped the way Spark maps parquet types, with
    every top-level field nullable; partition columns are still
    discovered from the directory names.  Where this cannot tell that
    schema (no local data file, a footer pyarrow cannot read, INT96 or
    nested nanosecond timestamps, types Spark maps differently from
    Arrow), the read is left to ``spark.read.parquet``, which infers it
    with a job or raises its own error.
    """
    schema = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``HadoopFSUtils.shouldFilterOutPathName``)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(path: str) -> str | None:
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for name in sorted(files):
            if not _hidden(name):
                return os.path.join(root, name)
    return None


def _nested(t: pa.DataType):
    """Every type nested inside ``t``."""
    for i in range(t.num_fields):
        inner = t.field(i).type
        yield inner
        yield from _nested(inner)


def _is_nanos(t: pa.DataType) -> bool:
    return pa.types.is_timestamp(t) and t.unit == "ns"


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    data_file = _first_data_file(path)
    if data_file is None:
        return None
    try:
        with pq.ParquetFile(data_file) as pf:
            spark_json = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
            arrow = pf.schema_arrow
            int96 = any(
                pf.schema.column(i).physical_type == "INT96"
                for i in range(len(pf.schema))
            )
    except (OSError, ValueError):  # not a parquet file: Spark reports it
        return None
    if spark_json is not None:
        try:
            schema = StructType.fromJson(json.loads(spark_json))
        except ValueError:  # pre-JSON schema string of old Spark versions
            return None
    elif int96:  # pyarrow reads INT96 as nanoseconds, Spark as ``timestamp``
        return None
    else:
        schema = _arrow_schema(spark, arrow)
        if schema is None:
            return None
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema]
    )


def _arrow_schema(spark: SparkSession, arrow: pa.Schema) -> StructType | None:
    """Spark's parquet-to-Spark type mapping, for a file Spark did not write.

    Spark maps durations, times and nulls differently from Arrow, so
    those are left to Spark.  Nanosecond timestamps scan as ``bigint``
    under ``spark.sql.legacy.parquet.nanosAsLong`` and fail analysis
    without it, so only top-level ones with the setting on are mapped.
    """
    top = [f.type for f in arrow]
    nested = [t for f in arrow for t in _nested(f.type)]
    if any(_is_nanos(t) for t in nested) or any(
        pa.types.is_duration(t) or pa.types.is_time(t) or pa.types.is_null(t)
        for t in top + nested
    ):
        return None
    conf = spark.conf
    if any(map(_is_nanos, top)) and (
        conf.get("spark.sql.legacy.parquet.nanosAsLong").lower() != "true"
    ):
        return None
    prefer_ntz = any(
        pa.types.is_timestamp(t) and t.tz is None for t in top + nested
    ) and conf.get("spark.sql.parquet.inferTimestampNTZ.enabled").lower() == "true"
    try:
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=prefer_ntz)
    except PySparkTypeError:  # unsigned, float16, date64, ...
        return None
    return StructType(
        [
            StructField(f.name, LongType(), f.nullable) if _is_nanos(t) else f
            for f, t in zip(schema, top)
        ]
    )


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
