"""Materialized serving marts: build once, serve from a clustered scan.

The reference's dashboard reads TABLES, not views — its dbt project
materializes every mart as a table (/root/reference/dbt_project.yml:
27-29) and the Streamlit layer points queries at those
(viz/dashboard.py:94-125).  Re-deriving the full staging→metrics→
summary DAG per point lookup (the r04 serving plan) is the opposite
serving story: correct, but a 6-window recompute for a 1-row answer.

``serve`` reproduces the dbt lifecycle inside the engine:

* first touch per corpus builds the mart ONCE via
  ``writers.layout.write_clustered`` — range-clustered on the serving
  key, so a point predicate prunes to one file / row group
  (tests/test_serving_mart.py asserts the pruned-scan row metric);
* every later serving query is a parquet scan with the predicate
  pushed — milliseconds, independent of pipeline depth;
* the cache key is a CONTENT FINGERPRINT of the source table
  (tables.table_fingerprint), so a rewritten corpus invalidates
  automatically instead of silently serving a stale mart;
* concurrent builders race safely: each writes to a private tmp dir
  and the first atomic rename wins (losers discard their copy) —
  same two-phase shape as writers/atomic.py.

Values are IDENTICAL to the recompute path (parquet round-trips
doubles bit-exactly), which the driver's oracle hash proves per round;
the recompute variants stay registered (sleep_summary, sleep_metrics)
as the freshness path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .tables import read_parquet, table_fingerprint
from .writers.layout import write_clustered

#: Mart storage root — session-temp by default (rebuilt per machine);
#: point it at durable storage for a real deployment.
MART_ROOT = os.environ.get("SPARK_GRAFT_MART_DIR", "/tmp/spark_graft_marts")

_CODE_VERSION: str | None = None


def _code_version() -> str:
    """Fingerprint of the package's source files.

    MART_ROOT outlives the Python process (and git commits), so a
    data-only cache key would keep serving marts built by OLD build
    logic after a code change that leaves the source parquet
    untouched.  Salting the key with a hash of every .py file in the
    package makes code changes invalidate marts exactly like data
    changes do — the worst case is a spurious rebuild, never a stale
    serve.  Computed once per process.
    """
    global _CODE_VERSION
    if _CODE_VERSION is None:
        pkg_root = os.path.dirname(os.path.abspath(__file__))
        md5 = hashlib.md5()
        for dirpath, dirnames, filenames in sorted(os.walk(pkg_root)):
            dirnames.sort()
            for fn in sorted(f for f in filenames if f.endswith(".py")):
                full = os.path.join(dirpath, fn)
                md5.update(os.path.relpath(full, pkg_root).encode())
                with open(full, "rb") as fh:
                    md5.update(fh.read())
        _CODE_VERSION = md5.hexdigest()[:12]
    return _CODE_VERSION


def _mart_path(sf_dir: str, source_table: str, name: str) -> str:
    key = repr((table_fingerprint(sf_dir, source_table), _code_version()))
    h = hashlib.md5(key.encode()).hexdigest()[:16]
    return os.path.join(MART_ROOT, h, name)


def serve(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    source_table: str,
    build: Callable[[], DataFrame],
    cluster_cols: list[str],
    n_files: int = 4,
) -> DataFrame:
    """Read mart ``name`` for ``sf_dir``, building it first if absent.

    ``build`` produces the mart frame (runs at most once per corpus
    content); ``cluster_cols`` drive the range layout so serving
    predicates on them prune.
    """
    path = _mart_path(sf_dir, source_table, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_clustered(build(), tmp, cluster_cols, n_files=n_files)
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent builder committed first — its copy is
            # byte-equivalent (deterministic build); keep it
            shutil.rmtree(tmp, ignore_errors=True)
    return read_parquet(spark, path)
