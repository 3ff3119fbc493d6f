"""Parquet star-schema loaders (driver test data, TESTDATA.md).

The star-table loaders and the query builders read parquet through
:func:`read_parquet`, which memoizes the schema Spark infers. Inference
reads the footers in a Spark job, so a plain ``spark.read.parquet``
costs one job per call, paid while a query is still being composed.
The first read of a path keeps Spark's inferred ``df.schema``; later
reads pass it back with ``spark.read.schema``, which runs no job. The
memo key is

* the path,
* each data file's identity under it, ``(name, st_mtime_ns, st_size)``
  from a driver-side ``os.stat``/walk, so a rewritten file is
  re-inferred,
* the session values of the confs that change parquet inference
  (:data:`_INFERENCE_CONFS`), so e.g. a ``TIMESTAMP(NANOS)`` column
  read as ``bigint`` under ``nanosAsLong`` is never reused by a session
  without it.

The memo holds one entry per path, replaced when its key changes, and at
most :data:`_MAX_SCHEMAS` paths. Paths ``os.stat`` cannot see (object
stores, URIs, globs) take the plain inferred read. The memo holds only
schemas: scans stay lazy, so Catalyst predicate pushdown and column
pruning still reach them, and nothing here collects or caches data --
callers decide lifetimes.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import STAR_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# session confs whose values change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_MAX_SCHEMAS = 256
# path -> (key, inferred schema); see the module docstring
_schemas: dict[str, tuple[tuple, StructType]] = {}
_schemas_lock = threading.Lock()


def _files_identity(path: str) -> tuple:
    """``(name, st_mtime_ns, st_size)`` of the file at ``path``, or of
    every file under it. Raises OSError when the path is not local."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return ((path, st.st_mtime_ns, st.st_size),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            name = os.path.join(root, f)
            fs = os.stat(name)
            out.append((name, fs.st_mtime_ns, fs.st_size))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each path's schema once
    per file identity and conf set, and after that reads with the
    memoized schema, launching no job."""
    try:
        files = _files_identity(path)
    except OSError:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _schemas_lock:
        if path not in _schemas and len(_schemas) >= _MAX_SCHEMAS:
            del _schemas[next(iter(_schemas))]
        _schemas[path] = (key, schema)
    return df


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


_BYTE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
                "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _parse_bytes(s: str) -> int:
    """Spark size-conf strings: '134217728', '134217728b', '128m', '1tb'.

    Unparseable values fall back to Spark's 128 MB default instead of
    raising -- a weird user conf must not crash the scan helper."""
    s = s.strip().lower()
    digits = s.rstrip("kmgtpb")
    try:
        return int(digits) * _BYTE_SUFFIX[s[len(digits):]]
    except (ValueError, KeyError):
        return _DEFAULT_MAX_PARTITION_BYTES


def parallelize_scan(
    df: DataFrame, *keys: str, target: int | None = None,
    min_split_rows: int | None = None,
) -> DataFrame:
    """Spread a SMALL file-backed scan across the cluster before
    CPU-heavy narrow work (tokenize, shingle, per-dimension array math).

    Spark assigns ~one task per ``spark.sql.files.maxPartitionBytes`` of
    input, so a table that lives in one small parquet file (every local
    test table does) is scanned -- and everything narrow above the scan
    is computed -- on ONE core. This helper repartitions only when the
    estimated split count is below ``target``, judged purely from
    driver-side metadata (``df.inputFiles()`` + file sizes): no job, no
    ``df.rdd`` plan materialization (the anti-idiom the old
    ``ensure_min_partitions`` had), and AQE is untouched.

    At real scale the input is thousands of files, the estimate exceeds
    ``target`` and this is a NO-OP -- the 100 TB corpus is never
    shuffled. When ``keys`` are given the repartition hash-partitions on
    them, so a downstream groupBy/window on the same (or a superset)
    key reuses the exchange instead of adding a second one.

    ``min_split_rows`` makes the split width ROW-aware for scans that
    feed Arrow/pandas kernels (guide §4.2: keep batch sizes large
    enough for vectorization to pay off). Splitting a small scan into
    ``defaultParallelism`` pieces hands each Python worker a
    near-empty Arrow batch, so the per-task JVM->Python round-trip and
    the kernel's fixed per-batch setup dominate -- measured ANTI-scaling
    at sf0.1 (32 cores slower than 8: doc_bpe_encode 0.59x,
    audio_fingerprint 0.68x, image_neardup 0.81x; PERF_r12 scaling
    block). The row count comes from parquet footers (driver-side
    metadata, no job); width = clamp(rows / min_split_rows, 1, target).
    At real scale rows >> target x min_split_rows and the clamp is a
    no-op -- this only stops the LOW end from over-splitting.
    """
    from ..session import default_parallelism

    target = target or default_parallelism()
    spark = df.sparkSession
    max_pb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_splits = 0
    paths = []
    for uri in df.inputFiles():
        path = uri[len("file://"):] if uri.startswith("file://") else uri
        paths.append(path)
        try:
            size = os.path.getsize(path)
        except OSError:
            return df  # non-local storage: trust the source's splits
        est_splits += max(1, -(-size // max_pb))
        if est_splits >= target:
            return df
    if min_split_rows and min_split_rows > 0:
        n_rows = _footer_rows(paths)
        if n_rows >= 0:
            target = max(1, min(target, -(-n_rows // min_split_rows)))
    if keys:
        return df.repartition(target, *keys)
    return df.repartition(target)


def _footer_rows(paths: list[str]) -> int:
    """Total row count from local parquet footers; -1 when unknown --
    no files, or a footer is unreadable (caller then keeps the
    byte-estimated width)."""
    if not paths:
        return -1
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    except Exception:
        return -1


def load_star_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES
) -> dict[str, DataFrame]:
    return {name: read_parquet(spark, table_path(sf_dir, name)) for name in names}


def register_star_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so Spark SQL text also works."""
    dfs = load_star_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
