"""The schema-memoizing parquet reader (sources/tables.read_parquet).

A repeat read of an unchanged path must launch no Spark job and return
exactly the schema a plain ``spark.read.parquet`` infers; a rewritten
file or a changed inference conf must be re-inferred, never served from
the memo.
"""

from __future__ import annotations

import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from sec_xbrl_finwarehouse_spark.plans.star_queries import q_company_profile
from sec_xbrl_finwarehouse_spark.sources import tables
from sec_xbrl_finwarehouse_spark.sources.tables import (
    _footer_rows,
    parallelize_scan,
    read_parquet,
    table_path,
)

SF_DIR = "/root/testdata/sf0.01"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_during(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches on this thread."""
    sc = spark.sparkContext
    group = f"read_parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_compose_launches_no_job(spark, monkeypatch):
    monkeypatch.setattr(tables, "_schemas", {})
    # negative control: the first compose infers the schema in a job,
    # so a zero below is the memo's doing, not a blind counter
    assert _jobs_during(spark, lambda: q_company_profile(spark, SF_DIR)) >= 1
    assert _jobs_during(spark, lambda: q_company_profile(spark, SF_DIR)) == 0


@pytest.mark.parametrize("name", sorted(
    f[: -len(".parquet")] for f in os.listdir(SF_DIR) if f.endswith(".parquet")
))
def test_memoized_schema_equals_inferred(spark, name):
    path = table_path(SF_DIR, name)
    read_parquet(spark, path)
    memo = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert memo.columns == plain.columns
    assert memo.schema == plain.schema


def test_memoized_schema_equals_inferred_partitioned(spark, tmp_path):
    path = str(tmp_path / "parted")
    spark.range(40).selectExpr(
        "id", "cast(id % 3 as int) AS p", "cast(id AS string) AS s",
        "array(cast(id AS double)) AS v",
    ).write.partitionBy("p").parquet(path)
    read_parquet(spark, path)
    assert _jobs_during(spark, lambda: read_parquet(spark, path)) == 0
    memo = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert memo.columns == plain.columns == ["id", "s", "v", "p"]
    assert memo.schema == plain.schema
    assert sorted(memo.collect()) == sorted(plain.collect())


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [4, 5], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(4, "x"), (5, "y")]


def _outcome(fn):
    """A read's schema, or the class of the error it raised."""
    try:
        return fn().schema
    except AnalysisException as e:
        return type(e).__name__


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_000_000_001, 2_000_000_002], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)

    nanos = spark.newSession()
    nanos.conf.set(NANOS, "true")
    assert dict(read_parquet(nanos, path).dtypes) == {"ts": "bigint"}
    memo = read_parquet(nanos, path)
    assert [r.ts for r in memo.collect()] == [1_000_000_001, 2_000_000_002]
    as_bigint = memo.schema

    plain = spark.newSession()
    plain.conf.unset(NANOS)
    got = _outcome(lambda: read_parquet(plain, path))
    assert got == _outcome(lambda: plain.read.parquet(path))
    assert got != as_bigint


def test_non_local_path_takes_plain_read(spark):
    """A path os.stat cannot see (here a file:// URI) is read with
    inference every time and never enters the memo."""
    uri = "file://" + table_path(SF_DIR, "region")
    df = read_parquet(spark, uri)
    assert df.schema == spark.read.parquet(uri).schema
    assert uri not in tables._schemas


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    """A rewritten path replaces its entry instead of adding one, and
    the memo never holds more than _MAX_SCHEMAS paths."""
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"c0": [0]}), path)
    read_parquet(spark, path)
    size = len(tables._schemas)
    for n in (2, 3):
        pq.write_table(pa.table({f"c{i}": [i] for i in range(n)}), path)
        assert len(read_parquet(spark, path).columns) == n
        assert len(tables._schemas) == size

    monkeypatch.setattr(tables, "_MAX_SCHEMAS", 2)
    monkeypatch.setattr(tables, "_schemas", {})
    for i in range(4):
        p = str(tmp_path / f"p{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), p)
        read_parquet(spark, p)
        assert len(tables._schemas) <= 2
    assert p in tables._schemas


def test_concurrent_reads_keep_the_memo_bounded(spark, tmp_path, monkeypatch):
    """More threads than cores read, evict and re-infer at once: every
    read returns its own path's columns and the memo stays bounded."""
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"c{i}.parquet"))
        pq.write_table(pa.table({f"col{i}": [i]}), paths[-1])
    monkeypatch.setattr(tables, "_MAX_SCHEMAS", 2)
    monkeypatch.setattr(tables, "_schemas", {})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [pool.submit(lambda p: read_parquet(spark, p).columns,
                                paths[k % 3]) for k in range(24)]
            got = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert got == [[f"col{k % 3}"] for k in range(24)]
    assert len(tables._schemas) <= 2


def test_footer_rows_unknown_for_no_files():
    assert _footer_rows([]) == -1


def test_scan_without_input_files_keeps_target_width(spark):
    """A frame with no input files (inputFiles() == []) keeps the
    requested width rather than collapsing to one partition."""
    df = spark.range(100)
    assert df.inputFiles() == []
    out = parallelize_scan(df, target=4, min_split_rows=512)
    assert out.rdd.getNumPartitions() == 4
