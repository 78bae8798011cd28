"""The declared query surface resolves its tables with no Spark job:
``queries._read_table`` declares the schema Spark's converter gives for
the first file's footer, and that schema equals what
``spark.read.parquet`` infers (inference runs a job even for one file).
A TIMESTAMP(NANOS) column resolves as ``long`` without touching the
session's conf, and ``load_events`` truncates it to microseconds."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mandoline_spark.queries import TABLES, _read_table, load_events

SF = "/root/testdata/sf0.001"


def _job_ids(spark) -> set:
    return set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))


def _resolve(spark, path):
    """The resolved frame, asserting that resolution ran no job."""
    ids0 = _job_ids(spark)
    df = _read_table(spark, path)
    assert _job_ids(spark) == ids0, "table resolution launched a Spark job"
    return df


@pytest.mark.parametrize("name", TABLES)
def test_fixture_schema_equals_inference(spark, name):
    path = f"{SF}/{name}.parquet"
    df = _resolve(spark, path)
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert df.count() == inferred.count()


def _typed_rows(spark, n=60):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("k"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        (F.col("id") / 7).alias("d"),
        F.col("id").cast("decimal(12,2)").alias("dec"),
        F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.struct(F.col("id").alias("x"), F.lit(None).cast("string").alias("y")).alias("st"),
    )


def test_multipart_directory_schema_equals_inference(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _typed_rows(spark).repartition(3).write.parquet(path)
    df = _resolve(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def test_partitioned_directory_discovers_partition_column(spark, tmp_path):
    path = str(tmp_path / "p.parquet")
    _typed_rows(spark).write.partitionBy("k").parquet(path)
    df = _resolve(spark, path)
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert "k" in df.columns
    assert sorted(df.collect()) == sorted(inferred.collect())


def _confs(spark) -> dict:
    return {r.key: r.value for r in spark.sql("SET").collect()}


def test_nanos_events_resolve_as_long_without_session_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts`` resolves as ``long`` (inference rejects
    the type at the default conf), reads at the session's own conf and
    comes back from ``load_events`` as the microsecond timestamps of
    the nanos truncated by integer division; no session conf changes."""
    ns = np.array(
        [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 1_600_000_000_999_999_999],
        dtype="int64",
    )
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    ts_type = pq.ParquetFile(str(tmp_path / "events.parquet")).schema.column(1)
    assert "timeUnit=nanoseconds" in str(ts_type.logical_type)
    before = _confs(spark)
    raw = _resolve(spark, str(tmp_path / "events.parquet"))
    assert raw.schema["ts"].dataType.simpleString() == "bigint"
    assert [r.ts for r in raw.orderBy("event_id").collect()] == ns.tolist()
    got = load_events(spark, str(tmp_path)).orderBy("event_id")
    want = spark.createDataFrame(
        [(i + 1, int(v) // 1000) for i, v in enumerate(ns)], "event_id long, us long"
    ).select("event_id", F.timestamp_micros("us").alias("ts"))
    assert got.schema["ts"].dataType == want.schema["ts"].dataType
    assert [r.ts for r in got.collect()] == [r.ts for r in want.collect()]
    assert _confs(spark) == before
