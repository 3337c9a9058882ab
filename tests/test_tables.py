"""Fixture loading and footer-sized stream partitioning.

``tables.parquet_schema`` caches inferred parquet schemas so a warm
``tables.load`` starts no Spark job; these tests pin that, and that the
cache never serves a schema its source no longer has. The second half
covers the footer row counts that size stateful streams
(``streaming/demo.staged_rows`` / ``stream_shuffle_partitions``) and the
scoped ``shuffle_partitions`` conf.
"""

from __future__ import annotations

import logging

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ls_hadoop_3_0_spark import tables
from ls_hadoop_3_0_spark.streaming import demo

from .conftest import SF_DIR

# 2024-01-01T00:00:00.123456 UTC in µs; the nanos fixture adds 789 ns.
_TS_US = 1_704_067_200_123_456


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()  # noqa: SLF001


def _write_events(path: str, unit: str, ts_us: int) -> None:
    """A one-row events fixture whose ts is stored as TIMESTAMP(NANOS)
    (``unit="ns"``) or as a tz-naive µs timestamp (``unit="us"``)."""
    ts = ts_us * 1000 + 789 if unit == "ns" else ts_us
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([ts], pa.int64()).cast(pa.timestamp(unit)),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["view"]),
            "value": pa.array([1.5]),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(table, path)


def _ts_micros(spark, sf_dir: str) -> int:
    df = tables.load(spark, sf_dir, "events")
    return df.select(F.unix_micros(F.col("ts").cast("timestamp"))).first()[0]


def test_warm_load_starts_no_spark_job(spark):
    for t in tables.TABLES:
        tables.load(spark, SF_DIR, t)  # warm the cache
    j0 = _jobs(spark)
    for t in tables.TABLES:
        df = tables.load(spark, SF_DIR, t)
        assert df.columns  # analyzed: the relation is resolved
    assert _jobs(spark) == j0


def test_cached_schema_equals_fresh_inference(spark):
    for t in tables.TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        cached = tables.parquet_schema(spark, path)
        assert cached == tables.parquet_schema(spark, path)
        assert cached == spark.read.parquet(path).schema, t


def test_rewritten_fixture_unit_is_seen_on_next_load(spark, tmp_path):
    """Fixture regenerations swap the events ts unit at the same path;
    the cache must re-infer (arrival type) and the load must read the
    new file (values)."""
    from pyspark.sql import types as T

    d = str(tmp_path)
    path = f"{d}/events.parquet"
    steps = [
        ("ns", _TS_US, T.LongType),
        ("us", _TS_US + 1, T.TimestampNTZType),
        ("ns", _TS_US + 2, T.LongType),
    ]
    for unit, ts_us, arrival in steps:
        _write_events(path, unit, ts_us)
        assert isinstance(tables.parquet_schema(spark, path)["ts"].dataType, arrival)
        assert _ts_micros(spark, d) == ts_us, unit


def test_cache_keys_on_inference_confs(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"\x01"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert tables.parquet_schema(spark, path)["b"].dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        assert tables.parquet_schema(spark, path)["b"].dataType.typeName() == "string"
    finally:
        spark.conf.set(key, old)


def test_self_join_of_two_loads_resolves(spark):
    """Only the schema is cached: each load is its own relation with its
    own attribute ids, so a self-join needs no aliasing."""
    a = tables.load(spark, SF_DIR, "nation")
    b = tables.load(spark, SF_DIR, "nation")
    j = a.join(b, a["n_nationkey"] == b["n_nationkey"]).select(
        a["n_name"], b["n_name"].alias("n_name_b")
    )
    rows = j.collect()
    assert len(rows) == a.count() > 0
    assert all(r["n_name"] == r["n_name_b"] for r in rows)


def _write_rows(path: str, n: int) -> None:
    pq.write_table(pa.table({"x": pa.array(range(n), pa.int64())}), path)


def test_staged_rows_sums_footers_and_logs_skipped_files(tmp_path, caplog):
    d = tmp_path / "stage"
    (d / "k=1").mkdir(parents=True)
    _write_rows(str(d / "a.parquet"), 3)
    _write_rows(str(d / "k=1" / "b.parquet"), 4)
    _write_rows(str(d / ".hidden.parquet"), 100)
    (d / "_SUCCESS").write_text("")
    (d / "corrupt.parquet").write_bytes(b"not a parquet file")
    single = tmp_path / "one.parquet"
    _write_rows(str(single), 5)

    with caplog.at_level(logging.WARNING, logger="ls_hadoop_3_0_spark.tables"):
        assert demo.staged_rows(str(d)) == 7
    assert any("corrupt.parquet" in r.getMessage() for r in caplog.records)
    assert demo.staged_rows(str(d), str(single)) == 12


def test_stream_shuffle_partitions_clamps_and_pins(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "s.parquet")
    _write_rows(path, 10)
    empty = tmp_path / "empty"
    empty.mkdir()

    ssp = demo.stream_shuffle_partitions
    assert ssp(spark, str(empty)) == 1  # zero rows still get one partition
    assert ssp(spark, path) == 1  # 10 rows under the 250k quantum
    assert ssp(spark, path, rows_per_partition=5) == min(2, par)
    assert ssp(spark, path, rows_per_partition=1) == min(10, par)

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "3")
    assert ssp(spark, path, rows_per_partition=1) == 3


def test_shuffle_partitions_restores_conf_when_body_raises(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    pinned = str(int(before) + 1)
    with pytest.raises(RuntimeError, match="body"):
        with demo.shuffle_partitions(spark, int(pinned)):
            assert spark.conf.get(key) == pinned
            raise RuntimeError("body")
    assert spark.conf.get(key) == before
