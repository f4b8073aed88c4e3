"""Feature-store read contract: every read scans the one partition
directory of its key with the store's read schema, which is inferred
once per instance (key columns as strings) and extended by the
instance's own appends."""

from __future__ import annotations

import os
import threading
import time
import uuid

import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import StringType

from algorithmic_data_ingestion_for_cryptocurrencies_spark.store import feature_store
from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.feature_store import (
    KEY_COLS,
    FeatureStore,
)

T0 = 1_700_000_000
HI = T0 + 10**6


def _bars(spark, symbol: str, n: int, *, start: int = T0, **extra):
    """``n`` one-minute feature rows of ``symbol`` from ``start``."""
    pdf = pd.DataFrame({
        "timestamp": pd.to_datetime([start + 60 * i for i in range(n)], unit="s")
        .astype("datetime64[us]"),
        "symbol": symbol,
        "timeframe": "1m",
        "value": [float(i) for i in range(n)],
        **extra,
    })
    return spark.createDataFrame(pdf)


def _epochs(store: FeatureStore, symbol: str) -> list[int]:
    rows = store.range_read("market", symbol, "1m", T0, HI).collect()
    return [r["ts_epoch"] for r in rows]


def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted under a job group."""
    sc = spark.sparkContext
    group = f"feature-store-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, which runs behind
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_numeric_looking_symbols_stay_distinct(spark, tmp_path):
    """``"007"`` and ``"7"`` are two keys: neither read returns the
    other's rows, the symbol comes back as the string written, and a
    TTL sweep keeps them apart."""
    store = FeatureStore(spark, str(tmp_path / "store"))
    store.write(_bars(spark, "007", 5), domain="market")
    store.write(_bars(spark, "7", 3), domain="market")

    for symbol, n in (("007", 5), ("7", 3)):
        rows = store.range_read("market", symbol, "1m", T0, HI).collect()
        assert len(rows) == n
        assert {r["symbol"] for r in rows} == {symbol}
        point = store.read("market", symbol, "1m", T0).collect()
        assert [(r["symbol"], r["ts_epoch"]) for r in point] == [(symbol, T0)]

    swept = tmp_path / "swept"
    live = store.ttl_sweep(T0 + 240, 120, str(swept))
    assert sorted((r["symbol"], r["ts_epoch"]) for r in live.collect()) == [
        ("007", T0 + 120), ("007", T0 + 180), ("007", T0 + 240), ("7", T0 + 120)]
    assert sorted(os.listdir(swept / "domain=market")) == ["symbol=007", "symbol=7"]
    assert _epochs(FeatureStore(spark, str(swept)), "7") == [T0 + 120]


def test_each_read_runs_one_job(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 30), domain="market")
    # the first read of an instance infers the read schema
    assert _jobs(spark, lambda: store.read("market", "BTC/USDT", "1m", T0).collect()) <= 2

    assert _jobs(spark, lambda: store.read("market", "BTC/USDT", "1m", T0)) == 0
    assert _jobs(spark, lambda: store.read("market", "BTC/USDT", "1m", T0).collect()) == 1
    assert _jobs(spark, lambda: store.batch_read(
        "market", "BTC/USDT", "1m", [T0, T0 + 60]).collect()) == 1
    assert _jobs(spark, lambda: store.range_read(
        "market", "BTC/USDT", "1m", T0, HI, limit=5, reverse=True).collect()) == 1


def test_reads_after_own_appends_run_one_job(spark, tmp_path):
    """Appends interleaved with reads (the backfill and live-ingest
    pattern): only the instance's first read infers the schema, also
    when an append adds a column."""
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 3), domain="market")
    store.read("market", "BTC/USDT", "1m", T0).collect()

    for i, extra in enumerate(({}, {"rsi": [50.0]}, {})):
        store.write(_bars(spark, "BTC/USDT", 1, start=T0 + 3600 * (i + 1), **extra),
                    domain="market")
        assert _jobs(spark, lambda: store.range_read(
            "market", "BTC/USDT", "1m", T0, HI, limit=100).collect()) == 1
        assert _jobs(spark, lambda: store.read(
            "market", "BTC/USDT", "1m", T0).collect()) == 1
    rows = store.range_read("market", "BTC/USDT", "1m", T0, HI).collect()
    assert [r["rsi"] for r in rows] == [None] * 4 + [50.0, None]


def test_read_scans_one_partition_directory(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 3), domain="market")
    store.write(_bars(spark, "ETH/USDT", 3), domain="market")

    df = store.range_read("market", "BTC/USDT", "1m", T0, HI, limit=2)
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    roots = leaves.apply(0).relation().location().rootPaths()
    assert roots.size() == 1
    assert roots.apply(0).toString().endswith(
        "/domain=market/symbol=BTC-USDT/timeframe=1m")


def test_missing_key_is_empty_with_store_schema(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 3), domain="market")

    present = store.read("market", "BTC/USDT", "1m", T0)
    for missing in (store.read("market", "DOGE/USDT", "1m", T0),
                    store.range_read("news", "BTC/USDT", "1m", T0, HI),
                    store.batch_read("market", "BTC/USDT", "1h", [T0])):
        assert missing.collect() == []
        assert missing.schema == present.schema
    assert {present.schema[k].dataType for k in KEY_COLS} == {StringType()}


def test_missing_store_path_raises(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path / "never-written"))
    with pytest.raises(AnalysisException):
        store.read("market", "BTC/USDT", "1m", T0)


def test_symbol_with_escaped_path_character_roundtrips(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "A=B", 4), domain="market")
    store.write(_bars(spark, "A", 2), domain="market")

    assert "symbol=A%3DB" in os.listdir(tmp_path / "domain=market")
    rows = store.range_read("market", "A=B", "1m", T0, HI).collect()
    assert len(rows) == 4
    assert {r["symbol"] for r in rows} == {"A=B"}


def test_rows_appended_after_a_read_are_visible(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 3), domain="market")
    assert len(_epochs(store, "BTC/USDT")) == 3

    store.write(_bars(spark, "BTC/USDT", 2, start=T0 + 3600), domain="market")
    assert len(_epochs(store, "BTC/USDT")) == 5

    FeatureStore(spark, str(tmp_path)).write(
        _bars(spark, "BTC/USDT", 2, start=T0 + 7200), domain="market")
    assert sorted(_epochs(store, "BTC/USDT"))[-2:] == [T0 + 7200, T0 + 7260]


def test_new_column_appears_after_the_instance_writes_it(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 3), domain="market")
    assert "rsi" not in store.read("market", "BTC/USDT", "1m", T0).columns

    store.write(_bars(spark, "BTC/USDT", 2, start=T0 + 3600, rsi=[40.0, 60.0]),
                domain="market")
    rows = store.range_read("market", "BTC/USDT", "1m", T0, HI).collect()
    assert [r["rsi"] for r in rows] == [None, None, None, 40.0, 60.0]


def test_write_landing_during_schema_inference_keeps_its_column(
        spark, tmp_path, monkeypatch):
    """A read infers the schema on one thread; an append that adds a
    column lands on another before the inferred schema is cached. The
    append's column must still show in the next read."""
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 3), domain="market")
    key_dir = tmp_path / "domain=market" / "symbol=BTC-USDT" / "timeframe=1m"
    n_files = len(list(key_dir.glob("*.parquet")))
    inferring = threading.Event()
    store_schema = feature_store._store_schema

    def slow_store_schema(fields):
        inferring.set()
        # hold the pre-write schema until the write's files have landed
        deadline = time.monotonic() + 60
        while (len(list(key_dir.glob("*.parquet"))) == n_files
               and time.monotonic() < deadline):
            time.sleep(0.05)
        return store_schema(fields)

    monkeypatch.setattr(feature_store, "_store_schema", slow_store_schema)
    first = []
    reader = threading.Thread(target=lambda: first.append(
        store.read("market", "BTC/USDT", "1m", T0).columns))
    reader.start()
    assert inferring.wait(60)
    store.write(_bars(spark, "BTC/USDT", 1, start=T0 + 3600, rsi=[50.0]),
                domain="market")
    reader.join(60)
    assert first and "rsi" not in first[0]

    rows = store.range_read("market", "BTC/USDT", "1m", T0, HI).collect()
    assert [r["rsi"] for r in rows] == [None, None, None, 50.0]


def test_column_from_another_writer_appears_in_a_new_instance(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path))
    store.write(_bars(spark, "BTC/USDT", 3), domain="market")
    assert "rsi" not in store.read("market", "BTC/USDT", "1m", T0).columns

    FeatureStore(spark, str(tmp_path)).write(
        _bars(spark, "BTC/USDT", 1, start=T0 + 3600, rsi=[50.0]), domain="market")
    assert "rsi" not in store.read("market", "BTC/USDT", "1m", T0).columns
    fresh = FeatureStore(spark, str(tmp_path))
    rows = fresh.read("market", "BTC/USDT", "1m", T0 + 3600).collect()
    assert [r["rsi"] for r in rows] == [50.0]
