"""Feature store: the reference's Redis KV + sorted-time-index store
(``algo-data-ingestion/app/features/store/redis_store.py``) re-expressed
as a partitioned, time-sorted Parquet table.

Key semantics parity:
- key = (domain, symbol, timeframe, epoch_sec), symbol sanitized
  ``/``,``:`` -> ``-`` and uppercased (``redis_store.py:104-118``);
- point / batch reads (``redis_store.py:151-168,198-219``);
- range reads with limit + reverse (ZRANGEBYSCORE semantics,
  ``redis_store.py:221-259``);
- TTL retention sweep (``app/features/jobs/backfill.py:191-215``);
- gap detection vs an expected bar grid (``backfill.py:45-76``).

Scale design: every point/range read addresses the one partition
directory of its key, ``domain=…/symbol=…/timeframe=…``, so building a
read lists that directory only and runs no Spark job; the collect is
the read's one job. Rows are written sorted by ``ts`` so Parquet
row-group min/max stats subsume the Redis ZSET index (SURVEY §1.1, §4).
The read schema (every file's columns, key columns as strings) is
inferred once per instance, by the instance's first read; the
instance's own appends extend it with the columns they add, so no
later read infers again. A column another writer adds appears once a
new instance is opened. Rows appended by any writer show in the next
read. Payloads stay *columnar* (one column per feature) — the
JSON-blob shape of Redis is an access-API detail, not a storage one.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.cleaning import sanitize_symbol
from ..operators.joins import expected_grid, find_gaps
from ..sources.lake import read_parquet_or_empty

KEY_COLS = ("domain", "symbol", "timeframe")


def _store_schema(fields) -> StructType:
    """``fields`` as a store read schema: the data columns, then the
    key columns as strings (so ``"007"`` and ``"7"`` stay two
    symbols)."""
    return StructType([f for f in fields if f.name not in KEY_COLS]
                      + [StructField(k, StringType()) for k in KEY_COLS])


class FeatureStore:
    def __init__(self, spark: SparkSession, base_path: str, *,
                 metrics_registry=None):
        """``metrics_registry`` (a ``streaming.metrics.MetricsRegistry``)
        turns on the reference-parity store metrics — write/read
        counters by domain+op and an op-latency histogram
        (``feature_writes_total`` / ``feature_reads_total`` /
        ``feature_op_latency_seconds``; the Grafana feature-store
        dashboard under ``monitoring/grafana/`` reads exactly these).
        Latency covers the Spark ACTION for writes and the plan BUILD
        for reads (reads are lazy; execution cost lands on whichever
        job consumes the frame). A read build lists one partition
        directory and runs no Spark job, except the first read of an
        instance (or the first after a non-append write), which infers
        the read schema."""
        self.spark = spark
        self.base_path = base_path
        self._schema: StructType | None = None
        # a streaming ingest writes from its foreachBatch thread while
        # callers read: the lock keeps an inference that started before
        # a write landed from dropping the columns that write added
        self._schema_lock = threading.Lock()
        self._m_writes = self._m_reads = self._m_latency = None
        if metrics_registry is not None:
            self._m_writes = metrics_registry.counter(
                "feature_writes_total", "Feature-store writes.", ("domain",)
            )
            self._m_reads = metrics_registry.counter(
                "feature_reads_total",
                "Feature-store reads by op.", ("domain", "op"),
            )
            self._m_latency = metrics_registry.histogram(
                "feature_op_latency_seconds",
                "Feature-store op latency.", ("op",),
            )

    def _observe(self, op: str, domain: str, t0: float) -> None:
        import time as _time

        if self._m_latency is None:
            return
        if op == "write":
            self._m_writes.inc({"domain": domain})
        else:
            self._m_reads.inc({"domain": domain, "op": op})
        self._m_latency.observe(_time.perf_counter() - t0, {"op": op})

    # -- write ---------------------------------------------------------------

    def write(self, df: DataFrame, *, domain: str, ts_col: str = "timestamp",
              mode: str = "append") -> None:
        """Append feature rows; adds the store key columns + epoch
        seconds, sanitizes symbols, sorts by time within partitions."""
        import time as _time

        t0 = _time.perf_counter()
        out = df.withColumn("domain", F.lit(domain))
        if "symbol" in out.columns:
            out = out.withColumn("symbol", sanitize_symbol("symbol"))
        out = out.withColumn("ts_epoch", F.col(ts_col).cast("long"))
        (
            out.sortWithinPartitions("ts_epoch")
            .write.mode(mode)
            .partitionBy(*KEY_COLS)
            .parquet(self.base_path)
        )
        with self._schema_lock:
            if mode != "append":  # the store may have been replaced
                self._schema = None
            elif self._schema is not None:
                known = set(self._schema.fieldNames())
                self._schema = _store_schema(list(self._schema) + [
                    StructField(f.name, f.dataType)
                    for f in out.schema if f.name not in known
                ])
        self._observe("write", domain, t0)

    # -- read ----------------------------------------------------------------

    def _read_schema(self) -> StructType:
        """The store's columns, merged over every file, with the key
        columns as strings. Inferred on first use; ``write`` extends
        it on append and clears it otherwise."""
        with self._schema_lock:
            if self._schema is None:
                self._schema = _store_schema(
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(self.base_path).schema)
            return self._schema

    def _scan(self, domain: str, symbol: str, timeframe: str) -> DataFrame:
        """The rows of one key: a scan of its one partition directory,
        escaped as the writer escapes it. A key never written is an
        empty frame."""
        schema = self._read_schema()
        escape = (self.spark._jvm.org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.escapePathName)
        values = (domain, symbol.replace("/", "-").replace(":", "-").upper(), timeframe)
        path = "/".join([self.base_path.rstrip("/")]
                        + [f"{k}={escape(v)}" for k, v in zip(KEY_COLS, values)])
        return read_parquet_or_empty(self.spark, path, schema,
                                     basePath=self.base_path)

    def read(self, domain: str, symbol: str, timeframe: str, ts_epoch: int) -> DataFrame:
        """Point read — filter on the full key (``redis_store.py:151-168``)."""
        import time as _time

        t0 = _time.perf_counter()
        out = self._scan(domain, symbol, timeframe).filter(
            F.col("ts_epoch") == ts_epoch
        )
        self._observe("point", domain, t0)
        return out

    def batch_read(self, domain: str, symbol: str, timeframe: str,
                   ts_epochs: Sequence[int]) -> DataFrame:
        """Batch point read (MGET parity, ``redis_store.py:198-219``)."""
        import time as _time

        t0 = _time.perf_counter()
        out = self._scan(domain, symbol, timeframe).filter(
            F.col("ts_epoch").isin(list(ts_epochs))
        )
        self._observe("batch", domain, t0)
        return out

    def range_read(self, domain: str, symbol: str, timeframe: str,
                   start_epoch: int, end_epoch: int, *,
                   limit: int | None = None, reverse: bool = False) -> DataFrame:
        """Range read with limit/reverse (ZRANGEBYSCORE parity,
        ``redis_store.py:221-259``). orderBy + limit plans as a
        top-k, not a global sort."""
        import time as _time

        t0 = _time.perf_counter()
        out = self._scan(domain, symbol, timeframe).filter(
            F.col("ts_epoch").between(start_epoch, end_epoch)
        )
        out = out.orderBy(F.col("ts_epoch").desc() if reverse else F.col("ts_epoch").asc())
        out = out.limit(limit) if limit else out
        self._observe("range", domain, t0)
        return out

    # -- maintenance ---------------------------------------------------------

    def ttl_sweep(self, now_epoch: int, ttl_seconds: int, out_path: str) -> DataFrame:
        """Retention: rewrite the store keeping only live rows
        (Parquet is immutable; Delta would DELETE in place). Returns
        the surviving frame (parity: ``backfill.py:191-215``)."""
        df = self.spark.read.schema(self._read_schema()).parquet(self.base_path)
        live = df.filter(F.col("ts_epoch") >= now_epoch - ttl_seconds)
        live.write.mode("overwrite").partitionBy(*KEY_COLS).parquet(out_path)
        return live

    def find_missing_bars(self, domain: str, symbol: str, timeframe: str,
                          start: str, end: str) -> DataFrame:
        """Expected-grid anti-join gap detection
        (``backfill.py:45-76``): bar timestamps in [start, end] with
        no stored feature row."""
        present = self._scan(domain, symbol, timeframe).select(
            F.timestamp_seconds(F.col("ts_epoch")).alias("expected_ts")
        )
        grid = expected_grid(self.spark, start, end, timeframe)
        return find_gaps(present, grid, on=["expected_ts"])
