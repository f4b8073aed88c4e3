"""Partitioned Parquet data lake (SURVEY §2.1 S12-S15).

Parity source: ``algo-data-ingestion/app/ingestion_service/utils.py:92-189``
(validated, atomic, hive-partitioned writes) and
``app/features/backfill/core.py:13-38`` (manually pruned scans).

Spark-first differences, by design (SURVEY §4):
- atomicity = task-commit protocol (no tmp+rename needed);
- partition pruning + predicate pushdown are Catalyst built-ins —
  ``read_lake`` just expresses filters declaratively;
- the reference's one-``dt``-per-write invariant is relaxed: Spark
  writes any number of hive partitions per batch natively.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..functions.time_norm import dt_from_ts
from ..schemas import DOMAIN_SCHEMAS, DOMAIN_TS_COLUMN, validate_schema

DEFAULT_PARTITIONS = ("exchange", "symbol", "dt")


def write_lake(
    df: DataFrame,
    base_path: str,
    *,
    domain: str | None = None,
    partition_by: Sequence[str] = DEFAULT_PARTITIONS,
    mode: str = "append",
    ts_col: str | None = None,
    schema: StructType | None = None,
) -> str:
    """Schema-validated partitioned write.

    - derives ``dt`` from the domain timestamp when absent
      (``utils.py:96-103``);
    - validates against the declared domain schema before writing
      (``utils.py:117-124``);
    - sorts within partitions by event time so Parquet row-group
      min/max stats give time-range skipping on read — this replaces
      the reference's Redis ZSET time index (SURVEY §1.1).
    """
    schema = schema or (DOMAIN_SCHEMAS.get(domain) if domain else None)
    ts = ts_col or (DOMAIN_TS_COLUMN.get(domain) if domain else None) or "timestamp"
    if "dt" in (partition_by or ()) and "dt" not in df.columns and ts in df.columns:
        df = df.withColumn("dt", dt_from_ts(ts))
    if schema is not None:
        validate_schema(df, schema)
    writer = df.sortWithinPartitions(ts) if ts in df.columns else df
    writer = writer.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(base_path)
    return base_path


def read_lake(
    spark: SparkSession,
    base_path: str,
    *,
    schema: StructType | None = None,
    dt_between: tuple[str, str] | None = None,
    where=None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Pruned lake scan: ``dt_between`` prunes hive partitions, any
    extra predicate pushes into the Parquet reader, ``columns`` prunes
    the read schema — all visible in ``.explain`` as PartitionFilters /
    PushedFilters / ReadSchema (replaces ``core.py:33-38``)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(base_path)
    if dt_between is not None:
        df = df.filter(F.col("dt").between(*dt_between))
    if where is not None:
        df = df.filter(where)
    if columns:
        df = df.select(*columns)
    return df


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: StructType | str, **options
) -> DataFrame:
    """``spark.read.schema(schema).options(**options).parquet(path)``,
    or an empty frame of ``schema`` when ``path`` does not exist. Only
    a MISSING path reads as empty; any other failure — corrupt footer,
    permissions, FS hiccup — propagates, because silently substituting
    an empty table would make callers treat stored rows as absent.

    Missing-path detection uses the STRUCTURED error class
    (``getCondition()`` on pyspark>=4, ``getErrorClass()`` on older
    builds) — a substring match on the rendered message would misread
    any wrapped/reworded error that merely MENTIONS PATH_NOT_FOUND as
    a missing path; the substring stays only as the last-resort
    fallback for builds exposing neither accessor."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).options(**options).parquet(path)
    except AnalysisException as e:
        cond = None
        for accessor in ("getCondition", "getErrorClass"):
            fn = getattr(e, accessor, None)
            if fn is None:
                continue
            try:
                cond = fn()
            except Exception:
                cond = None
            if cond is not None:
                break
        missing = (cond == "PATH_NOT_FOUND") if cond is not None \
            else ("PATH_NOT_FOUND" in str(e))
        if missing:
            return spark.createDataFrame([], schema)
        raise


def compact_lake(
    spark: SparkSession,
    base_path: str,
    *,
    partition_by: Sequence[str] = DEFAULT_PARTITIONS,
    ts_col: str = "timestamp",
    target_file_mb: int = 128,
    max_records_per_file: int = 0,
) -> str:
    """Rewrite a lake prefix into right-sized files — the small-files
    compaction every streaming/micro-batch sink eventually needs (each
    trigger appends one file per partition; a year of 1-minute batches
    is ~500k tiny files, and at 100 TB the NameNode/listing cost alone
    kills scans).

    Plan shape: one scan → AQE-coalesced exchange →
    ``sortWithinPartitions(ts)`` → overwrite. Sizing comes from the
    actual bytes on disk (Hadoop ``getContentSummary``, no driver
    listing of file contents): ``ceil(bytes / target_file_mb)`` output
    files, so the rewrite is a single bounded shuffle regardless of
    how fragmented the input is. Row-group time-skipping is preserved
    because the per-file sort is reapplied.

    Writes to ``<base>__compact`` then swaps via Hadoop rename. The
    swap window is NOT reader-atomic: between rename(src->bak) and
    rename(tmp->src) the base path briefly does not exist, and on
    object stores (s3a) Hadoop rename is a non-atomic O(data) copy —
    use a table format (Delta/Iceberg) there. On local FS / HDFS the
    window is two metadata ops; a crash inside it leaves the data at
    ``<base>__pre_compact``, which the next call detects and restores
    before compacting (self-healing, ADVICE r3)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = src.getFileSystem(hconf)
    stranded = jvm.org.apache.hadoop.fs.Path(f"{base_path.rstrip('/')}__pre_compact")
    if not fs.exists(src) and fs.exists(stranded):
        # a previous run crashed mid-swap: the original table is intact
        # at __pre_compact — restore it and carry on
        if not fs.rename(stranded, src):
            raise IOError(f"compact_lake: could not restore {base_path} from __pre_compact")
    bytes_total = fs.getContentSummary(src).getLength()
    n_files = max(1, int(bytes_total // (target_file_mb * 1024 * 1024)) + 1)

    df = spark.read.parquet(base_path)
    cols = [c for c in (partition_by or ()) if c in df.columns]
    out = df.repartition(n_files, *[F.col(c) for c in cols]) if cols else df.repartition(n_files)
    if ts_col in df.columns:
        out = out.sortWithinPartitions(*cols, ts_col) if cols else out.sortWithinPartitions(ts_col)

    tmp = f"{base_path.rstrip('/')}__compact"
    writer = out.write.mode("overwrite")
    if cols:
        writer = writer.partitionBy(*cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(tmp)

    bak = jvm.org.apache.hadoop.fs.Path(f"{base_path.rstrip('/')}__pre_compact")
    fs.delete(bak, True)
    if not fs.rename(src, bak):
        raise IOError(f"compact_lake: could not stage {base_path}")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), src):
        fs.rename(bak, src)  # roll back; leave the table as it was
        raise IOError(f"compact_lake: swap failed for {base_path}")
    fs.delete(bak, True)
    return base_path


def hadoop_delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete through Hadoop's FileSystem API — works for any
    URI Spark can write (file://, hdfs://, s3a://, ...), unlike
    ``shutil.rmtree`` which silently no-ops on non-local paths
    (ADVICE r2). Returns True when the path existed and was removed."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.delete(hpath, True))


def storage_probe(spark: SparkSession, base_path: str) -> bool:
    """S19 storage-backend probe (``routes.py:1111-1168``): try a
    1-row write + read-back under ``base_path``; True on success."""
    import uuid

    probe = f"{base_path.rstrip('/')}/__probe_{uuid.uuid4().hex}"
    try:
        spark.range(1).write.mode("overwrite").parquet(probe)
        ok = spark.read.parquet(probe).count() == 1
    except Exception:
        return False
    finally:
        try:
            hadoop_delete(spark, probe)
        except Exception:
            pass  # probe cleanup must never mask the probe verdict
    return ok


def persist_raw(
    spark: SparkSession,
    payload_json: str,
    *,
    source: str,
    symbol: str,
    base_path: str,
) -> str:
    """S20 legacy raw persist (``app/storage.py:9-18``): one JSON
    payload → flattened single-row frame → dated parquet path. Nested
    objects expand to ``parent.child`` columns (json_normalize
    parity)."""
    from ..functions.payload import flatten_struct

    df = spark.read.json(spark.sparkContext.parallelize([payload_json]))
    for f_ in df.schema.fields:
        if f_.dataType.typeName() == "struct":
            df = flatten_struct(df, f_.name, prefix=f_.name)
    df = (
        df.withColumn("__source", F.lit(source))
        .withColumn("__symbol", F.lit(symbol))
        .withColumn("__ingested_at", F.current_timestamp())
    )
    out = f"{base_path.rstrip('/')}/{source}/{symbol.replace('/', '-')}"
    df.write.mode("append").parquet(out)
    return out


def zorder_key(
    df,
    cols,
    *,
    bits: int = 16,
    out: str = "zorder_key",
):
    """Z-order (Morton) clustering key over 2-4 numeric/time columns:
    each column min-max-quantizes to ``bits`` bits (range from a tiny
    broadcast aggregate) and the bits interleave into one LONG.
    Sorting by it before a partitioned/size-capped write co-locates
    rows that are close in EVERY dimension, so parquet row-group
    min/max stats stay tight on ALL the z-dimensions at once and
    point/range scans over any of them skip most files — the
    multi-column layout trick behind OPTIMIZE ZORDER, as a plain
    column expression.

    Use ``df.orderBy("zorder_key")`` (range-partitioned total sort)
    into ``write_lake``/``maxRecordsPerFile`` — no new write path
    needed. The interleave is a static shift/or expression tree
    (``bits * len(cols)`` terms, codegen'd); NULLs quantize to cell 0
    (sort first), documented rather than hidden.
    """
    from pyspark.sql import functions as F

    cols = list(cols)
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder_key wants 2-4 columns")
    if bits * len(cols) > 63:
        raise ValueError(f"bits*cols must fit a signed long, got {bits * len(cols)}")
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
        ]
    bounds = df.agg(*aggs)
    staged = df.crossJoin(F.broadcast(bounds))
    max_q = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        x = F.col(c).cast("double")
        span = F.nullif(F.col(f"__hi_{c}") - F.col(f"__lo_{c}"), F.lit(0.0))
        q = F.least(
            F.lit(max_q),
            F.greatest(
                F.lit(0),
                F.floor((x - F.col(f"__lo_{c}")) / span * max_q).cast("long"),
            ),
        )
        q = F.coalesce(q, F.lit(0))
        for b in range(bits):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit, b * len(cols) + i)
            )
    return staged.withColumn(out, key).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] = (),
    path: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Hive-style BUCKETED table write — the co-located-join layout
    (r10; no counterpart in the reference, whose store is Redis).

    Bucketing is the lake-level twin of :func:`~..operators.skew`'s
    runtime tricks: rows are hash-clustered into a fixed number of
    buckets on the join/aggregation key AT WRITE TIME, and the bucket
    spec is recorded in the catalog, so every later join or aggregate
    on that key reads the clustering instead of re-shuffling — on a
    100-TB fact table joined daily against a same-bucketed dimension,
    the per-query exchange of the big side disappears entirely
    (plan-asserted in ``tests/test_bucketed_join.py``: two tables
    bucketed (same count, same key) sort-merge-join with ZERO
    Exchange on either side, vs two exchanges unbucketed).

    Mechanics and contracts:

    - requires ``saveAsTable`` (the bucket spec lives in the catalog;
      ``parquet(path)`` alone would silently drop it). Pass ``path``
      to keep the data EXTERNAL at a caller-owned location; otherwise
      it lands under ``spark.sql.warehouse.dir``.
    - ``sort_cols`` additionally sorts within each bucket file
      (row-group stats + merge-ready runs).
    - pick ``buckets`` like shuffle partitions at the table's target
      scale (~one bucket per 100-200 MB of key-clustered data); both
      join sides must agree on count and key for exchange-free plans.
    - Spark writes one file per (task, bucket) — compact upstream or
      repartition by the bucket key first to keep file counts sane.
    """
    writer = df.repartition(buckets, *[F.col(c) for c in bucket_cols]) \
        .write.mode(mode).format("parquet") \
        .bucketBy(buckets, *list(bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*list(sort_cols))
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return table
