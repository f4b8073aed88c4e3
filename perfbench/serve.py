"""The ``ingest_serve`` workload: stream ingest, then feature-store reads.

Seeded OHLCV bars are staged as one parquet file per micro-batch.
``read_file_stream`` feeds them to ``start_market_ingest``, which
appends each batch to the lake and its rebuilt features to the feature
store. Then one closed-loop client alternates point reads
(``FeatureStore.read``) and range reads (``range_read`` with a limit,
newest first), collecting each result before sending the next.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spans import (SparkStatus, Tracer, innermost, job_spans, latest_stages,
                   stage_totals)

DOMAIN = "market"
TIMEFRAME = "1s"
RANGE_SECONDS = 600
RANGE_LIMIT = 50


def sanitize(symbol: str) -> str:
    return symbol.replace("/", "-").replace(":", "-").upper()


def stage_bars(bars: list[pd.DataFrame], out_dir: str) -> int:
    """One parquet file per micro-batch; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, df in enumerate(bars):
        table = pa.Table.from_pandas(df, preserve_index=False)
        ts = table.column("timestamp").cast(pa.timestamp("us", tz="UTC"))
        table = table.set_column(table.schema.get_field_index("timestamp"), "timestamp", ts)
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def tree_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def bar_epochs(bars: list[pd.DataFrame]) -> dict[str, np.ndarray]:
    """Symbol -> epoch seconds of its bars."""
    allbars = pd.concat(bars, ignore_index=True)
    return {s: (g["timestamp"].astype("int64") // 10**6).to_numpy()
            for s, g in allbars.groupby("symbol")}


def read_plan(bars: list[pd.DataFrame], seed: int, reads: int) -> list[tuple]:
    """Seeded read keys: ``reads`` point reads and ``reads`` range reads,
    interleaved, each over a key that was ingested."""
    rng = np.random.default_rng(seed + 1)
    epochs = bar_epochs(bars)
    symbols = sorted(epochs)
    plan = []
    for _ in range(reads):
        sym = symbols[int(rng.integers(len(symbols)))]
        plan.append(("point", sym, int(rng.choice(epochs[sym]))))
        sym = symbols[int(rng.integers(len(symbols)))]
        lo = int(rng.choice(epochs[sym]))
        plan.append(("range", sym, lo))
    return plan


def expected_range(epochs: np.ndarray, lo: int) -> list[int]:
    sel = np.sort(epochs[(epochs >= lo) & (epochs <= lo + RANGE_SECONDS)])[::-1]
    return [int(e) for e in sel[:RANGE_LIMIT]]


@contextlib.contextmanager
def _traced_layers(tracer: Tracer, spans: list):
    """Wrap the lake writer and the feature builder the ingest handler
    calls, so each call records a span."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.operators import indicators
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.sources import lake

    def wrap(module, attr, layer):
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with tracer.span(attr, layer) as s:
                spans.append(s)
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        return orig

    saved = [(lake, "write_lake", wrap(lake, "write_lake", "sources.lake")),
             (indicators, "build_market_features",
              wrap(indicators, "build_market_features", "operators.indicators"))]
    try:
        yield
    finally:
        for module, attr, orig in saved:
            setattr(module, attr, orig)


def _store_class(tracer: Tracer | None, spans: list):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.store.feature_store import (
        FeatureStore,
    )

    if tracer is None:
        return FeatureStore

    class TracedStore(FeatureStore):
        def write(self, *args, **kwargs):
            with tracer.span("feature_store.write", "store.feature_store") as s:
                spans.append(s)
                return super().write(*args, **kwargs)

    return TracedStore


def ingest(spark, root: str, bars_dir: str, tracer: Tracer | None = None):
    """Run the stream over every staged file. Returns the seconds taken,
    the finished streaming query and the store object."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.schemas import MARKET_SCHEMA
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.streaming.ingest import (
        read_file_stream,
        start_market_ingest,
    )

    layer_spans: list = []
    store = _store_class(tracer, layer_spans)(spark, os.path.join(root, "store"))
    traced = _traced_layers(tracer, layer_spans) if tracer else contextlib.nullcontext()
    t0 = time.perf_counter()
    with traced, (tracer.span("ingest", "streaming.ingest") if tracer
                  else contextlib.nullcontext()) as root_span:
        stream = read_file_stream(spark, bars_dir, MARKET_SCHEMA, max_files_per_trigger=1)
        query = start_market_ingest(
            stream, lake_path=os.path.join(root, "lake"),
            checkpoint=os.path.join(root, "checkpoint"), feature_store=store,
        )
        query.awaitTermination()
    seconds = time.perf_counter() - t0
    if tracer is not None:
        _nest_ingest(tracer, spark, query, root_span, layer_spans)
    return seconds, query, store


def _nest_ingest(tracer, spark, query, root_span, layer_spans) -> None:
    batch_spans = []
    for p in query.recentProgress:
        start = pd.Timestamp(p.timestamp).timestamp()
        dur = p.durationMs.get("triggerExecution", 0) / 1e3
        batch_spans.append(tracer.add(f"batch.{p.batchId}", "streaming.ingest.batch",
                                      start, start + dur, root_span["id"],
                                      rows=p.numInputRows, duration_ms=dict(p.durationMs)))
    for s in layer_spans:
        s["parent"] = innermost(batch_spans, s["start"], root_span["id"])
    status = SparkStatus(spark)
    jobs = [j for j in status.jobs() if j.get("submissionTime")
            and root_span["start"] <= j["submissionTime"] / 1e3 <= root_span["end"]]
    stages = latest_stages(status.stages())
    job_spans(tracer, jobs, stages,
              lambda t: innermost(layer_spans + batch_spans, t, root_span["id"]))


def serve(spark, store, plan: list[tuple], tracer: Tracer | None = None):
    """Closed-loop reads. Returns per-kind latencies (s), per-read
    build and collect times, and the collected rows."""
    sc = spark.sparkContext
    lat = {"point": [], "range": []}
    build, collect, results = [], [], []
    for i, (kind, sym, epoch) in enumerate(plan):
        if tracer is not None:
            sc.setJobGroup(f"perfbench.read.{i}", kind)
            root = tracer.add(f"read.{kind}", "serve", time.time(), 0.0)
        t0 = time.perf_counter()
        if kind == "point":
            df = store.read(DOMAIN, sym, TIMEFRAME, epoch)
        else:
            df = store.range_read(DOMAIN, sym, TIMEFRAME, epoch, epoch + RANGE_SECONDS,
                                  limit=RANGE_LIMIT, reverse=True)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        lat[kind].append(t2 - t0)
        build.append(t1 - t0)
        collect.append(t2 - t1)
        results.append(rows)
        if tracer is not None:
            root["end"] = root["start"] + (t2 - t0)
            tracer.add("read_build", "store.feature_store.read_build",
                       root["start"], root["start"] + (t1 - t0), root["id"])
            tracer.add("collect", "store.feature_store.read_exec",
                       root["start"] + (t1 - t0), root["end"], root["id"], rows=len(rows))
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return lat, build, collect, results


def read_layer_metrics(spark, tracer: Tracer, n_reads: int, rows_returned: int) -> dict:
    status = SparkStatus(spark)
    jobs = [j for j in status.jobs() if str(j.get("jobGroup", "")).startswith("perfbench.read.")]
    stages = latest_stages(status.stages())
    reads = [s for s in tracer.spans if s["layer"] in (
        "store.feature_store.read_build", "store.feature_store.read_exec")]
    job_spans(tracer, jobs, stages, lambda t: innermost(reads, t, None))
    sql = status.sql_metrics({j["jobId"] for j in jobs})
    totals = stage_totals(jobs, stages)
    return {
        "jobs_per_read": len(jobs) / n_reads,
        "files_scanned_per_read": sql.get("number of files read", 0.0) / n_reads,
        "rows_scanned_per_row_returned": totals["input_records"] / max(1, rows_returned),
    }


def check_reads(plan, results, bars: list[pd.DataFrame]) -> list[str]:
    epochs = bar_epochs(bars)
    failures = []
    for (kind, sym, epoch), rows in zip(plan, results):
        keys = {(r["symbol"], r["timeframe"]) for r in rows}
        if keys - {(sanitize(sym), TIMEFRAME)}:
            failures.append(f"{kind} read {sym}@{epoch}: foreign keys {sorted(keys)}")
            continue
        got = [r["ts_epoch"] for r in rows]
        if kind == "point":
            if got != [epoch]:
                failures.append(f"point read {sym}@{epoch}: got epochs {got[:5]}")
        else:
            if any(not epoch <= e <= epoch + RANGE_SECONDS for e in got):
                failures.append(f"range read {sym}@{epoch}: row out of bounds")
            elif len(got) > RANGE_LIMIT or got != sorted(got, reverse=True):
                failures.append(f"range read {sym}@{epoch}: over limit or not newest-first")
            elif got != expected_range(epochs[sym], epoch):
                failures.append(f"range read {sym}@{epoch}: {len(got)} rows, wrong set")
    return failures


def expected_features(bars: list[pd.DataFrame]) -> pd.DataFrame:
    """Per micro-batch (one staged file), the store key and the two
    features with closed forms: ``ret_1`` (within the batch, per
    series) and ``hl_spread``."""
    parts = []
    for df in bars:
        df = df.sort_values(["symbol", "timestamp"])
        prev = df.groupby("symbol")["close"].shift(1)
        parts.append(pd.DataFrame({
            "symbol": df["symbol"].map(sanitize),
            "ts_epoch": df["timestamp"].astype("int64") // 10**6,
            "ret_1": (df["close"] - prev) / prev,
            "hl_spread": (df["high"] - df["low"]) / df["close"],
        }))
    return pd.concat(parts, ignore_index=True)


def check_outputs(spark, root: str, bars: list[pd.DataFrame]) -> list[str]:
    """Lake rows equal the generated rows; store rows equal the
    expected feature rows."""
    failures = []
    cols = ["timestamp", "symbol", "exchange", "timeframe",
            "open", "high", "low", "close", "volume"]
    want = pd.concat(bars, ignore_index=True)[cols]
    want["timestamp"] = want["timestamp"].astype("int64") // 10**6
    lake = spark.read.parquet(os.path.join(root, "lake")).selectExpr(
        "CAST(timestamp AS LONG) AS timestamp", *cols[1:]).toPandas()
    key = ["symbol", "timestamp"]
    a = lake.sort_values(key).reset_index(drop=True)[cols]
    b = want.sort_values(key).reset_index(drop=True)[cols]
    if len(a) != len(b) or not a.equals(b):
        failures.append(f"lake: {len(a)} rows, expected {len(b)} equal rows")

    store = spark.read.parquet(os.path.join(root, "store")).select(
        "domain", "symbol", "timeframe", "ts_epoch", "ret_1", "hl_spread").toPandas()
    exp = expected_features(bars)
    if set(store["domain"]) != {DOMAIN} or set(store["timeframe"]) != {TIMEFRAME}:
        failures.append("store: unexpected domain or timeframe keys")
    key = ["symbol", "ts_epoch"]
    got = store.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    if len(got) != len(exp) or not got[key].equals(exp[key]):
        failures.append(f"store: {len(got)} rows, expected {len(exp)} keys")
    else:
        for c in ("ret_1", "hl_spread"):
            x, y = got[c].to_numpy(float), exp[c].to_numpy(float)
            bad = ~((x == y) | (np.isnan(x) & np.isnan(y)))
            if bad.any():
                failures.append(f"store: {int(bad.sum())} {c} values differ")
    return failures


def has_percentile(n: int, pct: int) -> bool:
    """Whether the nearest-rank ``pct`` percentile of ``n`` samples has
    at least ten samples above it."""
    return n - int(np.ceil(pct / 100 * n)) >= 10


def highest_percentile(n: int) -> int:
    return max((p for p in (50, 75, 80, 90, 95, 99) if has_percentile(n, p)), default=50)


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile; refuses one without ten samples above."""
    if not has_percentile(len(values), pct):
        raise ValueError(f"p{pct} of {len(values)} samples has fewer than ten samples above it")
    return sorted(values)[int(np.ceil(pct / 100 * len(values))) - 1]


def run_once(spark, root: str, bars, plan, tracer: Tracer | None) -> dict:
    """Ingest then serve, in a fresh directory. Returns the measured
    numbers, the read results and the failure messages."""
    t0 = time.perf_counter()
    shutil.rmtree(root, ignore_errors=True)
    bars_dir = os.path.join(root, "bars")
    bars_bytes = stage_bars(bars, bars_dir)
    stage_s = time.perf_counter() - t0
    failures = []
    ingest_s, query, store = ingest(spark, root, bars_dir, tracer)
    if query.exception() is not None:
        failures.append(f"ingest: {query.exception()}")
    lat, build, collect, results = serve(spark, store, plan, tracer)
    rows = sum(len(b) for b in bars)
    lake_files, _ = tree_stats(os.path.join(root, "lake"))
    store_files, store_bytes = tree_stats(os.path.join(root, "store"))
    progress = query.recentProgress
    out = {
        "root": root, "failures": failures, "results": results, "stage_s": stage_s,
        "ingest_s": ingest_s, "serve_s": sum(lat["point"]) + sum(lat["range"]),
        "ingest_rows_per_s": rows / ingest_s,
        "lat": lat, "build": build, "collect": collect,
        "lake_files": lake_files, "store_files": store_files,
        "bytes_per_input_byte": store_bytes / bars_bytes,
        "batches": sum(1 for p in progress if p.numInputRows > 0),
        "batch_s": [p.durationMs.get("triggerExecution", 0) / 1e3 for p in progress],
        "duration_ms": {k: sum(p.durationMs.get(k, 0) for p in progress)
                        for k in ("addBatch", "queryPlanning", "walCommit")},
    }
    out["wall_s"] = out["ingest_s"] + out["serve_s"]
    return out
