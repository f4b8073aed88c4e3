"""Batch workloads: registry queries run to the noop sink.

Each query is built with its registry function and forced end to end
with ``write.format("noop")`` (full computation, no result transfer),
as the repository's own bench does. Outputs are checked outside the
timed region: the warm-up pass collects every result and compares it
with the query's DuckDB twin through ``tools/oracle_check.compare``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

from spans import (Py4JCounter, SparkStatus, Tracer, exec_metrics, innermost,
                   job_spans, latest_stages, union_seconds)

#: query groups of the ``batch_queries`` workload, in run order. The
#: market group is dominated by Python plan construction (long
#: ``withColumn`` chains) and sort/window execution on the JVM path; the
#: corpus group by shuffle joins, the ``mapInArrow`` Python-worker
#: boundary and eager ``localCheckpoint`` jobs inside the build call.
GROUPS = {
    "market_features": ("flagship_market_features",),
    "corpus_dedup": ("dedup_minhash_pairs", "sim_near_pairs_arrow", "g1_pagerank"),
}
QUERIES = tuple(q for names in GROUPS.values() for q in names)
#: untimed passes after the collect: with two task threads on 4 cores
#: the first pass after it runs 10-30% slower while the JIT settles and
#: the second up to 10% slower; later passes vary about +-10% around a
#: flat level. One warm pass is enough because the median of the timed
#: passes drops the slow second pass, and each pass saved keeps a run
#: within the time the benchmark's runs are allowed on a slow host
WARM_PASSES = 1
#: timed passes per run, at least; their median is ``wall_s``
MIN_PASSES = 3
#: cosine threshold the registry's ``sim_near_pairs_arrow`` query uses
NEAR_PAIR_THRESHOLD = 0.3


def _registry():
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.driver_queries import REGISTRY

    return REGISTRY


def _oracle_compare():
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from oracle_check import compare

    return compare


def near_pairs_reference(data_dir: str, threshold: float) -> set[tuple[int, int]]:
    """Unordered id pairs whose float32 cosine similarity is at or
    above ``threshold``, computed with NumPy."""
    emb = pd.read_parquet(os.path.join(data_dir, "embeddings.parquet"))
    ids = emb["vec_id"].to_numpy()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    sim = vecs @ vecs.T
    i, j = np.nonzero(np.triu(sim >= threshold, k=1))
    return {(int(ids[a]), int(ids[b])) for a, b in zip(i, j)}


def check_near_pairs(pdf: pd.DataFrame, data_dir: str) -> tuple[bool, str]:
    """Set check for the near-pair query, which has no SQL twin. Pairs
    within 1e-5 of the threshold may fall either side (float32
    summation order) and are excluded from the comparison."""
    id_cols = [c for c in pdf.columns if pd.api.types.is_integer_dtype(pdf[c])][:2]
    if len(id_cols) != 2:
        return False, f"expected two id columns, got {list(pdf.columns)}"
    got = {tuple(sorted((int(a), int(b)))) for a, b in zip(pdf[id_cols[0]], pdf[id_cols[1]])}
    if len(got) != len(pdf):
        return False, f"{len(pdf) - len(got)} duplicate pairs"
    lo = near_pairs_reference(data_dir, NEAR_PAIR_THRESHOLD + 1e-5)
    hi = near_pairs_reference(data_dir, NEAR_PAIR_THRESHOLD - 1e-5)
    missing, extra = lo - got, got - hi
    if missing or extra:
        return False, f"{len(missing)} pairs missing, {len(extra)} unexpected"
    return True, f"{len(got)} pairs"


def check_result(name: str, pdf: pd.DataFrame, sql: str | None, con,
                 data_dir: str) -> tuple[bool, str]:
    if sql is not None:
        return _oracle_compare()(name, pdf, con.sql(sql).df())
    if name == "sim_near_pairs_arrow":
        return check_near_pairs(pdf, data_dir)
    return False, "no reference for this query"


def duckdb_views(data_dir: str):
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def warm_up(spark, names, data_dir: str) -> tuple[float, dict[str, pd.DataFrame], list[str]]:
    """Collect every query once (compiles generated code, loads the
    Python paths, and gives the results the checks compare), then run
    ``WARM_PASSES`` untimed passes to the noop sink. Returns the time,
    the results and the failures."""
    registry = _registry()
    results, errors = {}, []
    t0 = time.perf_counter()
    for name in names:
        try:
            results[name] = registry[name][0](spark, data_dir).toPandas()
        except Exception as exc:  # a failing query is a counted failure
            errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
    for _ in range(WARM_PASSES):
        for name in results:
            run_query(spark, name, data_dir)
    return time.perf_counter() - t0, results, errors


def check_all(names, results, data_dir: str) -> list[str]:
    """Compare each collected result with its reference; returns one
    message per mismatch."""
    registry = _registry()
    con = duckdb_views(data_dir)
    failures = []
    for name in names:
        if name not in results:
            continue
        try:
            ok, msg = check_result(name, results[name], registry[name][1], con, data_dir)
        except Exception as exc:
            ok, msg = False, f"check raised {type(exc).__name__}: {exc}"
        if not ok:
            failures.append(f"{name}: {msg}")
    con.close()
    return failures


def run_query(spark, name: str, data_dir: str) -> None:
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
        clear_persisted_blocks,
    )

    _registry()[name][0](spark, data_dir).write.mode("overwrite").format("noop").save()
    clear_persisted_blocks(spark, blocking=True)


def timed_passes(spark, names, data_dir: str, seconds: float):
    """Untraced passes over ``names`` until ``seconds`` have elapsed,
    and at least ``MIN_PASSES``. Returns per-pass wall times, per-query wall times
    and failure messages."""
    passes, per_query, errors = [], {n: [] for n in names}, []
    start = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        for name in names:
            t0 = time.perf_counter()
            try:
                run_query(spark, name, data_dir)
            except Exception as exc:
                errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            per_query[name].append(time.perf_counter() - t0)
        passes.append(time.perf_counter() - t_pass)
        if len(passes) >= MIN_PASSES and time.perf_counter() - start >= seconds:
            return passes, per_query, errors


def _phase_spans(tracer: Tracer, qe, parent_of) -> dict[str, float]:
    """Record the Catalyst phases of a planned query execution."""
    phases = qe.tracker().phases()  # a Scala Map: get() returns an Option
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isEmpty():  # the phase did not run
            continue
        summary = summary.get()
        start, end = summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3
        tracer.add(phase, "catalyst", start, end, parent_of(start))
        out[phase] = end - start
    return out


def traced_pass(spark, names, data_dir: str, tracer: Tracer) -> dict:
    """One pass with a span at every layer boundary. Returns the
    per-layer metrics of the pass and the per-query reconciliation."""
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import (
        clear_persisted_blocks,
    )

    registry = _registry()
    sc = spark.sparkContext
    status = SparkStatus(spark)
    per_query = {}
    for name in names:
        group = f"perfbench.{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tracer.span(f"q.{name}", "query") as qs:
            kids = []
            with tracer.span("build", "driver_queries", qs["id"]) as bs, \
                    Py4JCounter(spark) as calls:
                kids.append(bs)
                df = registry[name][0](spark, data_dir)
            with tracer.span("plan", "catalyst", qs["id"]) as cs:
                kids.append(cs)
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            phases = _phase_spans(tracer, qe, lambda t, k=kids, q=qs: innermost(k, t, q["id"]))
            with tracer.span("execute", "driver.other", qs["id"]) as es:
                kids.append(es)
                df.write.mode("overwrite").format("noop").save()
            with tracer.span("clear_persisted_blocks", "session", qs["id"]) as ss:
                kids.append(ss)
                clear_persisted_blocks(spark, blocking=True)
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        per_query[name] = dict(wall=wall, span=qs, build=bs, plan=cs, session=ss,
                               phases=phases, py4j=calls.calls, group=group, kids=kids)

    # status-store reads happen after the pass, outside every query span
    jobs_all = status.jobs()
    stages = latest_stages(status.stages())
    out = {"build_s": 0.0, "py4j_calls": 0, "build_jobs": 0, "other_s": 0.0,
           "session_s": 0.0, "analysis_ms": 0.0, "optimization_ms": 0.0,
           "planning_ms": 0.0, "reconcile_max_err": 0.0, "q": {}}
    pass_jobs = []
    for name, r in per_query.items():
        jobs = [j for j in jobs_all if j.get("jobGroup") == r["group"]]
        pass_jobs += jobs
        q, b, p, s = r["span"], r["build"], r["plan"], r["session"]
        spans = job_spans(tracer, jobs, stages,
                          lambda t, k=r["kids"], root=q: innermost(k, t, root["id"]))
        job_iv = [(j["start"], j["end"]) for j in spans]
        analysis_iv = [(sp["start"], sp["end"]) for sp in tracer.spans
                       if sp["parent"] == b["id"] and sp["layer"] == "catalyst"]
        exec_s = union_seconds(job_iv, q["start"], q["end"])
        build_s = (b["end"] - b["start"]) - union_seconds(job_iv + analysis_iv, b["start"], b["end"])
        catalyst_s = union_seconds(analysis_iv, b["start"], b["end"]) + (p["end"] - p["start"])
        session_s = (s["end"] - s["start"]) - union_seconds(job_iv, s["start"], s["end"])
        covered = union_seconds(job_iv + [(b["start"], b["end"]), (p["start"], p["end"]),
                                          (s["start"], s["end"])], q["start"], q["end"])
        other_s = (q["end"] - q["start"]) - covered
        total = build_s + catalyst_s + exec_s + session_s + other_s
        err = abs(total - r["wall"]) / r["wall"]
        out["reconcile_max_err"] = max(out["reconcile_max_err"], err)
        out["build_s"] += build_s
        out["py4j_calls"] += r["py4j"]
        out["build_jobs"] += sum(1 for j in spans if b["start"] <= j["start"] <= b["end"])
        out["other_s"] += other_s
        out["session_s"] += session_s
        for ph in ("analysis", "optimization", "planning"):
            out[f"{ph}_ms"] += r["phases"].get(ph, 0.0) * 1e3
        out["q"][name] = dict(wall_s=r["wall"], build_s=build_s, catalyst_s=catalyst_s,
                              exec_s=exec_s, session_s=session_s, other_s=other_s,
                              reconcile_err=err, jobs=len(jobs), py4j_calls=r["py4j"])
    out["exec"] = exec_metrics(status, pass_jobs, stages)
    return out


def run(spark, names, data_dir: str, seconds: float, tracer: Tracer | None) -> dict:
    """Timed region of a batch workload."""
    passes, per_query, errors = timed_passes(spark, names, data_dir, seconds)
    res = {
        "wall_s": statistics.median(passes),
        "passes": passes,
        "q_wall_s": {n: statistics.median(v) for n, v in per_query.items()},
        "errors": errors,
        "attempted": len(passes) * len(names),
    }
    if tracer is not None:
        t0 = time.perf_counter()
        res["traced"] = traced_pass(spark, names, data_dir, tracer)
        # against the last untraced pass, the one as warm as the traced pass
        res["trace_overhead_s"] = time.perf_counter() - t0 - passes[-1]
    return res
