"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 15 --trace 0

Run from the repository root. The run starts a Spark session with
``TASK_THREADS`` task threads, generates its inputs from ``--seed``
under ``.perfbench/`` (times three, checking that they are identical), warms
every code path up, checks the outputs against independent references,
then measures the workload for at least ``--seconds`` seconds. It prints
a readable report and, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans to ``.perfbench/spans-*.jsonl``.
The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import datagen  # noqa: E402
import serve  # noqa: E402
from spans import (SparkStatus, Tracer, exec_metrics, latest_stages,  # noqa: E402
                   layer_self_seconds)

PACKAGE = "algorithmic_data_ingestion_for_cryptocurrencies_spark"
WORKLOADS = ("batch_queries", "ingest_serve")
SETUP_REPEATS = 3
#: input sizes: batch-table scale factor, and staged files (one
#: micro-batch each) x symbols x one-second bars per symbol per file
SIZES = {False: {"sf": 0.01, "files": 2, "symbols": 4, "bars": 1250},
         True: {"sf": 0.001, "files": 2, "symbols": 2, "bars": 60}}
#: point reads per run, and as many range reads; a traced run makes
#: twice as many untraced, so that p90 has ten samples above it
READS = 50
#: fixed driver heap (initial = maximum), so that peak memory does not
#: depend on when the JVM decides to grow its heap
DRIVER_MEMORY = "2g"
#: Spark task threads, at most half the cores the process may use. With
#: one task thread per core the JIT compiler threads, GC threads, Python
#: workers and the Python driver compete with the tasks, and the JIT
#: keeps catching up for ten passes and more (pass times still falling
#: 30% from the 1st to the 10th on 4 cores); with two threads on 4 cores
#: the passes are flat from the 3rd on
TASK_THREADS = max(1, min(2, len(os.sched_getaffinity(0)) // 2))
#: driver JVM options: the fixed heap, and compile thresholds at a
#: quarter of the default, so that the hot Catalyst and scheduler paths
#: reach the optimising compiler during the warm-up, not in the timed
#: region
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:CompileThresholdScaling=0.25"

END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "driver_queries.build_s": "s", "driver_queries.py4j_calls": "count",
    "driver_queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.fetch_wait_s": "s", "exec.spill_bytes": "B",
    "exec.peak_exec_memory_bytes": "B", "exec.python_worker_s": "s",
    "driver.other_s": "s", "session.clear_s": "s",
    "streaming.ingest.batches": "count", "streaming.ingest.batch_p50_s": "s",
    "streaming.ingest.add_batch_ms": "ms", "streaming.ingest.query_planning_ms": "ms",
    "streaming.ingest.wal_commit_ms": "ms",
    "operators.indicators.build_s": "s", "sources.lake.write_s": "s",
    "sources.lake.files_written": "count", "store.feature_store.write_s": "s",
    "store.feature_store.files_written": "count",
    "store.feature_store.bytes_per_input_byte": "ratio",
    "store.feature_store.read_build_ms_p50": "ms",
    "store.feature_store.read_exec_ms_p50": "ms",
    "store.feature_store.jobs_per_read": "count",
    "store.feature_store.files_scanned_per_read": "count",
    "store.feature_store.rows_scanned_per_row_returned": "ratio",
    "ingest_rows_per_s": "rows/s",
    "point_read_p50_ms": "ms", "point_read_p90_ms": "ms",
    "range_read_p50_ms": "ms", "range_read_p90_ms": "ms",
    "read_samples": "count", "failed_frac": "ratio",
    "trace.overhead_s": "s", "trace.reconcile_max_err": "ratio",
    **{f"group.{g}.wall_s": "s" for g in batch.GROUPS},
    **{f"q.{n}.{m}": "s" for n in batch.QUERIES for m in ("build_s", "wall_s")},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="sf 0.001 tables and a small ingest, for the benchmark's own tests")
    return p.parse_args(argv)


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM children."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{entry}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            parent[int(entry)] = (int(fields[1]), comm)
    me = os.getpid()
    total = _vm_hwm_kb(me)
    for pid, (_ppid, comm) in parent.items():
        p, hops = pid, 0
        while p in parent and p != me and hops < 8:
            p, hops = parent[p][0], hops + 1
        if p == me and pid != me and comm == "java":
            total += _vm_hwm_kb(pid)
    return total / 1024.0


def start_spark(work: str, shuffle_partitions: int | None = None):
    from algorithmic_data_ingestion_for_cryptocurrencies_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark("perfbench", shuffle_partitions=shuffle_partitions, extra_conf={
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": JVM_OPTIONS,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_batch(spark, args, work, names, tracer, report):
    data = os.path.join(work, "data")
    gen_s, digests = [], set()
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        datagen.write_tables(data, SIZES[args.tiny]["sf"], args.seed)
        gen_s.append(time.perf_counter() - t0)
        digests.add(_dir_digest(data))
    failures = [] if len(digests) == 1 else ["inputs differ between generations"]
    warm_s, results, errors = batch.warm_up(spark, names, data)
    failures += errors
    t0 = time.perf_counter()
    failures += batch.check_all(names, results, data)
    report["check_s"] = time.perf_counter() - t0
    res = batch.run(spark, names, data, args.seconds, tracer)
    failures += res["errors"]
    report.update(
        setup_extra=statistics.median(gen_s) + warm_s, wall_s=res["wall_s"],
        passes=res["passes"], attempted=len(names) + res["attempted"], failures=failures,
    )
    layer = {f"q.{n}.wall_s": v for n, v in res["q_wall_s"].items()}
    for group, members in batch.GROUPS.items():
        layer[f"group.{group}.wall_s"] = sum(res["q_wall_s"][n] for n in members)
    tr = res.get("traced")
    if tr is not None:
        layer.update(tr["exec"])
        layer.update({
            "driver_queries.build_s": tr["build_s"],
            "driver_queries.py4j_calls": tr["py4j_calls"],
            "driver_queries.build_jobs": tr["build_jobs"],
            "catalyst.analysis_ms": tr["analysis_ms"],
            "catalyst.optimization_ms": tr["optimization_ms"],
            "catalyst.planning_ms": tr["planning_ms"],
            "driver.other_s": tr["other_s"], "session.clear_s": tr["session_s"],
            "trace.overhead_s": res["trace_overhead_s"],
            "trace.reconcile_max_err": tr["reconcile_max_err"],
            **{f"q.{n}.build_s": q["build_s"] for n, q in tr["q"].items()},
        })
        report["reconcile"] = tr["q"]
    return layer


def run_ingest(spark, args, work, tracer, report):
    gen_s, digests = [], set()
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        size = SIZES[args.tiny]
        bars = datagen.make_bars(args.seed, files=size["files"], symbols=size["symbols"],
                                 bars_per_file=size["bars"])
        serve.stage_bars(bars, os.path.join(work, "staged"))
        gen_s.append(time.perf_counter() - t0)
        digests.add(_dir_digest(os.path.join(work, "staged")))
    failures = [] if len(digests) == 1 else ["inputs differ between generations"]
    plan = serve.read_plan(bars, args.seed, READS * (2 if tracer else 1))

    # warm-up: one micro-batch and ten reads of each kind, in a
    # directory of its own
    t0 = time.perf_counter()
    warm = serve.run_once(spark, os.path.join(work, "warm"), bars[:1], plan[:20], None)
    warm_s = time.perf_counter() - t0

    res = serve.run_once(spark, os.path.join(work, "run"), bars, plan, None)
    t0 = time.perf_counter()
    failures += warm["failures"] + res["failures"]
    failures += serve.check_outputs(spark, res["root"], bars)
    failures += serve.check_reads(plan, res["results"], bars)
    report["check_s"] = time.perf_counter() - t0
    lat = res["lat"]
    layer = {
        "ingest_rows_per_s": res["ingest_rows_per_s"],
        "read_samples": len(lat["point"]),
        "streaming.ingest.batches": res["batches"],
        "streaming.ingest.batch_p50_s": statistics.median(res["batch_s"]),
        "streaming.ingest.add_batch_ms": res["duration_ms"]["addBatch"],
        "streaming.ingest.query_planning_ms": res["duration_ms"]["queryPlanning"],
        "streaming.ingest.wal_commit_ms": res["duration_ms"]["walCommit"],
        "sources.lake.files_written": res["lake_files"],
        "store.feature_store.files_written": res["store_files"],
        "store.feature_store.bytes_per_input_byte": res["bytes_per_input_byte"],
        "store.feature_store.read_build_ms_p50": statistics.median(res["build"]) * 1e3,
        "store.feature_store.read_exec_ms_p50": statistics.median(res["collect"]) * 1e3,
    }
    for kind in ("point", "range"):
        for pct in (50, 90):
            if serve.has_percentile(len(lat[kind]), pct):
                layer[f"{kind}_read_p{pct}_ms"] = serve.percentile(lat[kind], pct) * 1e3
        top = serve.highest_percentile(len(lat[kind]))
        report.setdefault("notes", []).append(
            f"{kind} reads: n={len(lat[kind])}, p50 {serve.percentile(lat[kind], 50) * 1e3:.1f} ms,"
            f" p{top} {serve.percentile(lat[kind], top) * 1e3:.1f} ms")
    report.update(setup_extra=statistics.median(gen_s) + warm_s, wall_s=res["wall_s"],
                  attempted=len(bars) + len(plan) + 2)
    if tracer is not None:
        small = plan[:2 * READS]
        t0 = time.perf_counter()
        t_start = time.time()
        tr = serve.run_once(spark, os.path.join(work, "traced"), bars, small, tracer)
        rows = sum(len(r) for r in tr["results"])
        rl = serve.read_layer_metrics(spark, tracer, len(small), rows)
        traced_s = time.perf_counter() - t0
        failures += tr["failures"] + serve.check_reads(small, tr["results"], bars)
        # against the untraced ingest and the last (warmest) untraced reads
        untraced_s = res["stage_s"] + res["ingest_s"] + sum(
            lat["point"][-READS:]) + sum(lat["range"][-READS:])
        spent = {}
        for s in tracer.spans:  # inclusive time of each write/build call
            spent[s["layer"]] = spent.get(s["layer"], 0.0) + s["end"] - s["start"]
        status = SparkStatus(spark)
        jobs = [j for j in status.jobs() if j.get("submissionTime")
                and t_start <= j["submissionTime"] / 1e3 <= time.time()]
        layer.update(exec_metrics(status, jobs, latest_stages(status.stages())))
        layer.update({
            "operators.indicators.build_s": spent.get("operators.indicators", 0.0),
            "sources.lake.write_s": spent.get("sources.lake", 0.0),
            "store.feature_store.write_s": spent.get("store.feature_store", 0.0),
            "store.feature_store.jobs_per_read": rl["jobs_per_read"],
            "store.feature_store.files_scanned_per_read": rl["files_scanned_per_read"],
            "store.feature_store.rows_scanned_per_row_returned":
                rl["rows_scanned_per_row_returned"],
            "trace.overhead_s": traced_s - untraced_s,
        })
    report["failures"] = failures
    return layer


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)) or \
            not os.path.isfile(os.path.join(root, "tools", "oracle_check.py")):
        print(f"perfbench: run from the repository root; {PACKAGE}/ and "
              "tools/oracle_check.py are needed", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_id = f"{args.workload}-seed{args.seed}-{uuid.uuid4().hex[:8]}"
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, run_id)
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp, "PYSPARK_PYTHON": sys.executable,
        # every JVM (the launcher too) keeps temporary files in the run
        # directory and writes no performance-counter file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(TASK_THREADS),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
    })
    tracer = Tracer(run_id) if args.trace else None
    report: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        if args.workload == "batch_queries":
            layer = run_batch(spark, args, work, batch.QUERIES, tracer, report)
        else:
            layer = run_ingest(spark, args, work, tracer, report)
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failures = report["failures"]
    attempted = report["attempted"]
    e2e = {"setup_s": session_s + report["setup_extra"], "wall_s": report["wall_s"],
           "peak_rss_mb": rss}
    layer["failed_frac"] = len(failures) / attempted
    if tracer is not None:
        path = os.path.join(base, f"spans-{run_id}.jsonl")
        tracer.write(path)
        print(f"# spans: {path}")
        print(f"# {len(tracer.spans)} spans")
        for name, secs in sorted(layer_self_seconds(tracer.spans).items()):
            print(f"# self time  {name:<40} {secs:10.4f} s")
        for name, q in report.get("reconcile", {}).items():
            print(f"# reconcile  {name:<28} wall {q['wall_s']:.3f} s  build {q['build_s']:.3f}"
                  f"  catalyst {q['catalyst_s']:.3f}  exec {q['exec_s']:.3f}"
                  f"  session {q['session_s']:.3f}  other {q['other_s']:.3f}"
                  f"  err {q['reconcile_err']:.3f}")
    for note in report.get("notes", ()):
        print(f"# {note}")
    for f in failures:
        print(f"# FAILED {f}")
    if "passes" in report:
        print("# passes " + " ".join(f"{p:.3f}" for p in report["passes"]) + " s")
    print(f"# workload {args.workload} seed {args.seed}: {attempted} attempted, "
          f"{len(failures)} failed, check {report.get('check_s', 0.0):.2f} s")
    for name, unit in END_TO_END.items():
        print(f"# end-to-end {name:<44} {e2e[name]:14.4f} {unit}")
    shown = PER_LAYER if args.trace else {k: PER_LAYER[k] for k in layer}
    for name, unit in shown.items():
        print(f"# per-layer  {name:<44} {float(layer.get(name, 0.0)):14.4f} {unit}")
    metrics = ({k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
               if args.trace else
               {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()})
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
