"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import batch  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import serve  # noqa: E402
from spans import Tracer, layer_self_seconds, parse_sql_metric, union_seconds  # noqa: E402

def _bench(*args, cwd=ROOT):
    proc = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout


@pytest.mark.parametrize("workload,trace", [
    ("batch_queries", "0"), ("batch_queries", "1"), ("ingest_serve", "1"),
])
def test_tiny_run_prints_every_metric_with_unit(workload, trace):
    rc, out = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", trace, "--tiny")
    result = json.loads(out.strip().splitlines()[-1])
    assert rc == 0 and result["correct"] and result["failed"] == 0, out[-3000:]
    assert result["attempted"] >= 1
    expected = run.PER_LAYER if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name, unit in expected.items():
        assert any(line.split()[2:3] == [name] and line.endswith(f" {unit}")
                   for line in out.splitlines()), name
    if trace == "1":
        spans_file = next(line.split(": ", 1)[1] for line in out.splitlines()
                          if line.startswith("# spans: "))
        with open(spans_file) as f:
            spans = [json.loads(line) for line in f]
        os.remove(spans_file)
        assert spans and len({s["run_id"] for s in spans}) == 1
        assert all(s["start"] <= s["end"] for s in spans)
        assert result["metrics"]["trace.reconcile_max_err"]["value"] <= 0.10


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, out = _bench("--workload", "batch_queries", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=tmp_path)
    assert rc != 0
    assert '"metrics"' not in out


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.fixture(scope="module")
def tiny_tables(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tables"))
    datagen.write_tables(d, 0.001, 5)
    return d


def test_generated_tables_are_seeded(tmp_path, tiny_tables):
    again = str(tmp_path / "again")
    datagen.write_tables(again, 0.001, 5)
    assert run._dir_digest(again) == run._dir_digest(tiny_tables)
    other = str(tmp_path / "other")
    datagen.write_tables(other, 0.001, 6)
    assert run._dir_digest(other) != run._dir_digest(tiny_tables)


@pytest.mark.parametrize("name", ["a5_resample", "w09_ema", "dedup_jaccard_pairs"])
def test_oracle_check_flags_a_dropped_row_and_a_changed_value(name, tiny_tables):
    sql = batch._registry()[name][1]
    con = batch.duckdb_views(tiny_tables)
    good = con.sql(sql).df()
    assert len(good) > 1
    assert batch.check_result(name, good, sql, con, tiny_tables)[0]
    assert not batch.check_result(name, good.iloc[1:], sql, con, tiny_tables)[0]
    bad = good.copy()
    col = next(c for c in bad.columns if pd.api.types.is_numeric_dtype(bad[c]))
    bad.loc[0, col] = bad.loc[0, col] + 1
    assert not batch.check_result(name, bad, sql, con, tiny_tables)[0]


def test_near_pair_check_flags_a_dropped_pair(tiny_tables):
    pairs = sorted(batch.near_pairs_reference(tiny_tables, batch.NEAR_PAIR_THRESHOLD))
    assert len(pairs) > 1
    pdf = pd.DataFrame(pairs, columns=["id_a", "id_b"])
    assert batch.check_near_pairs(pdf, tiny_tables)[0]
    assert not batch.check_near_pairs(pdf.iloc[1:], tiny_tables)[0]


def _fake_read_results(plan, bars):
    epochs = serve.bar_epochs(bars)
    out = []
    for kind, sym, epoch in plan:
        got = [epoch] if kind == "point" else serve.expected_range(epochs[sym], epoch)
        out.append([{"symbol": serve.sanitize(sym), "timeframe": serve.TIMEFRAME,
                     "ts_epoch": e} for e in got])
    return out


def test_read_checks_flag_a_dropped_row_and_a_wrong_key():
    bars = datagen.make_bars(4, files=2, symbols=2, bars_per_file=400)
    plan = serve.read_plan(bars, 4, 10)
    results = _fake_read_results(plan, bars)
    assert serve.check_reads(plan, results, bars) == []
    dropped = [rows[:-1] if kind == "range" else rows
               for (kind, _s, _e), rows in zip(plan, results)]
    assert len(serve.check_reads(plan, dropped, bars)) == 10
    wrong = [list(rows) for rows in results]
    wrong[0] = [dict(wrong[0][0], ts_epoch=wrong[0][0]["ts_epoch"] + 1)]
    assert len(serve.check_reads(plan, wrong, bars)) == 1


def test_percentile_needs_ten_samples_above():
    assert serve.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        serve.percentile(list(range(1, 100)), 90)


def test_self_time_subtracts_the_union_of_children():
    t = Tracer("t")
    root = t.add("q", "query", 0.0, 10.0)
    t.add("build", "driver_queries", 0.0, 4.0, root["id"])
    job_a = t.add("job.1", "exec", 5.0, 8.0, root["id"])
    t.add("job.2", "exec", 6.0, 9.0, root["id"])  # overlaps job.1
    t.add("stage.1", "exec.stage", 5.0, 7.0, job_a["id"])
    selfs = layer_self_seconds(t.spans)
    assert selfs["query"] == pytest.approx(10.0 - 4.0 - 4.0)
    assert selfs["exec.stage"] == pytest.approx(2.0)
    assert union_seconds([(5, 8), (6, 9), (20, 30)], 0, 10) == pytest.approx(4.0)


def test_sql_metric_parsing():
    assert parse_sql_metric("305 ms") == pytest.approx(0.305)
    assert parse_sql_metric("23.5 KiB") == pytest.approx(23.5 * 1024)
    assert parse_sql_metric("1,024") == 1024
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "2.5 s (0.1 s, 0.5 s, 1.0 s (stage 3.0: task 7))") == 2.5
