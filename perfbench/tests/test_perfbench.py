"""Tests of the benchmark itself (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
from layers import PER_LAYER, PER_LAYER_UNITS  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from workloads import WORKLOADS, compare_frames  # noqa: E402


@pytest.fixture(scope="module")
def manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_manifest_names_match_printed_metrics(manifest):
    e2e = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in manifest["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == PER_LAYER_UNITS
    assert {m["name"]: m["better"] for m in manifest["per_layer"]} == {
        k: v[1] for k, v in PER_LAYER.items()
    }
    assert {w["name"] for w in manifest["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in manifest["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in manifest["end_to_end"])


def test_manifest_contract(manifest):
    assert set(manifest) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert manifest["paths"] == ["perfbench"]
    for w in manifest["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in manifest["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in manifest["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert 1 <= manifest["run_seconds"] <= 60


def test_every_layer_metric_names_its_target():
    e2e = set(run.END_TO_END_UNITS) | {"failed_frac"}
    for name, (unit, better, layer, moves, where) in PER_LAYER.items():
        assert better in ("lower", "higher"), name
        assert moves.split()[0] in e2e or moves.startswith("none"), name
        assert where == "all" or set(where.split()) <= set(WORKLOADS), name


def test_result_schema():
    checks = run.Checks(attempted=4, failed=1)
    out = run.result(checks, {"pass_s": 1.5, "setup_s": 2.0}, {"pass_s": "s", "setup_s": "s"})
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is False and out["attempted"] == 4 and out["failed"] == 1
    assert out["metrics"]["pass_s"] == {"value": 1.5, "unit": "s"}
    json.dumps(out)


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 31)]
    value, pct = run.tail_percentile(samples)
    assert sum(s > value for s in samples) == 10
    assert value == 20.0 and pct == pytest.approx(100 * 20 / 30)
    with pytest.raises(ValueError):
        run.tail_percentile(samples[:10])


def test_traced_runs_time_enough_jobs_for_a_tail_above_the_median():
    from workloads import QUEUE_JOBS

    for wl in WORKLOADS.values():
        jobs = len(QUEUE_JOBS) if wl.queue else len(wl.keys)
        assert run.min_passes(jobs, trace=False) == 1
        samples = [float(i) for i in range(run.min_passes(jobs, trace=True) * jobs)]
        tail, _ = run.tail_percentile(samples)
        assert tail > statistics.median(samples), wl.name


def test_self_time_subtracts_merged_children():
    spans = [
        Span(0, "job", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),  # overlaps a: children cover 1..6
        Span(3, "c", 9.0, 12.0, 0, 1),  # clipped to the parent: 9..10
        Span(4, "d", 1.5, 2.0, 1, 1),  # grandchild: not the job's child
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_parents_spans_across_threads():
    import threading

    tr = Tracer()
    root = tr.open("job")
    tr.begin_job(7, root.id)
    t = threading.Thread(target=lambda: tr.wrap("inner", lambda: None)())
    t.start()
    t.join(timeout=5)
    assert not t.is_alive()
    tr.close(root)
    inner = [s for s in tr.spans if s.name == "inner"]
    assert len(inner) == 1 and inner[0].parent == root.id and inner[0].job == 7


def _stage(i, skipped=False, run_ms=100.0):
    return probes.StageRow(i, skipped, {"spark.executor_run_s": run_ms / 1e3, "spark.tasks": 4.0})


def test_stage_watermark_counts_only_new_stages():
    rows = [_stage(i) for i in range(3, 9)] + [_stage(9, skipped=True)]
    metrics, high, valid = probes.account_stages(rows, watermark=4)
    assert valid and high == 9
    assert metrics["spark.stages"] == 5.0
    assert metrics["spark.stages_skipped"] == 1.0
    assert metrics["spark.stages_evicted"] == 0.0
    assert metrics["spark.tasks"] == 20.0


def test_evicted_stage_range_is_reported_not_zero_filled():
    # ids 5..7 were evicted from the store before they could be read
    rows = [_stage(8), _stage(9)]
    metrics, high, valid = probes.account_stages(rows, watermark=4)
    assert not valid
    assert high == 9
    assert metrics["spark.stages"] == 5.0
    assert metrics["spark.stages_evicted"] == 3.0


def test_retried_stage_attempts_are_one_stage():
    rows = [_stage(5), _stage(5), _stage(6)]
    metrics, high, valid = probes.account_stages(rows, watermark=4)
    assert valid and metrics["spark.stages"] == 2.0
    assert metrics["spark.executor_run_s"] == pytest.approx(0.3)


def test_cpu_split_by_process_kind():
    P = probes.Proc
    procs = [
        P(10, 1, "python3", "python3 perfbench/run.py", 2.0, 0.5),
        P(11, 10, "java", "java -cp ...", 30.0, 0.25),
        P(12, 11, "python3", "python3 -m pyspark.daemon", 1.0, 4.0),
        P(13, 12, "python3", "python3 -m pyspark.daemon", 3.0, 7.0),
        P(14, 13, "python3", "python3 exec/tok_map.py", 0.5, 0.0),
    ]
    cpu = probes.classify(procs, root=10)
    assert cpu["cpu.driver_py_s"] == 2.0
    assert cpu["cpu.jvm_s"] == 30.25
    assert cpu["cpu.python_workers_s"] == 1.0 + 4.0 + 3.0
    assert cpu["cpu.piped_exec_s"] == 7.0 + 0.5


def test_proc_reads_this_process():
    cpu = probes.cpu_by_kind()
    assert cpu["cpu.driver_py_s"] > 0
    assert probes.vm_hwm_mb(os.getpid()) > 1
    assert 0 < probes.seconds_since_process_start() < 3600


def test_generator_is_seeded_and_children_follow_parents():
    u = gen.Universe()
    sizes = WORKLOADS["sql_analytics"].sizes
    a = gen.sample_tables(u, 3, sizes)
    b = gen.sample_tables(u, 3, sizes)
    c = gen.sample_tables(u, 4, sizes)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["orders"].equals(c["orders"])
    cust = set(a["customer"].column("c_custkey").to_pylist())
    orders = a["orders"]
    assert set(orders.column("o_custkey").to_pylist()) <= cust
    assert set(a["lineitem"].column("l_orderkey").to_pylist()) == set(orders.column("o_orderkey").to_pylist())
    assert a["customer"].num_rows == round(gen.N_CUSTOMER * sizes.customers)


def test_generate_writes_tables_and_corpus(tmp_path):
    sizes = gen.Sizes(customers=0.01, users=0.01, documents=0.02, vectors=0.02, corpus_copies=2)
    rows = gen.generate(str(tmp_path), 5, sizes)
    assert pq.read_table(tmp_path / "documents.parquet").num_rows == rows["documents"] == 100
    docs = sum(len(open(p).read().splitlines()) for p in (tmp_path / "corpus" / "docs").iterdir())
    assert docs == 2 * rows["documents"]
    cust = sum(len(open(p).read().splitlines()) for p in (tmp_path / "corpus" / "cust").iterdir())
    assert cust == rows["customer"]


def test_compare_frames_ignores_row_order_and_float_noise():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0000000001, 2.0], "n": [3, 4]})
    b = pd.DataFrame({"n": [4.0, 3.0], "v": [2, 1.0], "k": ["y", "x"]})
    assert compare_frames(a, b) is None
    assert compare_frames(a, b.assign(v=[2.0, 1.1])) is not None
    assert compare_frames(a, b.assign(k=["y", "z"])) is not None
    assert compare_frames(a, b.assign(n=[4, 2])) is not None
    assert compare_frames(a, b.iloc[:1]) is not None


def test_compare_frames_allows_one_unit_at_the_rounded_place():
    import pandas as pd

    # ROUND(SUM(double), 2) of the same rows summed in another order
    got = pd.DataFrame({"n_name": ["N1"], "revenue": [600535.32]})
    want = pd.DataFrame({"n_name": ["N1"], "revenue": [600535.31]})
    assert compare_frames(got, want) is None
    assert compare_frames(got.assign(revenue=[600535.33]), want) is not None
    # unrounded values get no such allowance, nor do whole numbers
    assert compare_frames(got.assign(revenue=[0.1234567]), want.assign(revenue=[0.1234568])) is not None
    assert compare_frames(got.assign(revenue=[5.0]), want.assign(revenue=[6.0])) is not None


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("work", "out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mr_jobs", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
