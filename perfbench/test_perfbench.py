"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start Spark, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import run, workloads  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_times  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _cli(tmp_path, workload: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sizes", "smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


@pytest.mark.parametrize("workload,trace", [
    ("etl_commits", 1), ("versioned_reads", 0), ("curation_funnel", 0),
])
def test_smoke_run_prints_the_declared_metrics(tmp_path, workload, trace):
    result, lines = _cli(tmp_path, workload, trace)
    bench = _benchmark_json()
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    printed = {line.split()[1] for line in lines if line.startswith("# ")}
    assert set(result["metrics"]) <= printed
    assert "error_rate" in printed
    # the run leaves nothing behind but its span file
    assert os.listdir(tmp_path) in ([".perfbench_out"] if trace else [], )
    if trace:
        # Spark figures are read only once the listener bus delivered the
        # jobs' end events: every traced operation ran tasks, and time
        # outside Spark jobs is at most the operation's own time
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        (spans_file,) = os.listdir(tmp_path / ".perfbench_out")
        with open(tmp_path / ".perfbench_out" / spans_file, encoding="utf-8") as fh:
            spans = [json.loads(line) for line in fh]
        roots = [s for s in spans if s["parent"] is None]
        op_s = sum(s["end"] - s["start"] for s in roots) / len(roots)
        assert metrics["spark.jobs"] > 0 and metrics["spark.tasks"] > 0
        assert 0 < metrics["spark.driver_only_s"] <= op_s
        assert 0 < metrics["trace.unattributed_share"] < 1


def test_self_time_of_a_synthetic_span_tree():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 6.0, 0, 0),   # overlaps a: the union 1..6 counts once
        Span("a.child", 1.5, 2.0, 1, 0),
        Span("c", 9.0, 12.0, 0, 0),  # runs past its parent: clipped at 10
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 0.5, 3, 0.5, 3])
    assert covered([(0, 1), (0.5, 2), (5, 6)], 0, 10) == pytest.approx(3)
    assert covered([], 0, 1) == 0


def test_wrappers_record_only_inside_an_operation_and_restore_originals():
    import delta_lake_spark.skipping as skipping
    from perfbench import trace

    original = skipping.prune_adds
    tracer = Tracer()
    undo = trace.install(tracer, [t for t in run.TARGETS if t[2] == "skipping.prune_adds"])
    assert skipping.prune_adds is not original
    skipping.prune_adds([], None)          # outside any operation: not recorded
    root = tracer.open("op.x")
    skipping.prune_adds([], "id > 1")
    tracer.close(root)
    trace.uninstall(undo)
    assert skipping.prune_adds is original
    assert [s.name for s in tracer.spans] == ["op.x", "skipping.prune_adds"]
    assert tracer.counts["skipping"]["files_considered"] == 0


def test_wrappers_reach_names_bound_at_import():
    # queries.llm binds minhash_lsh_pairs at import; patching only the
    # defining module would miss q32
    import delta_lake_spark.queries.llm as llm
    import delta_lake_spark.operators.dedup as dedup
    from perfbench import trace

    original = dedup.minhash_lsh_pairs
    assert llm.minhash_lsh_pairs is original
    undo = trace.install(Tracer(), [t for t in run.TARGETS if t[1] == "minhash_lsh_pairs"])
    try:
        assert llm.minhash_lsh_pairs is dedup.minhash_lsh_pairs is not original
    finally:
        trace.uninstall(undo)
    assert llm.minhash_lsh_pairs is original


def test_same_seed_same_operation_sequence():
    def sequence(cls, seed):
        wl = cls(None, "/nonexistent", seed, workloads.SIZES["smoke"])
        if cls is workloads.VersionedReads:
            wl.n_ids = 1000
        return [(op.kind, sorted(op.params.items())) for _ in range(3) for op in wl.plan_block()]

    for cls in workloads.WORKLOADS.values():
        assert sequence(cls, 7) == sequence(cls, 7)
    # parameters come from the seed; curation queries take none (their
    # seeded input is the generated corpus)
    for cls in (workloads.EtlCommits, workloads.VersionedReads):
        assert sequence(cls, 7) != sequence(cls, 8)


def test_wrong_result_is_counted_and_the_run_goes_on(monkeypatch):
    class Stub(workloads.Workload):
        name = "stub"
        block = ["good", "bad", "boom"]

        def setup(self):
            pass

        def run(self, op):
            if op.kind == "boom":
                raise RuntimeError("injected")
            return workloads.Result(op.kind, 0.01, op.kind == "good")

    wl = Stub(None, "/nonexistent", 1, {})
    results, traced = run.measure(wl, 0.0)
    assert len(results) == 3 and not any(traced)
    assert sum(not r.ok for r in results) == 2


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_injected_wrong_table_state_is_a_failed_operation(spark, tmp_path, monkeypatch):
    wl = workloads.EtlCommits(spark, str(tmp_path / "etl"), 5, workloads.SIZES["smoke"])
    wl.generate()
    wl.setup()
    real = workloads.OrdersModel.checksum
    calls = {"n": 0}

    def off_by_one(self):
        calls["n"] += 1
        n, keys, cents, status = real(self)
        return (n, keys, cents + (1 if calls["n"] == 2 else 0), status)

    monkeypatch.setattr(workloads.OrdersModel, "checksum", off_by_one)
    results, _ = run.measure(wl, 0.0)
    assert len(results) == wl.min_blocks * len(wl.block)
    assert [r.ok for r in results].count(False) == 1
    assert not results[1].ok and "want" in results[1].detail
