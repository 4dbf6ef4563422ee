"""Self-tests of the crawl benchmark: seeded generators, metric tables,
and trace equality between traced and untraced iterations.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_generators_are_deterministic_per_seed(name):
    assert workloads.generate(name, 7) == workloads.generate(name, 7)
    assert workloads.generate(name, 7) != workloads.generate(name, 8)


def test_polite_inputs_keep_the_budget_total():
    totals = {
        sum(t for _, t in workloads.generate("polite_resume", s).budgets)
        for s in range(20)
    }
    assert totals == {sum(workloads.POLITE_BUDGETS)}


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert tuple(run.CORES) == workloads.WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER_UNITS


def test_round_walls_split_engine_calls_at_seq_calls():
    phases = [workloads.Phase("run", 0.0, 10.0),
              workloads.Phase("ingest", 10.0, 16.0)]
    rounds = tracing.round_walls(phases, [1.0, 4.0, 12.0])
    assert rounds == [(0.0, 4.0), (4.0, 10.0), (10.0, 16.0)]
    spans = [
        {"name": "extract", "start": 1.0, "end": 2.0},
        {"name": "store.write", "start": 11.0, "end": 11.5},
        {"name": "trace.stats", "start": 5.0, "end": 5.5},
    ]
    totals, gap = tracing.layer_times(spans, rounds)
    assert totals["extract"] == 1.0 and totals["store.write"] == 0.5
    assert gap == pytest.approx(16.0 - 2.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    s = run.start_spark(os.path.join(work, "session"))
    yield s, work
    s.stop()


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_traced_and_untraced_iterations_match_the_oracle(spark, name,
                                                         monkeypatch):
    s, work = spark
    monkeypatch.setattr(workloads, "WIDE_PAGES", 240)
    monkeypatch.setattr(workloads, "POLITE_PAGES", 400)
    monkeypatch.setattr(workloads, "POLITE_SEEDS", 120)
    monkeypatch.setattr(workloads, "POLITE_REPLAY", 30)
    inp = workloads.generate(name, 3)
    wl = workloads.Workload(s, inp, workloads.pages_table(s, inp, 4), work)
    bench = run.Bench(s, wl, tracing.Tracer())
    want = workloads.expected(inp)
    plain, errors, rounds, jobs, _ = bench.iteration(traced=False, want=want)
    assert errors == []
    assert jobs > 0 and len(rounds) == 1
    if name == "polite_resume":
        assert 0 < plain.resume_s < plain.ingest_s == plain.wall_s
    traced, errors, _, _, _ = bench.iteration(traced=True, want=want)
    assert errors == []
    assert traced.trace == plain.trace and traced.downloads == plain.downloads
    assert traced.texts == plain.texts
    names = {sp["name"] for sp in bench.tracer.iteration_spans()}
    assert {"bfs.frontier_chain", "ordering.seq", "extract"} <= names
    if name == "polite_resume":
        assert {"seen.split", "seen.update", "politeness.apply",
                "store.write", "store.commit", "store.read_series"} <= names
