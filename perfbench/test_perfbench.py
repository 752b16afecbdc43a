"""Self-tests of the benchmark (not of the engine).

  python -m pytest perfbench -q

The smoke runs start Spark in a subprocess on a tiny corpus and take a
minute or two each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, metrics, stats
from perfbench.trace import Span, covered, self_times
from perfbench.workload import SLOTS, OpStream, bigrams, cycle_tags

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEXTS = ["t1 t250 t300 t2 t4000 t4000 t512",
         "t900 t1200 t7 t333 t444", "t5 t6"]


# --- generator ------------------------------------------------------

@pytest.mark.parametrize("workload", sorted(SLOTS))
def test_op_stream_is_deterministic_per_seed(workload):
    a = OpStream(workload, 7, TEXTS).take(80)
    assert a == OpStream(workload, 7, TEXTS).take(80)
    assert a != OpStream(workload, 8, TEXTS).take(80)


@pytest.mark.parametrize("workload", sorted(SLOTS))
def test_class_mix_does_not_depend_on_seed(workload):
    def classes(seed):
        return [op.cls for op in OpStream(workload, seed, TEXTS).take(50)]
    assert classes(1) == classes(2)


def test_selective_mix_shares():
    ops = OpStream("zipf_selective", 3, TEXTS).take(100)
    hit = sum(op.hit for op in ops)
    paged = sum(bool(op.page or op.after_prev) for op in ops)
    suggest = sum(op.api == "suggest" for op in ops)
    assert hit == 20 and paged == 20 and suggest == 30


@pytest.mark.parametrize("workload", sorted(SLOTS))
def test_op_tags_follow_the_cycle(workload):
    tags = cycle_tags(workload)
    ops = OpStream(workload, 2, TEXTS).take(2 * len(tags))
    assert [op.tag for op in ops] == tags * 2


def test_search_after_reuses_previous_query():
    ops = OpStream("zipf_selective", 3, TEXTS).take(10)
    i = next(i for i, op in enumerate(ops) if op.after_prev)
    assert ops[i].query == ops[i - 1].query and not ops[i].hit


def test_bigrams_skip_hot_terms():
    assert bigrams(TEXTS) == [("t250", "t300"), ("t333", "t444"),
                              ("t4000", "t512"), ("t900", "t1200")]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_corpus_is_deterministic_per_seed(spark):
    sys.path.insert(0, ROOT)
    from tools.zipf_corpus import synthesize

    def docs(seed):
        return sorted(tuple(r) for r in synthesize(
            spark, 60, vocab=500, dup_frac=0.1, seed=seed).collect())
    assert docs(4) == docs(4)
    assert docs(4) != docs(5)


# --- statistics -----------------------------------------------------

@pytest.mark.parametrize("n,level", [
    (1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
    (1000, 99.0), (10_000, 99.9)])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert stats.tail_level(n) == level
    if level is not None:
        assert n - stats.nearest_rank(level, n) >= stats.MIN_BEYOND


def test_mix_gmean_weighs_every_slot_once():
    samples = {"a": [100.0, 300.0, 200.0], "b": [800.0], "c": [50.0, 30.0]}
    # slot medians 200, 800, 40; "a" sits in two slots
    assert stats.mix_gmean(samples, ["a", "b", "c", "a"]) == pytest.approx(
        (200.0 * 800.0 * 40.0 * 200.0) ** 0.25)
    assert stats.mix_rate(samples, ["a", "b", "c", "a"]) == pytest.approx(
        4000.0 / 1240.0)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile([5.0], 99) == 5.0


# --- spans ----------------------------------------------------------

def test_covered_merges_overlaps():
    assert covered([(1, 3), (2, 5), (7, 8)]) == 5
    assert covered([]) == 0


def test_self_time_subtracts_union_of_children():
    spans = [Span(0, "op", 0.0, 10.0),
             Span(1, "a", 1.0, 3.0, parent=0),
             Span(2, "b", 2.0, 5.0, parent=0),
             Span(3, "c", 7.0, 12.0, parent=0),   # clipped to 10
             Span(4, "d", 2.5, 3.5, parent=2)]    # grandchild
    st = self_times(spans)
    assert st[0] == pytest.approx((10 - 4 - 3) * 1000.0)
    assert st[2] == pytest.approx((3 - 1) * 1000.0)
    assert st[4] == pytest.approx(1000.0)


# --- checks ---------------------------------------------------------

def test_same_topk_allows_ties_at_the_cut():
    got = [(1, 3.0), (2, 2.0), (3, 1.0)]
    assert checks.same_topk(got, [(1, 3.0), (2, 2.0), (4, 1.0)])
    assert not checks.same_topk(got, [(1, 3.0), (5, 2.0), (3, 1.0)])
    assert not checks.same_topk(got, [(1, 3.0), (2, 2.1), (3, 1.0)])
    assert not checks.same_topk(got, got[:2])
    assert checks.same_topk([], [])


def test_duckdb_twins_cover_term_and_bool_only():
    ops = OpStream("zipf_memory", 1, TEXTS).take(14)
    twins = {op.cls for op in ops if checks.duckdb_sql(op, 10)}
    assert twins == {"term", "and", "or"}


# --- the benchmark definition ----------------------------------------

def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layer == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "zipf_memory",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# --- smoke runs -----------------------------------------------------

@pytest.mark.parametrize("workload,trace", [("zipf_selective", 1),
                                            ("zipf_memory", 0),
                                            ("zipf_memory", 1)])
def test_workload_smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace),
         "--docs", "400"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, info = json.loads(lines[-1]), json.loads(lines[-2])["info"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1 and info["checked"] >= 1
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: u for k, (u, _) in want.items()}
    assert info["host"]["nproc"] >= 1 and info["seed"] == 5
    assert info["samples"] % len(cycle_tags(workload)) == 0
