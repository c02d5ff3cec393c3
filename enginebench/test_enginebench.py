"""Tests of the benchmark itself.

The unit tests need no Spark. The run tests start the benchmark as a
subprocess, one short run per workload and trace mode (about a minute each):

    python3 -m pytest enginebench/test_enginebench.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import tracing  # noqa: E402
from lucene_7_x_9_x_spark.analysis.tokenizer import STANDARD  # noqa: E402
from lucene_7_x_9_x_spark.search import query as Q  # noqa: E402
from lucene_7_x_9_x_spark.search.oracle import OracleIndex  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


# --- tail percentile -----------------------------------------------------------

@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    value, pct, beyond = checks.tail(xs)
    assert beyond == 10
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_is_the_highest_such_percentile():
    xs = [float(i) for i in range(50)]
    value, _, _ = checks.tail(xs)
    # one rank higher would leave only 9 samples beyond
    assert value == 39.0
    assert sum(1 for x in xs if x > value + 1) == 9


def test_tail_needs_eleven_samples():
    value, pct, beyond = checks.tail([1.0] * 10)
    assert math.isnan(value) and math.isnan(pct) and beyond == 0


# --- answer checks -----------------------------------------------------------------

@pytest.fixture(scope="module")
def toy():
    texts = ["alpha beta gamma", "alpha alpha beta", "beta gamma delta",
             "gamma alpha", "delta delta alpha beta", "alpha", "beta beta",
             "gamma beta alpha delta", "alpha gamma gamma", "delta",
             "alpha beta", "beta alpha gamma gamma delta"]
    docs = pd.DataFrame({"segment_id": [i // 6 for i in range(len(texts))],
                         "docid": [i % 6 for i in range(len(texts))],
                         "key": [f"k{i}" for i in range(len(texts))],
                         "text": texts})
    key_of = {(s, d): k for s, d, k in
              zip(docs.segment_id, docs.docid, docs.key)}
    return OracleIndex(docs), key_of, docs


def test_checker_accepts_the_oracle_answer(toy):
    oracle, key_of, _ = toy
    q = Q.BooleanQuery(should=(Q.TermQuery("alpha"), Q.TermQuery("gamma")))
    want = checks.oracle_top(oracle, key_of, q)
    assert len(want) == 10
    assert checks.same_top(list(want), want)


@pytest.mark.parametrize("perturb", ["swap", "ulp", "key", "drop"])
def test_checker_rejects_a_perturbed_top10(toy, perturb):
    oracle, key_of, _ = toy
    q = Q.BooleanQuery(should=(Q.TermQuery("alpha"), Q.TermQuery("gamma")))
    want = checks.oracle_top(oracle, key_of, q)
    got = list(want)
    if perturb == "swap":
        i = next(i for i in range(len(got) - 1) if got[i][1] != got[i + 1][1])
        got[i], got[i + 1] = got[i + 1], got[i]
    elif perturb == "ulp":
        k, s = got[3]
        got[3] = (k, np.nextafter(s, np.float32(np.inf)))
    elif perturb == "key":
        got[0] = ("k-other", got[0][1])
    else:
        got = got[:-1]
    assert not checks.same_top(got, want)


def test_match_set_follows_the_query_definitions():
    toks = {k: STANDARD.tokenize(t) for k, t in {
        "a": "x y z", "b": "x q y z", "c": "y x z", "d": "x q q y",
        "e": "z y x"}.items()}
    # ordered span near, slop 1: y at most one position after x
    assert checks.match_set(toks, "ordered", ("x", "y"), 1) == {"a", "b"}
    # sloppy phrase "x y z"~1: positions within one move of the exact phrase
    assert checks.match_set(toks, "sloppy", ("x", "y", "z"), 1) == {"a", "b"}
    assert checks.match_set(toks, "sloppy", ("x", "y", "z"), 2) == {
        "a", "b", "c"}


def test_match_checker_rejects_a_non_matching_hit():
    class TD:
        hits = pd.DataFrame({"key": ["a", "b"], "score": [2.0, 1.0]})
        total_hits = 2
    assert checks.check_match_answer(TD, {"a", "b"})
    assert not checks.check_match_answer(TD, {"a", "c"})
    TD.hits = pd.DataFrame({"key": ["a", "b"], "score": [1.0, 2.0]})
    assert not checks.check_match_answer(TD, {"a", "b"})


# --- spans --------------------------------------------------------------------------

def test_covered_time_is_the_union_of_intervals():
    assert tracing.covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered_s([(-1, 2), (9, 12)], 0, 10) == 3
    assert tracing.covered_s([], 0, 10) == 0


def test_spans_record_parent_request_self_time_and_coverage(tmp_path):
    tr = tracing.Tracer(enabled=True)
    with tr.span("timed", "root") as root:
        tr.request = 7
        with tr.span("index.writer", "w") as w:
            with tr.span("index.builder", "b") as b:
                pass
        with tr.span("bench", "own"):
            pass
    assert root.request is None and w.request == 7 and b.parent == w.span_id
    assert 0 <= tr.self_s(w) <= w.wall_s - b.wall_s + 1e-9
    assert tr.coverage(root) <= 1.0
    assert [s.name for s in tr.descendants(w)] == ["b"]
    tr.write(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(x) for x in open(tmp_path / "spans.jsonl")]
    assert [r["name"] for r in rows] == ["root", "w", "b", "own"]
    assert rows[2]["parent"] == rows[1]["span"] and rows[2]["request"] == 7


# --- whole runs -----------------------------------------------------------------------

def _run(workload: str, trace: int, seed: int = 3) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace)],
        cwd="/", capture_output=True, text=True, timeout=240)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, (p.stdout[-2000:], p.stderr[-4000:])
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_present_finite_with_units(workload):
    ctx, out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert set(out["metrics"]) == set(want)
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name]
        assert math.isfinite(m["value"]) and m["value"] != 0, name
    assert ctx["query_tail_ms"]["beyond"] >= 10
    assert ctx["host"]["cores"] == len(os.sched_getaffinity(0))


# layers whose per-layer metrics each workload must report as measured
MEASURED = {
    "search": ("session.", "analysis.", "codecs.", "builder.bulk_",
               "kernel.", "searcher.search_ms.",
               "searcher.spark_jobs_per_query", "searcher.first_seen_term_ms",
               "searcher.repeat_term_ms", "searcher.outside_kernel_ms"),
    "update_mix": ("session.", "analysis.", "codecs.", "builder.",
                   "writer.", "merge.", "searcher.open_ms",
                   "searcher.spark_jobs_per_query"),
}
ZERO_OK = ("builder.spill_bytes", "builder.jvm_gc_s",
           "kernel.chunks_visited_ratio")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_layers_and_covers_the_timed_wall(workload):
    ctx, out = _run(workload, 1)
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(out["metrics"]) == set(want)
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name] and math.isfinite(m["value"]), name
        if name.startswith(MEASURED[workload]):
            assert m["value"] > 0 or name in ZERO_OK, name
    assert out["metrics"]["trace.layer_coverage"]["value"] >= 0.9
    assert out["metrics"]["failed_ops_frac"]["value"] == 0


def test_exits_nonzero_without_the_engine(tmp_path):
    bench = tmp_path / "enginebench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    p = subprocess.run(
        [sys.executable, "enginebench/run.py", "--workload", "search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and not p.stdout.strip()
