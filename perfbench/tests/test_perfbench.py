"""Self-tests of the benchmark: percentile rule, metric names, generator
determinism, the output check, and a tiny smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen as G
from perfbench.oracle import Oracle, compare_topk
from perfbench.stats import percentile, reportable, valid_name

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tokenize(s):
    from liresolr_spark.functions.tokenizer import py_tokenize

    return py_tokenize(s)


# -- percentile rule ----------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert reportable(20, 50) and not reportable(19, 50)
    assert reportable(100, 90) and not reportable(99, 90)
    assert reportable(1000, 99) and not reportable(999, 99)
    assert percentile(range(1, 101), 90) == 90.0
    with pytest.raises(ValueError):
        percentile(range(50), 90)


# -- metric names ---------------------------------------------------------------

def test_metric_names_are_valid_and_unique():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert all(valid_name(n) for n in names), [n for n in names if not valid_name(n)]
    assert len(names) == len(set(names))
    assert not valid_name("spark.jobs.fq cold") and not valid_name("")


# -- generator ------------------------------------------------------------------

def test_generator_is_deterministic_for_a_seed():
    a, b, c = G.Generator(7), G.Generator(7), G.Generator(8)
    docs = a.corpus(40)
    assert docs == b.corpus(40)
    assert docs != c.corpus(40)
    assert len({(d.repo, d.path) for d in docs}) == len(docs)
    assert a.single_schedule(60, docs, _tokenize) == \
        b.single_schedule(60, docs, _tokenize)
    assert a.append_batches(40, 2, 10, 0.2) == b.append_batches(40, 2, 10, 0.2)
    assert a.batch_texts(20, "x") == b.batch_texts(20, "x")
    assert a.batch_phrases(5, "x", docs, _tokenize) == \
        b.batch_phrases(5, "x", docs, _tokenize)


def test_schedule_follows_the_request_mix():
    g = G.Generator(3)
    docs = g.corpus(30)
    sched = g.single_schedule(200, docs, _tokenize)
    kinds = [r.kind.replace("_cold", "").replace("_warm", "") for r in sched]
    share = {k: kinds.count(k) / len(kinds) for k in set(kinds)}
    assert share == pytest.approx({"text": .30, "text_hot": .10, "fq": .15,
                                   "bool": .10, "prefix": .10, "wildcard": .05,
                                   "fuzzy": .05, "phrase": .10, "page": .05})
    seen = set()
    fq = [r for r in sched if r.fq is not None]
    for r in fq:
        assert r.kind == ("fq_warm" if r.fq.sql in seen else "fq_cold")
        seen.add(r.fq.sql)
    assert [r.kind for r in fq[:4]] == ["fq_cold", "fq_warm"] * 2
    assert len(g.predicates) == G.N_FQ_PREDICATES


def test_a_serve_run_times_every_kind():
    from perfbench import workloads as W

    g = G.Generator(3)
    cycles = W.n_cycles(_bench()["run_seconds"], W.SERVE_CYCLE_S)
    n = W.SINGLES_PER_BATCH * len(G.BATCH_KINDS) * cycles
    sched = g.single_schedule(n, g.corpus(30), _tokenize)
    assert n >= len(G.SINGLE_CYCLE)
    assert {r.kind for r in sched} == \
        set(G.SINGLE_KINDS) - {"fq"} | {"fq_cold", "fq_warm"}


# -- output check -----------------------------------------------------------------

@pytest.fixture(scope="module")
def oracle():
    return Oracle(G.Generator(11).corpus(150), _tokenize)


def test_indexed_oracle_equals_brute_force(oracle):
    from liresolr_spark.oracle import brute_force_topk

    docs = [(i, d.content) for i, d in enumerate(oracle.docs)]
    g = G.Generator(11)
    for q in list(g.batch_texts(6, "t").values()) + ["import def", "zzzz"]:
        want = brute_force_topk(docs, q, k=len(docs))
        got = sorted(oracle.scores(_tokenize(q)).items(),
                     key=lambda kv: (-kv[1], kv[0]))
        assert got == want


def _page(oracle, query, start=0, rows=10):
    scores = oracle.eligible(oracle.scores(_tokenize(query)))
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return scores, top[start:start + rows]


def test_check_accepts_a_correct_answer(oracle):
    scores, page = _page(oracle, "import return")
    assert compare_topk(page, scores, 0, 10) is None
    scores, page = _page(oracle, "import return", start=10)
    assert compare_topk(page, scores, 10, 10) is None


def test_check_rejects_perturbed_answers(oracle):
    scores, page = _page(oracle, "import return def")
    i = next(j for j in range(len(page) - 1) if page[j][1] != page[j + 1][1])
    swapped = list(page)
    swapped[i], swapped[i + 1] = swapped[i + 1], swapped[i]
    assert compare_topk(swapped, scores, 0, 10) is not None
    dropped = page[:i] + page[i + 1:]
    assert compare_topk(dropped, scores, 0, 10) is not None
    wrong = list(page)
    wrong[0] = (wrong[0][0], wrong[0][1] * (1 + 1e-6))
    assert compare_topk(wrong, scores, 0, 10) is not None
    duplicated = page[:-1] + [page[0]]
    assert compare_topk(duplicated, scores, 0, 10) is not None


def test_restriction_and_expansion_are_evaluated_here(oracle):
    pred = G.Predicate("lang", "java")
    allowed = oracle.allowed(fq=pred, must=["import"], must_not=["public"])
    for i in allowed:
        d = oracle.docs[i]
        assert d.lang == "java" and "import" in oracle.tf[i]
        assert "public" not in oracle.tf[i]
    pre = oracle.expand_prefix("re")
    assert pre and all(t.startswith("re") for t in pre) and len(pre) <= 16
    assert oracle.expand_wildcard("ret?rn") == ["return"]
    assert "return" in oracle.expand_fuzzy("retarn", 1)


# -- smoke run --------------------------------------------------------------------

@pytest.mark.parametrize("workload", ["serve", "ingest"])
def test_tiny_run_emits_every_metric(workload, tmp_path):
    report = tmp_path / "report.json"
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", "1", "--size", "tiny",
         "--report", str(report)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    rep = json.loads(report.read_text())
    b = _bench()
    assert {m["name"] for m in b["end_to_end"]} <= set(rep["e2e"])
    assert {m["name"] for m in b["per_layer"]} == set(last["metrics"])
    for name, m in last["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
