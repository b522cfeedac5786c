"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

Each smoke test starts Spark sessions (about a minute per run on a
4-vCPU host); ``-k "not smoke"`` runs only the fast checks.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m


def test_declared_workloads_exist():
    import workloads

    assert sorted(w["name"] for w in _spec()["workloads"]) == sorted(workloads.WORKLOADS)


def _run(workload: str, trace: int, env: dict | None = None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600, env={**os.environ, **(env or {})})


@pytest.mark.parametrize("workload", ["serve", "operators"])
def test_smoke_workload_emits_every_metric(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_smoke_traced_run_emits_every_layer_and_a_ledger():
    p = _run("serve", 1)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    with open(os.path.join(HERE, ".work", "ledgers", "serve-seed7-smoke.json")) as f:
        ledger = json.load(f)
    assert set(ledger["phases"]) >= {"run.setup", "run.window"}


def test_refuses_to_run_outside_a_checkout(tmp_path):
    # a directory holding only the benchmark: no engine to measure
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".cache", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


def test_smoke_gate_flags_a_perturbed_expected_answer(tmp_path):
    """Run serve against a perturbed COPY of its cached expected answers:
    the run must report wrong answers; the real cache stays intact."""
    import pickle
    import shutil

    assert _run("serve", 0).returncode == 0  # fills the real cache
    real = os.path.join(HERE, ".cache")
    copy = tmp_path / "cache"
    shutil.copytree(real, copy)
    n = 0
    for f in copy.glob("serve-*.pkl"):
        with open(f, "rb") as fh:
            want = pickle.load(fh)
        for ans in want["singles"] + want["batch"]:
            if ans["top"]:
                d, s = ans["top"][0]
                ans["top"][0] = (d, s + 1e-3)
                n += 1
        with open(f, "wb") as fh:
            pickle.dump(want, fh)
    assert n > 0
    p = _run("serve", 0, env={"PERFBENCH_CACHE_DIR": str(copy)})
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False and out["failed"] > 0
    again = json.loads(_run("serve", 0).stdout.strip().splitlines()[-1])
    assert again["correct"] is True and again["failed"] == 0


def test_gate_flags_a_perturbed_expected_answer():
    """A copy of real expected answers with one score nudged must fail
    the comparison the workloads apply; the real answers still pass."""
    import copy

    import check

    texts = {0: "term00001 term00002 term00001", 1: "term00002 term00003",
             2: "term00001 term00003 term00003", 3: "term00004"}
    want = check.expected_topk(texts, [("term00001 term00003", "union")])[0]["top"]
    got = list(want)
    assert check.same_topk(got, want)
    bad = copy.deepcopy(want)
    bad[0] = (bad[0][0], bad[0][1] + 1e-3)
    assert not check.same_topk(got, bad)
    swapped = [want[1], want[0]] + want[2:]
    assert not check.same_topk(got, swapped)


_NOISY = {0: "term00001 Term00002 term00001 c++ don't", 1: "term00002 e-mail term00003",
          2: "term00001 term00003 term00003 " + "term00009 " * 40, 3: "term00004 42",
          4: "term00003 term00001 term00002 Mixed-Case"}
_QUERIES = [("term00001 term00003", "union"), ("term00001 term00003", "intersection"),
            ("+term00001 +term00002", "union"), ("term00001 -term00002", "union"),
            ('"term00001 term00002"', "union"), ('"term00003 term00001 term00002"', "union"),
            ("term00004", "union"), ("term00009", "union")]


def test_reference_agrees_with_the_oracle():
    import check
    from seekstorm_spark.oracle import build_oracle_index, search_oracle
    from seekstorm_spark.quantization import quantize_length

    assert all(check.quantized_length(n) == quantize_length(n) for n in range(70_000))
    idx = build_oracle_index(_NOISY)
    ref = check.Reference(_NOISY)
    for q, dt in _QUERIES:
        top, count = search_oracle(idx, q, 10, dt)
        want, want_count, _ = ref.search(q, dt, 10)
        assert count == want_count, q
        assert [d for d, _ in top] == [d for d, _ in want], q
        assert all(abs(a - b) < check.REF_TOL for (_, a), (_, b) in zip(top, want)), q
    assert all(a["oracle_agrees"] for a in check.expected_topk(_NOISY, _QUERIES))


def test_reference_overrules_a_changed_oracle(monkeypatch):
    """A scoring change shared by the engine and its oracle must not move
    the expected answers: they fall back to the independent reference."""
    import check
    import seekstorm_spark.oracle as oracle

    real = check.expected_topk(_NOISY, _QUERIES)
    score = oracle.bm25_term_scores
    monkeypatch.setattr(oracle, "bm25_term_scores", lambda *a, **k: score(*a, **k) * 1.01)
    changed = check.expected_topk(_NOISY, _QUERIES)
    assert not all(a["oracle_agrees"] for a in changed)
    for r, c in zip(real, changed):
        assert check.same_topk(c["top"], r["top"])


def test_highlight_reference():
    import check

    text = "Alpha beta term00001 gamma term00002 delta term00001x Term00002"
    assert check.kwic_reference(text, ["term00002", "term00001"], width=6) == (
        "gamma <b>term00002</b> delta")
    assert check.kwic_reference(text, ["term00001", "term00002"], width=6) == (
        " beta <b>term00001</b> gamma")
    assert check.kwic_reference(text, ["zzz"]) == ""
    assert check.query_terms('"term00001 Term00002"') == ["term00001", "term00002"]
    assert check.query_terms("+a -b c") == ["a", "c"]
    from seekstorm_spark.functions.highlight import kwic_fragment_py

    for t in _NOISY.values():
        for q, _ in _QUERIES:
            terms = check.query_terms(q)
            assert check.kwic_reference(t, terms) == kwic_fragment_py(t, terms, 30)


def test_gate_flags_a_perturbed_operator_answer():
    import pandas as pd

    import check

    real = pd.DataFrame({"term": ["a", "b"], "df": [3, 1], "score": [0.5, 0.25]})
    assert check.same_frame(real.iloc[::-1], real)
    bad = real.copy()
    bad.loc[1, "score"] = 0.2500001
    assert not check.same_frame(real, bad)
    assert not check.same_frame(real, real.iloc[:1])
