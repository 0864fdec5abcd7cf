"""Tests of the benchmark itself: inputs are a pure function of the seed, the
metric lists agree with BENCHMARK.json, and a short run prints every named
metric with its unit. Run with ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_documents_are_a_function_of_the_seed():
    a, b = corpus.documents(7, 500), corpus.documents(7, 500)
    assert a.equals(b)
    assert not a.equals(corpus.documents(8, 500))
    assert list(a["doc_id"]) == list(range(500))
    lengths = a["text"].str.split().str.len()
    assert lengths.between(corpus.MIN_TOKENS, corpus.MAX_TOKENS).all()
    assert set(" ".join(a["text"]).split()) <= set(corpus.VOCAB)


def test_interleaved_corpus_is_deterministic(tmp_path, monkeypatch):
    monkeypatch.setenv("SSS_SPARK_DATA_DIR", str(tmp_path / "data"))
    import importlib

    from semantic_search_system_spark.fixtures import interleave

    importlib.reload(interleave)
    try:
        docs = corpus.documents(3, 200)
        p1 = interleave.interleaved_path(corpus.write_corpus(str(tmp_path), "c1", docs))
        p2 = interleave.interleaved_path(corpus.write_corpus(str(tmp_path), "c2", docs))
        assert p1.startswith(str(tmp_path / "data"))
        with pytest.raises(RuntimeError):  # a corpus outside the work dir is refused
            corpus.write_corpus(str(tmp_path / "elsewhere"), "c3", docs)
        with open(p1, "rb") as f1, open(p2, "rb") as f2:
            assert f1.read() == f2.read()
    finally:
        monkeypatch.delenv("SSS_SPARK_DATA_DIR")
        importlib.reload(interleave)


def test_requests_are_a_function_of_the_seed_and_cover_every_strategy():
    seq = [workloads.request(5, i) for i in range(18)]
    assert seq == [workloads.request(5, i) for i in range(18)]
    assert seq != [workloads.request(6, i) for i in range(18)]
    assert [r[0] for r in seq[:9]] == list(workloads.STRATEGIES)
    assert sorted(workloads.STRATEGIES) == sorted(run.SEARCH_STRATEGIES)
    # traced runs pair block 2b with 2b+1: same parameters, other words
    for a, b in zip(seq[:9], seq[9:]):
        assert (a[0], a[2], a[3]) == (b[0], b[2], b[3])
    oov = [q for _, q, _, _ in seq if not set(q.split()) & (set(corpus.VOCAB) | {"hotterm"})]
    assert oov, "some requests must use out-of-vocabulary terms"


def test_ingest_traced_blocks_call_every_strategy():
    wl = workloads.IngestServe.__new__(workloads.IngestServe)
    sent: list[int] = []
    wl._epoch = lambda: 0.0
    wl._search = sent.append
    by_op = []
    for i in range(2 * wl.TRACED_BLOCKS * wl.BLOCK):
        sent.clear()
        wl.op(i)
        by_op.append([workloads.request(5, j) for j in sent])
    traced = [r for i, reqs in enumerate(by_op) if wl.traced(i) for r in reqs]
    untraced = [r for i, reqs in enumerate(by_op) if not wl.traced(i) for r in reqs]
    assert {r[0] for r in traced} == set(workloads.STRATEGIES)
    # traced and untraced halves send the same strategies with the same k and fuzziness
    assert sorted((r[0], r[2], r[3]) for r in traced) == sorted((r[0], r[2], r[3]) for r in untraced)


def test_search_gate_allows_rounding_flips_only():
    served = [("0", 100.0), ("150", 83.315332), ("390", 73.21654)]
    oracle = [("0", 100.0), ("150", 83.315431), ("390", 73.21654)]
    assert workloads.same_result(served, oracle)
    assert workloads.same_result([("1", 0.5), ("2", 0.25)], [("1", 0.5), ("3", 0.25)])
    assert not workloads.same_result([("1", 0.5), ("2", 0.25)], [("3", 0.5), ("2", 0.25)])
    assert not workloads.same_result([("1", 0.5)], [("1", 0.5), ("2", 0.25)])
    assert not workloads.same_result([("1", 0.5)], [("1", 0.51)])


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100)
    xs = [float(i) for i in range(1, 101)]
    value, pct = run.tail(xs)
    assert pct == 90 and value == 90.0
    assert sum(x > value for x in xs) >= 10


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _run(args, cwd, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace,names", [(0, run.END_TO_END), (1, run.PER_LAYER)])
def test_smoke_run_prints_every_metric(trace, names):
    p = _run(["--workload", "ingest_serve", "--seed", "1", "--seconds", "1",
              "--trace", str(trace)], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == names
    for k, unit in names.items():
        assert any(line.startswith(f"{k} ") and line.endswith(f" {unit}") for line in lines)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "kg_build", "--seed", "1", "--seconds", "1", "--trace", "0"],
             str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
