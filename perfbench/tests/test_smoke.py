"""Toy-size smoke test of the benchmark.

    python -m pytest perfbench/tests -q

Runs every workload at ``--size toy`` once untraced and once traced,
and checks that every end-to-end and per-layer metric is emitted with
its unit, that nothing failed and that the resume redid no bucket.
Also checks that a corrupted extraction output is reported as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.workloads import count_failed, select  # noqa: E402

WORKLOADS = ("corpus_job", "whale_tail", "ops_sf")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_toy_run_emits_every_metric(trace):
    p = _run("--workload", "all", "--size", "toy", "--seconds", "1",
             "--seed", "3", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] > 0
    expected = _bench()["end_to_end" if trace == "0" else "per_layer"]
    for w in WORKLOADS:
        for m in expected:
            got = result["metrics"][f"{w}.{m['name']}"]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
    text = "\n".join(lines[:-1])
    assert text.count("failed_share = 0.000000 share") == len(WORKLOADS)
    assert "recomputed_buckets = 0 count" in text


def test_benchmark_json_names_the_workloads():
    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)


def test_workload_selection_by_exact_name_or_prefix():
    assert [w.name for w in select("corpus_job")] == ["corpus_job"]
    assert [w.name for w in select("whale")] == ["whale_tail"]
    assert [w.name for w in select("all")] == list(WORKLOADS)
    with pytest.raises(ValueError):
        select("q5")


def test_unknown_workload_exits_nonzero_without_a_result():
    p = _run("--workload", "nope", "--seconds", "1")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _ref(n: int) -> list[dict]:
    return [{"doc_id": f"d{i}", "spans_out": [{"text": str(i)}], "error": None}
            for i in range(n)]


def test_count_failed_sees_dropped_duplicated_extra_and_wrong_rows():
    ref = _ref(6)
    assert count_failed(ref, _ref(6)) == 0
    got = _ref(6)
    del got[0]                                   # dropped
    got.append(dict(got[0]))                     # duplicated
    got.append({**got[1], "doc_id": "extra"})    # not in the reference
    got[2] = {**got[2], "spans_out": []}         # other spans
    got[3] = {**got[3], "error": "boom"}         # errored
    assert count_failed(ref, got) == 5


@pytest.mark.parametrize("corruption", ["drop", "duplicate"])
def test_whale_tail_reports_a_corrupted_salted_pass(tmp_path, monkeypatch, corruption):
    """A salting step that loses or repeats rows must fail the pass,
    although a fresh unsalted extraction would be right."""
    from pyspark.sql import functions as F

    from h2spark.pipeline import salting
    from perfbench.harness import Session
    from perfbench.workloads import WhaleTail

    work = tmp_path / "work" / "whale_tail"
    work.mkdir(parents=True)
    w = WhaleTail(str(work), 3, "toy", 2)
    w.prepare()
    session = Session(2, 3, None)
    try:
        spark = session.spark
        w.load(spark)
        assert w.verify(spark, w.run_pass(spark)) == (w.n_docs, 0)
        orig = salting.salted_repartition
        victims = [r["doc_id"] for r in w.rows[:2]]

        def corrupt(df, n):
            out = orig(df, n)
            hit = F.col("doc_id").isin(victims)
            if corruption == "drop":
                return out.filter(~hit)
            return out.unionByName(out.filter(hit))

        monkeypatch.setattr(salting, "salted_repartition", corrupt)
        attempted, failed = w.verify(spark, w.run_pass(spark))
        assert attempted == w.n_docs
        assert failed == 2
    finally:
        session.stop()
