"""The benchmark's own fast test: a tiny corpus, one cycle of operations
per workload.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

run.import_engine()

import workloads as W  # noqa: E402
from tracing import SpanRecorder  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _oracle(rows):
    from oracle import BM25Oracle

    from local_search_engine_spark.functions.tokenize import tokenize_py

    return BM25Oracle([tokenize_py(r["content"]) for r in W.sorted_rows(rows)])


def test_oracle_check_rejects_corrupted_rows():
    oracle = _oracle(W.corpus_rows(seed=3, n_docs=40))
    want = oracle.topk("merge parse", W.K)
    assert len(want) >= 3
    W.check_against_oracle(list(want), want)
    W.check_ranked(list(want), W.K)
    r, d, s = want[1]
    corrupted = [
        want[:1] + [(r, d, s + 1e-6)] + want[2:],  # score drift
        want[:1] + [(r, d + 1, s)] + want[2:],  # wrong document
        [want[1], want[0]] + want[2:],  # swapped ranks
        want[:-1],  # missing row
    ]
    for rows in corrupted:
        with pytest.raises(W.CheckFailed):
            W.check_against_oracle(rows, want)
    with pytest.raises(W.CheckFailed):
        W.check_ranked([(1, d, s), (3, d + 1, s)], W.K)


def test_search_check_rejects_phrase_and_exclusion_violations():
    rows = W.corpus_rows(seed=3, n_docs=5)
    by_file = {f"{r['repo']}:{r['path']}": r["content"] for r in rows}
    f0 = next(iter(by_file))
    ok = {"results": [{"rank": 1, "file": f0}]}
    W.check_search(ok, W.K, ["def"], [], by_file)
    with pytest.raises(W.CheckFailed):
        W.check_search(ok, W.K, ["zzzz qqqq"], [], by_file)
    with pytest.raises(W.CheckFailed):
        W.check_search(ok, W.K, [], ["def"], by_file)
    with pytest.raises(W.CheckFailed):
        W.check_search({"results": [{"rank": 2, "file": f0}]}, W.K, [], [], by_file)
    assert W.search_terms('"merge shard" token -kw3') == (["merge shard"], ["kw3"])


def test_trace_overhead_cancels_warm_up():
    # tracing adds 10%; the second run of a pair is 20% faster (warm caches)
    ops = [(1.0, False, 0, "q"), (1.1 * 0.8, True, 0, "q"),  # untraced first
           (1.1, True, 0, "q"), (0.8, False, 0, "q")]  # traced first
    assert run.overhead_ratio(ops, paired=True) == pytest.approx(1.1)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark"))
    session = run.start_spark(tmp)
    yield session
    run.stop_spark(session)


def test_span_recorder_starts_no_jobs(spark):
    sc = spark.sparkContext
    spark.range(3).count()  # a job outside any span
    before = run.groupless_jobs(sc)
    rec = SpanRecorder(sc)
    with rec.span("op.outer"):
        with rec.span("layer.inner"):
            pass
    assert run.groupless_jobs(sc) == before
    assert [s["jobs"] for s in rec.spans] == [0, 0]
    outer, inner = rec.spans
    assert inner["parent"] == outer["id"]
    assert 0 <= rec.self_time(outer) <= outer["end"] - outer["start"]
    assert sc.getLocalProperty("spark.jobGroup.id") is None


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_printed_with_its_unit(spark, workload, tmp_path):
    res = run.measure(spark, sys.modules["code_search"], workload, seed=5, seconds=0,
                      trace=True, work=str(tmp_path / "work"), rows=W.corpus_rows(5, 60))
    assert res["failed"] == 0 and res["attempted"] >= 2
    # one whole cycle, whatever the time: interactive sends each query of
    # the mix twice (traced and untraced), ingest its 3 batches once
    want_kinds = {"interactive": [k for k in W.SEARCH_MIX for _ in (0, 1)],
                  "ingest": ["append", "append", "compact"]}[workload]
    assert res["samples"]["op_kinds"] == want_kinds
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = json.loads(json.dumps(run.result_line(res, trace)))
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] is True
        assert {n: m["unit"] for n, m in out["metrics"].items()} == want
        assert all(isinstance(m["value"], (int, float)) for m in out["metrics"].values())
    assert res["end_to_end"]["op_p50_s"] > 0
