"""Persisted indexes are opened once per process (`plans/checkpoint.py::
open_parquet`): job-budget pins for repeat opens, and staleness pins —
every way a writer changes an index directory must re-open it."""

from __future__ import annotations

import argparse
import os
import re
import shutil
from contextlib import contextmanager

import pytest

from local_search_engine_spark.operators import similarity as SIM
from local_search_engine_spark.plans.checkpoint import (
    build_persisted_index,
    load_index,
)
from local_search_engine_spark.sources.corpus import gen_corpus_spark

from .test_similarity import _emb, _qvec

KW = dict(docs_per_shard=16, block_span=8, n_buckets=8, n_groups=4)
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
# jobs of a repeat free-text cmd_search over an unchanged 120-doc index:
# the resume probe's corpus scan, the WAND and ANN legs, fusion, the
# hit-text join and snippets (14 when measured; re-opening the tables
# on every call would add 8 more)
SEARCH_JOB_BUDGET = 14


@contextmanager
def jobs_started(spark, name: str):
    """Yields a list that holds, on exit, the ids of the jobs the block
    started from this thread (its own job group)."""
    sc = spark.sparkContext
    group = f"test-index-reuse-{name}"
    sc.setJobGroup(group, name)
    out: list[int] = []
    try:
        yield out
    finally:
        for k in _GROUP_KEYS:
            sc.setLocalProperty(k, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.extend(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    """Executed plan text without expression, lambda-variable and plan
    ids."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pat, rep in ((r"#\d+L?", "#"), (r"\b([a-z])_\d+#", r"\1#"), (r"plan_id=\d+", "plan_id=")):
        plan = re.sub(pat, rep, plan)
    return plan


def test_repeat_load_index_starts_no_job(spark, tmp_path):
    from local_search_engine_spark.operators.wand import make_wand_topk

    idx_dir = str(tmp_path / "idx")
    build_persisted_index(spark, gen_corpus_spark(spark, 60, partitions=4), idx_dir, **KW)
    first = load_index(spark, idx_dir)
    with jobs_started(spark, "load") as jobs:
        again = load_index(spark, idx_dir)
    assert jobs == []

    # the reused tables plan a query exactly as the first open did,
    # term_bucket pruning included
    def wand_plan(loaded):
        idx, postings, shard_meta, stats = loaded
        q = make_wand_topk(
            idx, postings, shard_meta,
            block_span=stats["block_span"], n_buckets=stats["n_buckets"],
        )
        return q("merge shard", 5)

    plan = _plan(wand_plan(first))
    assert "PartitionFilters: [term_bucket# IN (" in plan, plan
    assert _plan(wand_plan(again)) == plan
    assert wand_plan(again).collect() == wand_plan(first).collect()


def test_repeat_ann_query_starts_only_query_jobs(spark, tmp_path):
    d = str(tmp_path / "srp")
    SIM.persist_srp_index(_emb(spark), 64, d, bits=4)
    q = _qvec(spark)
    first = SIM.srp_lsh_topk_persisted(spark, d, q, 10, probe_hamming=1)
    want = first.collect()
    built = SIM.srp_lsh_topk_persisted(spark, d, q, 10, probe_hamming=1)
    with jobs_started(spark, "ann-query") as query_jobs:
        built.collect()
    with jobs_started(spark, "ann-call") as call_jobs:
        got = SIM.srp_lsh_topk_persisted(spark, d, q, 10, probe_hamming=1).collect()
    assert query_jobs and len(call_jobs) == len(query_jobs)
    assert got == want
    plan = _plan(first)
    assert "PartitionFilters: [bucket# IN (" in plan, plan
    assert _plan(built) == plan


def test_repeat_search_job_budget(spark, tmp_path):
    from scripts.code_search import cmd_search

    corpus = gen_corpus_spark(spark, 120, partitions=4)
    root = str(tmp_path / "root")
    cmd_search(spark, corpus, argparse.Namespace(query="merge shard", index=root, k=5))
    args = argparse.Namespace(query="fast table merge", index=root, k=5)
    with jobs_started(spark, "search") as jobs:
        out = cmd_search(spark, corpus, args)
    assert out["results"] and not out["built_ann"]
    assert len(jobs) <= SEARCH_JOB_BUDGET, len(jobs)


def test_ann_append_is_seen(spark, tmp_path):
    emb = _emb(spark).filter("vec_id <> 0").cache()
    q = _qvec(spark)
    inc = str(tmp_path / "srp_inc")
    SIM.persist_srp_index(emb.filter("vec_id % 5 <> 3"), 64, inc, bits=4)
    before = SIM.srp_lsh_topk_persisted(spark, inc, q, 10, probe_hamming=1).collect()
    SIM.append_srp_index(inc, emb.filter("vec_id % 5 = 3"))
    after = SIM.srp_lsh_topk_persisted(spark, inc, q, 10, probe_hamming=1).collect()
    full = str(tmp_path / "srp_full")
    SIM.persist_srp_index(emb, 64, full, bits=4)
    want = SIM.srp_lsh_topk_persisted(spark, full, q, 10, probe_hamming=1).collect()
    emb.unpersist()
    assert after == want and before != want


def test_positional_append_is_seen(spark, tmp_path):
    from local_search_engine_spark.operators.positional import (
        append_positional_postings,
        build_positional_postings,
        load_positional_postings,
        make_phrase_topk,
        persist_positional_postings,
    )

    schema = "doc_id long, text string"
    base = [(i, "table scan fast" if i % 3 else "slow io") for i in range(30)]
    tail = [(i, "fast table scan io") for i in range(30, 40)]
    params = {"docs_per_shard": 16, "block_span": 8, "n_buckets": 8}
    path = str(tmp_path / "pos")
    persist_positional_postings(
        build_positional_postings(spark.createDataFrame(base, schema), **params),
        path,
        params=params,
    )

    def matched():
        pq = make_phrase_topk(load_positional_postings(spark, path), block_span=8, n_buckets=8)
        return sorted(r["doc_id"] for r in pq.matches("table scan").collect())

    assert matched() == [i for i in range(30) if i % 3]
    append_positional_postings(spark, path, spark.createDataFrame(tail, schema))
    assert matched() == [i for i in range(30) if i % 3] + list(range(30, 40))


def test_rebuild_over_changed_corpus_is_seen(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    build_persisted_index(spark, gen_corpus_spark(spark, 60, partitions=4), idx_dir, **KW)
    idx, postings, _, stats = load_index(spark, idx_dir)
    assert stats["n_docs"] == idx.docs.count() == 60
    build_persisted_index(spark, gen_corpus_spark(spark, 90, partitions=4), idx_dir, **KW)
    idx, postings, _, stats = load_index(spark, idx_dir)
    assert stats["n_docs"] == 90
    assert sorted(r["doc_id"] for r in idx.docs.collect()) == list(range(90))
    fresh = spark.read.parquet(os.path.join(idx_dir, "postings"))
    assert sorted(map(tuple, postings.collect())) == sorted(map(tuple, fresh.collect()))


def test_deleted_postings_fail_like_a_fresh_read(spark, tmp_path):
    from pyspark.errors import AnalysisException

    idx_dir = str(tmp_path / "idx")
    build_persisted_index(spark, gen_corpus_spark(spark, 60, partitions=4), idx_dir, **KW)
    load_index(spark, idx_dir)
    shutil.rmtree(os.path.join(idx_dir, "postings"))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_index(spark, idx_dir)


def test_build_pool_jobs_keep_the_callers_group(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    groupless = set(tracker.getJobIdsForGroup(None))
    with jobs_started(spark, "build") as jobs:
        build_persisted_index(
            spark, gen_corpus_spark(spark, 60, partitions=4), str(tmp_path / "idx"), **KW
        )
    # the tracker forgets old jobs, so only new ids are compared
    assert set(tracker.getJobIdsForGroup(None)) - groupless == set()
    assert jobs
