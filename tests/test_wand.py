"""WAND exactness (SURVEY.md §5.2 item 4): compressed-index top-k with
block-max pruning ≡ brute-force DataFrame top-k — bit-identical scores —
on every fixture query; pruning on vs off identical; and the compressed
path is rank-identical to the pure-Python oracle."""

import pytest

from local_search_engine_spark.operators.build import build_index
from local_search_engine_spark.operators.postings import build_postings
from local_search_engine_spark.operators.query import topk as brute_topk
from local_search_engine_spark.operators.wand import make_wand_topk
from local_search_engine_spark.sources.corpus import gen_corpus_spark, query_set

from .oracle import oracle_for_corpus

N_DOCS = 100
# tiny shards/blocks so the 100-doc corpus exercises multi-shard,
# multi-block paths: 7 shards of 16 docs, 2-4 blocks per shard
DOCS_PER_SHARD = 16
BLOCK_SPAN = 8


@pytest.fixture(scope="module")
def compressed(spark):
    idx = build_index(gen_corpus_spark(spark, N_DOCS, partitions=8))
    postings, shard_meta = build_postings(
        idx, docs_per_shard=DOCS_PER_SHARD, block_span=BLOCK_SPAN
    )
    postings = postings.cache()
    shard_meta = shard_meta.cache()
    postings.count(), shard_meta.count()
    return idx, make_wand_topk(idx, postings, shard_meta, block_span=BLOCK_SPAN)


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def test_wand_equals_bruteforce_bitexact(compressed):
    idx, wand = compressed
    for qid, text, k in query_set(N_DOCS):
        got = _rows(wand(text, k))
        want = _rows(brute_topk(idx, text, k))
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (
            qid,
            text,
        )
        for (_, _, s_g), (_, _, s_w) in zip(got, want):
            assert s_g == s_w, (qid, text)  # bit-identical floats


def test_prune_toggle_identical(compressed):
    _, wand = compressed
    for text, k in [("def merge shard", 10), ("tiebait", 20), ("the", 5)]:
        assert _rows(wand(text, k, prune=True)) == _rows(wand(text, k, prune=False))


def test_wand_rank_identity_vs_oracle(compressed):
    _, wand = compressed
    oracle = oracle_for_corpus(N_DOCS)
    for qid, text, k in query_set(N_DOCS):
        got = _rows(wand(text, k))
        want = oracle.topk(text, k)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (qid, text)
        for (_, _, s_g), (_, _, s_o) in zip(got, want):
            assert s_g == pytest.approx(s_o, abs=1e-9)


def test_batch_query_set_matches_per_query(compressed):
    """The one-plan batch WAND path must reproduce each per-query WAND
    result exactly (same floats, same ranks)."""
    idx, wand = compressed
    qs = query_set(N_DOCS)[:5]
    batch = wand.query_set(qs, prune=True).collect()
    got = {}
    for r in batch:
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, text, k in qs:
        want = [(r.rank, r.doc_id, r.score) for r in wand(text, k, prune=True).collect()]
        assert sorted(got.get(qid, [])) == sorted(want), text


def _own_operators(df) -> list[str]:
    """Physical operators df's own plan runs; cached inputs are leaves."""
    out = []

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        out.append(node.simpleString(8))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_plans_one_hash_exchange(compressed):
    """build_postings and a WAND query each plan exactly one hash
    Exchange over their cached inputs (map_groups' sort adds none), and
    query() stays a TakeOrderedAndProject k-heap."""
    idx, wand = compressed
    # a layout the fixture did not cache, so the plan is not a cache hit
    postings, shard_meta = build_postings(idx, docs_per_shard=2 * DOCS_PER_SHARD)
    query = wand("def merge shard", 10)
    for df in (postings, shard_meta, query):
        ops = _own_operators(df)
        shuffles = [o for o in ops if o.startswith("Exchange")]
        assert len(shuffles) == 1 and "hashpartitioning" in shuffles[0], ops
        assert any(o.startswith("Sort") for o in ops), ops
    # the k-heap feeds the rank window; no window runs below it
    ops = _own_operators(query)
    top = next(i for i, o in enumerate(ops) if o.startswith("TakeOrderedAndProject"))
    assert not any(o.startswith("Window") for o in ops[top:]), ops


def test_derived_bound_retains_pruning_power(spark):
    """The idf-free (block_max_tf, block_min_dl)-derived upper bound
    must actually PRUNE in the positive-idf regime, not merely stay
    correct: for the rarest positive-idf term in the documents fixture,
    at least half its blocks bound below the brute-force k-th score
    (skippable). Hot terms on tiny-vocab fixtures have NEGATIVE floored
    idf, where the 0-clamped bound exceeds any negative theta and
    pruning cannot engage — equally true of the old baked-score bound,
    so that regime proves nothing either way."""
    from pyspark.sql import functions as F

    from local_search_engine_spark.operators.build import build_index_from

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index_from(docs, text_col="text")
    rare = idx.idf.filter("idf > 0").orderBy("df").first()
    assert rare is not None, "fixture lost its positive-idf rare term"
    term, idf = rare["term"], float(rare["idf"])
    postings, _ = build_postings(idx, docs_per_shard=200, block_span=16)
    blocks = postings.filter(F.col("term") == term).select(
        "block_max_tf", "block_min_dl"
    ).collect()
    assert len(blocks) >= 8, (term, len(blocks))
    theta = [r["score"] for r in brute_topk(idx, term, 3).collect()][-1]
    k1, b, avgdl = idx.params.k1, idx.params.b, idx.avgdl
    ubs = [
        max(idf, 0.0)
        * (k1 + 1.0)
        * r["block_max_tf"]
        / (r["block_max_tf"] + k1 * (1.0 - b + b * r["block_min_dl"] / avgdl))
        for r in blocks
    ]
    skippable = sum(1 for u in ubs if u <= theta)
    assert skippable / len(blocks) >= 0.5, (term, skippable, len(blocks), theta)
