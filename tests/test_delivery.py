"""plans.delivery. stream_groups, the streaming half of map_groups, is
driven in pure Python (no Spark job): groups split across batch
boundaries are reassembled exactly, a group reaches `fn` with at most
one batch read beyond it, outputs leave once per batch, and empty
partitions and single-row groups are handled. One Spark test checks
that map_groups' output does not depend on the Arrow batch size."""

import pandas as pd

from local_search_engine_spark.plans.delivery import stream_groups


def _run(frames, keys=("k",)):
    """Stream `frames` → (groups as (key, values) in fn-call order,
    batches pulled beyond each group's last batch when fn saw it,
    yielded frames)."""
    keys = list(keys)
    last = {}  # key -> 1-based index of the last batch holding it
    for i, f in enumerate(frames, 1):
        last.update((k, i) for k in f[keys].itertuples(index=False, name=None))
    pulled = 0

    def counted():
        nonlocal pulled
        for f in frames:
            pulled += 1
            yield f

    seen, ahead = [], []

    def fn(g):
        key = next(g[keys].itertuples(index=False, name=None))
        assert set(g[keys].itertuples(index=False, name=None)) == {key}
        seen.append((key, g["v"].tolist()))
        ahead.append(pulled - last[key])
        return pd.DataFrame({"n": [len(g)]})

    return seen, ahead, list(stream_groups(counted(), keys, fn))


def _split(sizes, **cols):
    pdf, at, out = pd.DataFrame(cols), 0, []
    for n in sizes:
        out.append(pdf.iloc[at : at + n].reset_index(drop=True))
        at += n
    return out


def test_groups_split_across_batches_are_reassembled():
    keys = [1, 1, 1, 2, 2, 3, 4, 4, 4, 4, 4, 5]
    frames = _split([2, 2, 3, 1, 4], k=keys, v=list(range(12)))
    seen, ahead, yielded = _run(frames)
    want = {}
    for k, v in zip(keys, range(12)):
        want.setdefault((k,), []).append(v)
    assert seen == list(want.items())  # each group once, whole, in order
    assert max(ahead) <= 1  # at most one batch beyond the group
    assert len(yielded) <= len(frames)  # once per batch, never per group
    assert pd.concat(yielded)["n"].tolist() == [3, 2, 1, 5, 1]


def test_one_row_batches_single_row_groups_and_composite_keys():
    seen, ahead, _ = _run(_split([1] * 4, k=[7, 8, 8, 9], v=[1, 2, 3, 4]))
    assert seen == [((7,), [1]), ((8,), [2, 3]), ((9,), [4])]
    assert max(ahead) <= 1
    frames = _split([2, 2, 1], k=[1, 1, 1, 2, 2], p=[0, 0, 1, 1, 1], v=[1, 2, 3, 4, 5])
    seen, ahead, _ = _run(frames, keys=("k", "p"))
    assert seen == [((1, 0), [1, 2]), ((1, 1), [3]), ((2, 1), [4, 5])]
    assert max(ahead) <= 1


def test_empty_partitions_batches_and_outputs():
    assert list(stream_groups(iter([]), ["k"], len)) == []
    empty = pd.DataFrame({"k": pd.Series([], dtype="int64"), "v": []})
    assert list(stream_groups(iter([empty, empty]), ["k"], len)) == []
    seen, _, yielded = _run([empty, *_split([2], k=[3, 3], v=[1, 2]), empty])
    assert seen == [((3,), [1, 2])] and len(yielded) == 1
    frames = _split([2, 2], k=[1, 2, 2, 3], v=[1, 2, 3, 4])
    assert list(stream_groups(iter(frames), ["k"], lambda g: None)) == []


def test_map_groups_output_independent_of_batch_size(spark):
    """Postings encoded from 7-row Arrow batches, which split nearly
    every group across batches, equal the default-batch encoding."""
    from local_search_engine_spark.operators.build import build_index
    from local_search_engine_spark.operators.postings import build_postings
    from local_search_engine_spark.sources.corpus import gen_corpus_spark

    idx = build_index(gen_corpus_spark(spark, 60, partitions=4))

    def rows():
        dfs = build_postings(idx, docs_per_shard=16, block_span=8)
        return [sorted(map(tuple, df.collect())) for df in dfs]

    want = rows()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert rows() == want
    finally:
        spark.conf.set(key, default)
