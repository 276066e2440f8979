"""Query-time top-k over the compressed index with block-max WAND
pruning (SURVEY.md §4.3 item 2). EXACT: the same top-k and the same
float scores as the brute-force DataFrame path (tests/test_wand.py
asserts bit-equality), because

  * blocks are doc-range aligned, so a window's upper bound
    UB(w) = Σ_t qtf_t · idf⁺(t) · g(block_max_tf, block_min_dl) is a
    true bound on any doc score inside the window (g is the BM25 tf
    normalizer, increasing in tf and decreasing in doc_len; idf⁺ clamps
    negative floored idf to 0). The bound is derived HERE from the
    idf-free block metadata — blocks never bake in global stats, so an
    incrementally maintained index reuses untouched shards soundly;
  * a window is skipped only when UB(w) ≤ θ (current k-th best): a
    skipped doc could at best TIE θ, and windows are processed in
    ascending doc order with the (score DESC, doc_id ASC) tie-break,
    so a tying later doc never displaces an incumbent;
  * surviving windows are scored exactly, adding per-term contributions
    in ascending term order — the same accumulation order (and the
    same expression shape, left-associative) as the brute-force path
    and the oracle, so floats reproduce bit-for-bit.

Physical plan: postings ⋈ broadcast(query idf) [term filter pushed to
the Parquet scan; term_bucket prunes partitions on a persisted index]
→ union with the shard_meta rows (meta tagged by a null term — the
meta blob moves ONCE per shard, never once per posting row) →
plans.delivery.map_groups on part_id (one hash repartition, a local
sort, one mapInPandas streaming each shard's rows to `_wand_shard`:
numpy decode + WAND + per-shard k-heap) → global orderBy/limit
(planned as TakeOrderedAndProject — a distributed k-heap, no full
sort). Exactly one shuffle after the scan. A single query and a batch
(`query_set`) run the same kernel over (query_id, qtf, k) specs.
"""

from __future__ import annotations

from collections import Counter

from ..functions.tokenize import tokenize_py

_POST_COLS = [
    "part_id", "term", "block_id", "block_max_tf", "block_min_dl",
    "doc_ids_vb", "tfs_vb", "idf",
]


def _tagged_union(matched, shard_meta):
    """posts rows + meta rows in ONE relation keyed by part_id: meta
    rows carry (first_doc_id, doc_lens) with term null; posting rows
    carry null meta columns. Grouped by part_id (map_groups), a shard's
    group holds every row the per-shard kernel needs, while the
    ~docs_per_shard·4-byte doc_lens blob is shipped exactly once per
    shard."""
    from pyspark.sql import functions as F

    meta = shard_meta.select(
        "part_id",
        F.col("first_doc_id").alias("_shard_first"),
        F.col("doc_lens").alias("_shard_lens"),
    )
    return matched.select(*_POST_COLS).unionByName(meta, allowMissingColumns=True)


def _wand_shard(pdf, specs, k1: float, b_: float, avgdl: float, span: int, prune: bool):
    """Exact block-max WAND over one shard's tagged rows for every
    (query_id, qtf, k) spec → DataFrame(query_id, doc_id, score) holding
    each query's shard-local top-k. A shard with posts but no meta row
    (or the reverse) yields nothing — the cogroup semantics."""
    import numpy as np
    import pandas as pd

    from ..functions.codec import decode_block, unpack_i32

    is_meta = pdf["term"].isna().to_numpy()
    if is_meta.all() or not is_meta.any():
        return None
    meta = pdf[is_meta]
    first_doc = int(meta["_shard_first"].iloc[0])
    doc_lens = unpack_i32(meta["_shard_lens"].iloc[0]).astype(np.float64)
    posts = pdf[~is_meta].sort_values(["block_id", "term"])
    # columnar extraction ONCE per shard, then pure numpy block slicing
    # (r06 — the pandas groupby/itertuples machinery cost more per small
    # shard group than the decode+score work; guide §4.2) + a term
    # factorization so each query's rows are one code lookup
    bid_a = posts["block_id"].to_numpy(np.int64)
    dvb_a = posts["doc_ids_vb"].to_numpy()
    tvb_a = posts["tfs_vb"].to_numpy()
    idf_a = posts["idf"].to_numpy(np.float64)
    codes, uniques = pd.factorize(posts["term"])
    # per-block upper bound from the idf-free metadata:
    # idf⁺·qtf·(k1+1)·max_tf / (max_tf + k1·(1−b+b·min_dl/avgdl)) — a
    # true bound (BM25 contribution increases in tf, decreases in dl);
    # idf clamped at 0 because a doc NOT containing a negatively-scored
    # term would otherwise exceed the "bound" (negative floored idf is
    # legal when avg_idf < 0). The query-independent factors are
    # computed once per shard; each query's bound keeps the same
    # left-to-right float order.
    mt_a = posts["block_max_tf"].to_numpy(np.float64)
    den_a = mt_a + k1 * (1.0 - b_ + b_ * posts["block_min_dl"].to_numpy(np.float64) / avgdl)
    idfp_a = np.maximum(idf_a, 0.0)

    out_q: list = []
    out_d: list = []
    out_s: list = []
    for qid, qtf, k in specs:
        # qtf per row (0 for another query's terms) — qtf counts are ≥ 1
        qw_rows = np.array([float(qtf.get(t, 0)) for t in uniques])[codes]
        idxs = np.flatnonzero(qw_rows)
        if idxs.size == 0:
            continue
        qw_vals = qw_rows[idxs]
        ub_vals = idfp_a[idxs] * qw_vals * mt_a[idxs] * (k1 + 1.0) / den_a[idxs]
        sub_bid = bid_a[idxs]
        scores = np.zeros(doc_lens.size, dtype=np.float64)
        touched = np.zeros(doc_lens.size, dtype=bool)
        # running top-k as parallel numpy arrays (r05, VERDICT #7): θ
        # only matters at WINDOW boundaries (a surviving window is
        # always scored in full), so the per-touched-doc Python heap
        # pushes collapse into one vectorized merge + lexsort per
        # surviving window — same (score DESC, doc_id ASC) selection,
        # bit-identical.
        topk_s = np.empty(0, dtype=np.float64)
        topk_d = np.empty(0, dtype=np.int64)
        theta = -np.inf
        starts = np.flatnonzero(np.concatenate(([True], sub_bid[1:] != sub_bid[:-1])))
        ends = np.append(starts[1:], sub_bid.size)
        for s_i, e_i in zip(starts, ends):
            if prune and topk_s.size == k:
                ub = float(ub_vals[s_i:e_i].sum())
                if ub <= theta:
                    continue  # window cannot beat the k-th best
            base = int(sub_bid[s_i]) * span
            for j in range(s_i, e_i):
                i = idxs[j]
                d, tf = decode_block(dvb_a[i], tvb_a[i], base)
                off = d - first_doc
                dl = doc_lens[off]
                tfd = tf.astype(np.float64)
                contrib = (
                    idf_a[i]
                    * qw_vals[j]
                    * tfd
                    * (k1 + 1.0)
                    / (tfd + k1 * (1.0 - b_ + b_ * dl / avgdl))
                )
                scores[off] += contrib
                touched[off] = True
            lo = max(base - first_doc, 0)
            hi = min(base + span - first_doc, doc_lens.size)
            offs = np.flatnonzero(touched[lo:hi]) + lo
            if offs.size:
                cand_s = np.concatenate((topk_s, scores[offs]))
                cand_d = np.concatenate((topk_d, offs + first_doc))
                touched[offs] = False
                scores[offs] = 0.0
                if cand_s.size > k:
                    sel = np.lexsort((cand_d, -cand_s))[:k]
                    topk_s, topk_d = cand_s[sel], cand_d[sel]
                else:
                    topk_s, topk_d = cand_s, cand_d
                if topk_s.size == k:
                    theta = float(topk_s.min())
        out_q.extend([qid] * topk_s.size)
        out_d.extend(topk_d.tolist())
        out_s.extend(topk_s.tolist())
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype="int32"),
            "doc_id": pd.Series(out_d, dtype="int64"),
            "score": pd.Series(out_s, dtype="float64"),
        }
    )


def make_wand_topk(index, postings, shard_meta, block_span: int | None = None, n_buckets: int | None = None):
    """Bind a compressed index (operators/postings.py output) to a query
    function: query(text, k, prune=True) → DataFrame(rank, doc_id, score).

    n_buckets: pass the index's bucket count when postings come from a
    persisted index written partitionBy("term_bucket") — the query then
    adds term_bucket literals (computed driver-side via the portable h32
    hash, no Spark job) so the Parquet scan prunes whole bucket
    directories instead of reading the full index.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.codec import DEFAULT_BLOCK_SPAN
    from ..plans.delivery import map_groups

    span = block_span or DEFAULT_BLOCK_SPAN
    k1, b_, avgdl = index.params.k1, index.params.b, index.avgdl
    spark = postings.sparkSession
    idf_small = index.idf.select("term", "idf")

    def per_shard(specs, prune: bool):
        """(query_id, doc_id, score): each spec's shard-local top-k from
        one bucket-pruned postings scan over the union of the specs'
        terms and one shuffle on part_id."""
        terms = sorted({t for _, qtf, _ in specs for t in qtf})
        scan = postings
        if n_buckets and "term_bucket" in postings.columns:
            from ..functions.hashing import h32_py

            # bucket literals computed driver-side (hashlib) — zero jobs
            buckets = sorted({h32_py(t) % n_buckets for t in terms})
            scan = scan.filter(F.col("term_bucket").isin(buckets))
        matched = scan.filter(F.col("term").isin(terms)).join(
            F.broadcast(idf_small.filter(F.col("term").isin(terms))), "term"
        )
        return map_groups(
            _tagged_union(matched, shard_meta),
            ["part_id"],
            lambda pdf: _wand_shard(pdf, specs, k1, b_, avgdl, span, prune),
            "query_id int, doc_id long, score double",
        )

    def query(text: str, k: int, prune: bool = True):
        qtf = dict(sorted(Counter(tokenize_py(text)).items()))
        if not qtf or k <= 0:
            return spark.createDataFrame([], "rank int, doc_id long, score double")
        topk = (
            per_shard([(0, qtf, k)], prune)
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "score"
        )

    def query_set(queries, prune: bool = True):
        """Batch path: ALL queries against the index in ONE plan — one
        postings scan (filtered to the union of all query terms, bucket-
        pruned), one shuffle, one per-shard pass that runs the same
        exact block-max WAND kernel per query. Per-query results are
        identical to query() (tests assert it); wall cost amortizes the
        per-job overhead across the whole set, exactly like
        operators/query.run_query_set does for the brute-force path.

        queries: [(query_id, text, k)] → DataFrame(query_id, rank,
        doc_id, score).
        """
        qspecs = []
        for qid, text, k in queries:
            qtf = dict(sorted(Counter(tokenize_py(text)).items()))
            if qtf and k > 0:
                qspecs.append((int(qid), qtf, int(k)))
        if not qspecs:
            return spark.createDataFrame(
                [], "query_id int, rank int, doc_id long, score double"
            )
        kmap = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(q) for q, _, _ in qspecs]),
                F.array(*[F.lit(k) for _, _, k in qspecs]),
            ),
            F.col("query_id"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_shard(qspecs, prune)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= kmap)
            .select("query_id", "rank", "doc_id", "score")
        )

    query.query_set = query_set
    return query
