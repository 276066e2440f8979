"""Inverted-index build as DataFrame aggregations.

Replaces the reference's per-document in-memory rank_bm25.BM25Okapi
construction (reference preprocessing.py:513) with a GLOBAL index: the
reference computes IDF within each file only and then merges scores from
different files as if comparable (SURVEY.md §4.1 defect 5); the north
rule pins a global inverted index with global df/idf/avgdl.

Dataflow (every step is built-in Catalyst territory — partial+final hash
aggregation, broadcast joins, pushdown, AQE):

  corpus (repo,path,commit,lang,content)
    → docs      doc_id, content_sha256, tokens, doc_len
    → tf        (doc_id, term) → tf                 [one shuffle on (doc_id,term)]
    → dfreq     term → df                           [map-side partial agg]
    → stats     n_docs, avgdl                       [tiny agg, collected]
    → idf       two-pass epsilon floor (needs global avg of raw idf)

BM25Okapi semantics reproduced exactly (SURVEY.md §2.10):
  idf_raw(t) = ln(N - df + 0.5) - ln(df + 0.5)
  idf(t)     = epsilon * mean(idf_raw over vocabulary)   if idf_raw < 0
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .. import BM25_B, BM25_EPSILON, BM25_K1
from ..functions.tokenize import tokenize_expr, tokenize_udf


# Broadcast the doc_id table when the corpus has at most this many rows
# (~100 B/row of key strings → ≤ ~200 MB broadcast). Above it, the id
# join is a key-shuffle join.
BROADCAST_IDS_MAX_ROWS = 2_000_000


@dataclass
class BM25Params:
    k1: float = BM25_K1  # BASELINE.json pins 1.2 (rank_bm25 default is 1.5)
    b: float = BM25_B
    epsilon: float = BM25_EPSILON


@dataclass
class InvertedIndex:
    """Logical index: a bundle of DataFrames + collected scalar stats."""

    docs: object  # doc_id, repo, path, commit, lang, content_sha256, doc_len
    tf: object  # doc_id, term, tf
    idf: object  # term, df, idf_raw, idf
    n_docs: int
    avgdl: float
    avg_idf: float
    params: BM25Params = field(default_factory=BM25Params)
    postings: object | None = None  # compressed blocks (operators/postings.py)


def with_doc_ids(corpus, partitions: int | None = None):
    """Deterministic doc_id = 0-based global rank by the unique corpus
    key (repo, path, commit) — the identity contract shared with the
    oracle (SURVEY.md §7.2) — computed scalably:

      range-shuffle on the key into P ordered partitions
        → sortWithinPartitions(key)
        → persist  (pins the partitioning: the offset pass and the main
           pass must see identical partition boundaries — range sampling
           must not re-run per action)
        → one tokenize-free count-per-partition job → driver prefix sums
        → JVM enumeration: row_number() windowed WITHIN each range
           partition (parallel) + the prefix offset via a broadcast map;
           doc_id = offset + local row position.

    The v0 shape — row_number() over a global ORDER BY window — funneled
    every byte of content through ONE task and left the result
    single-partitioned, serializing tokenization downstream (measured:
    index build speedup 8→32 cores was 1.3× before, because the only
    parallel stages were post-shuffle aggregations). Rank arithmetic
    here is boundary-independent: any disjoint ordered ranges give the
    same global rank, since within-partition order + prefix offsets
    reconstruct the total order.

    Only the KEY COLUMNS flow through the rank machinery: ids are
    computed over a (repo, path, commit) projection — Parquet column
    pruning keeps content out of that scan entirely — and joined back
    to the corpus JVM-side. (An earlier mapInPandas enumeration shipping
    full rows measured ~2x SLOWER at 8 executors than at 2: the Arrow
    round trip of the content column was the whole cost, and it
    anti-scaled; the keys-only JVM rank is also what survives 10^12
    files — the persisted rank state is keys, not corpus.)
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    spark = corpus.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = ["repo", "path", "commit"]
    k = (
        corpus.select(*key)
        .repartitionByRange(partitions, *key)
        .sortWithinPartitions(*key)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        int(r["_pid"]): int(r["n"])
        for r in k.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    # enumeration is pure JVM and EXCHANGE-FREE: the persisted partitions
    # are already sorted by the (unique) key, so the 0-based in-partition
    # row position IS the local rank. monotonically_increasing_id packs
    # exactly that position into its low 33 bits (partition id in the
    # high bits), evaluated as a narrow projection over the cached
    # layout — no window, no hash exchange of the key table. (An earlier
    # row_number() over Window.partitionBy(_pid) was semantically
    # identical but Catalyst cannot see that _pid matches the physical
    # partitioning, so it inserted a full hash Exchange of the key table
    # before the window; an earlier-still mapInPandas version put an
    # Arrow round trip in the hot path.) Determinism: the key is unique,
    # so sortWithinPartitions pins a total order per partition even if a
    # cached block is evicted and recomputed.
    off = F.create_map(
        *[F.lit(x) for pid, o in sorted(offsets.items()) for x in (pid, o)]
    )
    ids = (
        k.withColumn(
            "_local",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
        )
        .withColumn("doc_id", off[F.col("_pid")] + F.col("_local"))
        .drop("_pid", "_local")
    )
    # Runtime invariant (r03 ADVICE): the low-33-bit in-partition counter
    # assumes < 2^33 rows per partition and deterministic recompute of any
    # evicted cache partition. Verify the finished enumeration outright —
    # one agg job over the slim cached key relation (never the content) —
    # so a violated assumption fails loudly instead of silently producing
    # duplicate/shifted ids.
    chk = ids.agg(
        F.count("*").alias("n"),
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    ).first()
    if not (
        chk["n"] == chk["nd"] == acc
        and (acc == 0 or (chk["mn"] == 0 and chk["mx"] == acc - 1))
    ):
        raise RuntimeError(
            f"doc-id enumeration invariant violated: {chk.asDict()}, expected "
            f"dense [0, {acc}) — a partition likely exceeded 2^33 rows or a "
            "cache recompute changed the layout"
        )
    # acc (total docs) is already known exactly — broadcast the id table
    # outright when it is small so the CONTENT never shuffles: tokenize
    # then runs straight off the (column-pruned) source scan at full
    # width. Past the threshold this is a sort-merge join on the key —
    # the same cost class as the range shuffle, and cluster-scalable.
    if acc <= BROADCAST_IDS_MAX_ROWS:
        ids = F.broadcast(ids)
    return corpus.withColumn("content_sha256", F.sha2(F.col("content"), 256)).join(
        ids, key
    )


def tokenized_docs(
    docs,
    text_col: str = "content",
    use_pandas_udf: bool = True,
    tokenizer=None,
):
    """Add tokens + doc_len. Default path (r06) is the Arrow-batched
    pandas UDF: the expression tokenizer's filter lambda is an
    INTERPRETED higher-order function and downstream in-row consumers
    re-reference the whole split tree, measuring 2.5 s for a 50 k-doc
    tokenize pass vs 0.75 s through the kernel (which is also a
    substitution barrier, so tokens materialize exactly once). The two
    paths are token-identical (tests/test_tokenizer.py asserts it);
    pass use_pandas_udf=False for the pure-JVM fallback where Arrow is
    unavailable.

    tokenizer: optional Column→Column analyzer override (e.g.
    functions.tokenize.tokenize_code_expr for camelCase/snake_case
    subtoken indexing). The caller owns query-side consistency: score
    the index built with analyzer X using X's python twin (the pinned
    default tokenizer remains the oracle-gated contract)."""
    from pyspark.sql import functions as F

    if tokenizer is not None:
        tok = tokenizer(F.col(text_col))
    elif use_pandas_udf:
        tok = tokenize_udf()(F.col(text_col))
    else:
        tok = tokenize_expr(F.col(text_col))
    return docs.withColumn("tokens", tok).withColumn("doc_len", F.size("tokens"))


def term_frequencies(tok_docs, impl: str = "auto"):
    """A1: per-doc term frequencies, two plans:

    impl='shuffle': explode(tokens) → groupBy(doc_id, term). Catalyst
    plans partial hash agg (map-side combine on the exploded stream) →
    shuffle on (doc_id, term) → final agg; hot terms do NOT skew this
    shuffle because the key includes doc_id.

    impl='inrow': tf never leaves the row — all of a doc's tokens are
    already co-located, so grouping by (doc_id, term) needs no exchange
    at all: array_sort(tokens) → run boundaries (positions where the
    sorted stream changes) → (term, run length) structs → explode.
    ZERO shuffle; the exploded output is still clustered by doc_id.

    impl='auto' (default) picks by topology, exactly as measured:
    single-JVM local[*] → 'inrow' (40 k-doc full build 64-67 s → 34-35 s:
    the in-process "shuffle" still pays hash-table + row serialization
    with no network to save, so removing it is pure win); any
    multi-executor master → 'shuffle' (4×4-executor local-cluster
    persisted build: shuffle 157 s vs inrow 183 s on a quiet box — the
    interpreted sort/boundary lambdas cost more than a loopback shuffle;
    on a real network-attached cluster the balance shifts back toward
    'inrow', so the knob stays exposed).
    """
    from pyspark.sql import functions as F

    if impl == "auto":
        master = tok_docs.sparkSession.conf.get("spark.master", "")
        # bare "local" (no brackets) is also single-JVM; "local-cluster"
        # must stay on the shuffle path, which the bracket check ensures
        impl = (
            "inrow"
            if master == "local" or master.startswith("local[")
            else "shuffle"
        )
    if impl == "shuffle":
        return (
            tok_docs.select("doc_id", F.explode("tokens").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
    # materialize EACH intermediate as a real column before any lambda
    # touches it: Catalyst does not common-subexpression-eliminate
    # inside higher-order functions, so element_at(array_sort(x), i)
    # re-sorts the array PER ELEMENT (measured 30x slower than the
    # shuffle plan before this staging; ~equal after)
    s = F.col("s")
    n = F.size(s)
    staged = tok_docs.select("doc_id", F.array_sort(F.col("tokens")).alias("s"))
    starts_expr = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == 1) | (F.element_at(s, i) != F.element_at(s, i - 1)),
    )
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard empties
    staged = staged.select(
        "doc_id",
        "s",
        F.when(n > 0, starts_expr).otherwise(F.array().cast("array<int>")).alias(
            "starts"
        ),
    )
    ends = F.concat(
        F.slice(F.col("starts"), 2, F.size("starts")), F.array(n + 1)
    )
    runs = F.zip_with(
        F.col("starts"),
        ends,
        lambda a, b: F.struct(
            F.element_at(s, a).alias("term"), (b - a).cast("long").alias("tf")
        ),
    )
    # token-less doc: starts=[] but ends=[1], and zip_with null-pads the
    # shorter side — without this guard the doc emits one spurious
    # (term=NULL, tf=NULL) row that the shuffle plan never produces
    runs = F.when(n > 0, runs).otherwise(
        F.array().cast("array<struct<term:string,tf:bigint>>")
    )
    return staged.select("doc_id", F.explode(runs).alias("r")).select(
        "doc_id", F.col("r.term").alias("term"), F.col("r.tf").alias("tf")
    )


def doc_freqs(tf):
    """A2: df(t) = distinct docs containing t — count over the (doc_id,
    term)-unique tf table, so a plain count, no countDistinct shuffle."""
    from pyspark.sql import functions as F

    return tf.groupBy("term").agg(F.count("*").alias("df"))


def idf_table(dfreq, n_docs: int, epsilon: float = BM25_EPSILON):
    """A5: two-pass epsilon-floored IDF (SURVEY.md §4.3 item 3).

    Pass 1 computes raw idf per term; pass 2 needs the global mean of raw
    idf (a one-row aggregate collected to the driver) to floor negatives
    at epsilon * avg_idf. Returns (idf DataFrame, avg_idf scalar).
    """
    from pyspark.sql import functions as F

    raw = dfreq.withColumn(
        "idf_raw",
        F.log(F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        - F.log(F.col("df") + F.lit(0.5)),
    )
    # an exact decimal sum: the mean does not depend on the order in
    # which partial aggregates merge, so it is the same for any layout
    avg_idf = float(
        raw.agg(F.avg(F.col("idf_raw").cast("decimal(38,18)"))).first()[0] or 0.0
    )
    eps = epsilon * avg_idf
    idf = raw.withColumn(
        "idf",
        F.when(F.col("idf_raw") < 0, F.lit(eps)).otherwise(F.col("idf_raw")),
    )
    return idf, avg_idf


def build_index_from(
    docs_with_id,
    text_col: str = "content",
    params: BM25Params | None = None,
    use_pandas_udf: bool = True,
    cache: bool = True,
    tf_impl: str = "auto",
    tokenizer=None,
) -> InvertedIndex:
    """Index build over ANY table that already carries a unique doc_id
    bigint column + a text column (e.g. the testdata `documents` table).
    The InvertedIndex.docs keeps every input column except the raw text
    and tokens (column pruning — content is never carried past here).

    Tokenization happens exactly ONCE: the only consumer of the token
    arrays is the tf aggregation. doc_len is recovered as sum(tf) per doc
    (identical to size(tokens) by construction — tf counts every kept
    token), and the docs side-table is a tokenize-free projection
    (sha256 + metadata) left-joined to it, doc_len 0 for token-less docs.
    This matters at scale: token arrays are ~the corpus size again and
    are never cached or re-derived; the old shape re-tokenized the
    corpus once per downstream action."""
    from pyspark.sql import functions as F

    params = params or BM25Params()
    # widen a thin scan before the tokenize+tf pipeline (single-row-group
    # inputs otherwise run the whole build on 1-2 cores). Downstream
    # float reproducibility: per-doc scores fold in pinned term order
    # (query.score_terms), doc_len/df/tf are integers, and the sf0.001 +
    # sf0.01 gate sweep confirms the avg_idf partial-aggregation layout
    # shift is absorbed by the two-pass epsilon floor's rounded consumers
    # (the driver checks correctness at exactly these SFs).
    from ..plans.layout import widen_for_kernel

    tok_in = widen_for_kernel(
        docs_with_id.select(
            "doc_id", *([text_col] if text_col != "doc_id" else [])
        )
    )
    tok = tokenized_docs(
        tok_in,
        text_col=text_col,
        use_pandas_udf=use_pandas_udf,
        tokenizer=tokenizer,
    )
    tf = term_frequencies(tok, impl=tf_impl)
    if cache:
        tf = tf.cache()
    meta = docs_with_id
    if "content_sha256" not in meta.columns:
        meta = meta.withColumn("content_sha256", F.sha2(F.col(text_col), 256))
    doc_lens = tf.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("doc_len"))
    docs = (
        meta.drop(text_col)
        .join(doc_lens, "doc_id", "left")
        .withColumn("doc_len", F.coalesce(F.col("doc_len"), F.lit(0)))
    )
    if cache:
        docs = docs.cache()
    row = docs.agg(F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")).first()
    n_docs, avgdl = int(row["n_docs"]), float(row["avgdl"] or 0.0)
    idf, avg_idf = idf_table(doc_freqs(tf), n_docs, params.epsilon)
    if cache:
        idf = idf.cache()
    return InvertedIndex(
        docs=docs,
        tf=tf,
        idf=idf,
        n_docs=n_docs,
        avgdl=avgdl,
        avg_idf=avg_idf,
        params=params,
    )


def build_index_fields(
    docs_with_id,
    field_weights: dict,
    params: BM25Params | None = None,
    cache: bool = True,
    tf_impl: str = "auto",
    tokenizer=None,
) -> InvertedIndex:
    """BM25F multi-field index (Robertson & Zaragoza's simplified BM25F;
    Elasticsearch `combined_fields`): the fields are treated as ONE
    combined field where each field's term occurrences count
    `field_weights[f]` times — per-field tf is blended BEFORE the BM25
    saturation, which is what distinguishes BM25F from naively summing
    per-field BM25 scores (a term saturates once across fields, so two
    mediocre fields cannot outscore one strong one):

        tf_blend(t, d)  = Σ_f  w_f · tf_f(t, d)
        dl_blend(d)     = Σ_f  w_f · len_f(d)     (= Σ_t tf_blend(t, d))
        score(q, d)     = Σ_t idf(t) · tf_blend·(k1+1)
                              / (tf_blend + k1·(1 − b + b·dl_blend/avgdl_blend))

    with df(t) = #docs containing t in ANY field and the same two-pass
    epsilon-floored idf as the single-field build.

    Returns a standard InvertedIndex whose tf and doc_len are DOUBLE —
    every downstream consumer (score_terms, topk, the boolean language,
    more_like_this, aggregations) works unchanged, because tf only ever
    enters the score as a double. The reference engine is single-field
    (`/root/reference/preprocessing.py:505-515` indexes one combined
    text blob with no per-field weighting); this is the engine EXTENSION
    a code-search deployment wants (`path^3 + content` makes filename
    hits outrank body hits).

    Scale shape: one tokenize + one tf aggregation PER FIELD (each the
    same plan as the single-field build over that column), one
    unionByName (no shuffle), one (doc_id, term) groupBy — the blend
    shuffle replaces the single-field build's none, but it is keyed by
    (doc_id, term) so hot terms do not skew it. Weights that are exact
    binary fractions (1.0, 2.0, 0.5, 2.5 …) keep every product and the
    ≤|fields|-term sums exact in double, so results are bit-stable
    across partitionings; arbitrary weights are stable to float
    ulp-noise (the 6dp rounded-rank rule absorbs it)."""
    from pyspark.sql import functions as F

    if not field_weights:
        raise ValueError("field_weights must name at least one column")
    params = params or BM25Params()
    for fcol in sorted(field_weights):
        w = float(field_weights[fcol])
        if w <= 0:
            raise ValueError(f"field weight must be positive: {fcol}={w}")
        if fcol not in docs_with_id.columns:
            raise ValueError(
                f"unknown field column {fcol!r} — input has: "
                f"{sorted(docs_with_id.columns)}"
            )
    # same thin-scan widening rationale as build_index_from: the
    # per-field tokenize+tf pipelines are the cost, and the sf0.001/
    # sf0.01 gate sweep pins that rounded consumers absorb the
    # avg_idf partial-layout shift
    from ..plans.layout import widen_for_kernel

    tok_src = widen_for_kernel(
        docs_with_id.select("doc_id", *sorted(field_weights))
    )
    blended = None
    for fcol in sorted(field_weights):
        w = float(field_weights[fcol])
        tok = tokenized_docs(tok_src, text_col=fcol, tokenizer=tokenizer)
        tf_f = term_frequencies(tok, impl=tf_impl).select(
            "doc_id", "term", (F.col("tf") * F.lit(w)).alias("wtf")
        )
        blended = tf_f if blended is None else blended.unionByName(tf_f)
    tf = blended.groupBy("doc_id", "term").agg(F.sum("wtf").alias("tf"))
    if cache:
        tf = tf.cache()
    else:
        # the blended tf is consumed by FIVE downstream subtrees (doc_lens,
        # the stats aggregate, doc_freqs→avg_idf, and the caller's scoring
        # join references tf + idf + docs — each a full copy of this
        # pipeline when uncached). Materialize it exactly ONCE with an
        # eager localCheckpoint (guide §5: cheap lineage cut): unlike
        # .cache() this never registers with the CacheManager, so a
        # repeated cold build re-executes the whole pipeline instead of
        # silently reusing a previous run's plan-equality cache entry.
        tf = tf.localCheckpoint(eager=True)
    meta = docs_with_id
    if "content_sha256" not in meta.columns:
        # per-row invariant over the COMBINED content: fields joined by
        # NUL in deterministic (sorted-name) order
        meta = meta.withColumn(
            "content_sha256",
            F.sha2(
                F.concat_ws("\x00", *[F.col(c) for c in sorted(field_weights)]),
                256,
            ),
        )
    doc_lens = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("double").alias("doc_len")
    )
    docs = (
        meta.drop(*field_weights)
        .join(doc_lens, "doc_id", "left")
        .withColumn("doc_len", F.coalesce(F.col("doc_len"), F.lit(0.0)))
    )
    if cache:
        docs = docs.cache()
    row = docs.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    ).first()
    n_docs, avgdl = int(row["n_docs"]), float(row["avgdl"] or 0.0)
    idf, avg_idf = idf_table(doc_freqs(tf), n_docs, params.epsilon)
    if cache:
        idf = idf.cache()
    return InvertedIndex(
        docs=docs,
        tf=tf,
        idf=idf,
        n_docs=n_docs,
        avgdl=avgdl,
        avg_idf=avg_idf,
        params=params,
    )


def build_index(
    corpus,
    params: BM25Params | None = None,
    use_pandas_udf: bool = True,
    cache: bool = True,
    tf_impl: str = "auto",
) -> InvertedIndex:
    """End-to-end logical index build over an input_hint-shaped corpus
    (repo, path, commit, lang, content): assigns the canonical doc_id,
    then delegates. The compressed block-max postings layer is added by
    operators/postings.py on top of this."""
    return build_index_from(
        with_doc_ids(corpus),
        text_col="content",
        params=params,
        use_pandas_udf=use_pandas_udf,
        cache=cache,
        tf_impl=tf_impl,
    )
