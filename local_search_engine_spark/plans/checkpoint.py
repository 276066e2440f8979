"""Resumable index build: manifest-keyed stage/partition checkpoints +
lineage and token/posting-count metrics (north-rule requirement;
SURVEY.md §4.3 item 5).

Spark's own df.checkpoint() is not resumable across applications, so
resumability is manifest-based: every stage (and, inside the postings
stage, every shard GROUP) writes idempotently to its own directory and
records (stage, group, input_fingerprint, rows, wall_ms) in
_manifest.json. A re-run with the same fingerprint skips completed
units; a changed fingerprint invalidates everything downstream.

Replaces the reference's save_indices/load_indices JSON+pickle
persistence (reference preprocessing.py:597-671) with schema-checked
Parquet, and its incremental corpus append (reference
retriever.py:268-310) with deterministic re-build semantics (see
streaming/merge.py for the append path).

Layout under index_dir/:
  _manifest.json        stage/group completion + lineage
  _metrics.jsonl        one line per completed unit (run_id, stage, rows, wall_ms)
  stats.json            n_docs, avgdl, avg_idf, params
  docs/                 doc_id, repo, path, commit, lang, content_sha256, doc_len
  tf/                   doc_id, term, tf
  idf/                  term, df, idf_raw, idf
  postings/group=G/     compressed blocks (term_bucket, part_id, block_id, ...)
  shard_meta/           part_id, first_doc_id, n_docs, doc_lens
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

# path -> (session, stamp, DataFrame): the last open_parquet of each
# directory in this process, replaced on every re-open
_OPENED: dict[str, tuple] = {}


def _dir_stamp(path: str) -> tuple:
    """(dir, inode, mtime_ns) of `path` and of every directory under it,
    from one walk. Adding, deleting or renaming a file changes its
    directory's mtime, and an overwrite recreates the directory."""
    out = []
    for d, _subdirs, _files in os.walk(path):
        st = os.stat(d)
        out.append((d, st.st_ino, st.st_mtime_ns))
    return tuple(out)


def open_parquet(spark, path: str):
    """`spark.read.parquet(path)`, opened once per process and session
    while the directory tree under `path` is unchanged.

    A reused DataFrame keeps its file listing and inferred schema, so a
    repeat open starts no listing or schema-inference job, and filters on
    partition columns still prune against the kept listing. Any
    directory in the tree changing (see `_dir_stamp`) re-opens the path.
    The one assumption: writers add, delete or replace files and never
    modify a file in place. Paths that are not local directories are
    read every time."""
    key = os.path.abspath(path)
    if not os.path.isdir(key):
        return spark.read.parquet(path)
    # stamp BEFORE reading: a change racing the read leaves an older
    # stamp beside a newer listing, which only costs one extra re-open
    stamp = _dir_stamp(key)
    hit = _OPENED.get(key)
    if hit is not None and hit[0] is spark and hit[1] == stamp:
        return hit[2]
    df = spark.read.parquet(path)
    _OPENED[key] = (spark, stamp, df)
    return df


class Manifest:
    def __init__(self, index_dir: str):
        self.dir = index_dir
        self.path = os.path.join(index_dir, "_manifest.json")
        self.metrics_path = os.path.join(index_dir, "_metrics.jsonl")
        self.data = {"units": {}}
        self._lock = threading.Lock()  # stages write concurrently
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.data = json.load(f)

    def done(self, unit: str, fingerprint: str) -> bool:
        u = self.data["units"].get(unit)
        return bool(u and u["fingerprint"] == fingerprint and u["status"] == "done")

    def mark(self, unit: str, fingerprint: str, run_id: str, **metrics) -> None:
        with self._lock:
            self.data["units"][unit] = {
                "fingerprint": fingerprint,
                "status": "done",
                "run_id": run_id,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                **metrics,
            }
            os.makedirs(self.dir, exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.data, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
            with open(self.metrics_path, "a") as f:
                f.write(json.dumps({"run_id": run_id, "unit": unit, **metrics}) + "\n")


def corpus_fingerprint(corpus, params, text_col: str | None = None):
    """Cheap-but-honest input lineage: row count + order-independent XOR
    of per-row key hashes + build params. One extra scan at build start.
    Keys on (repo, path, commit) for input_hint corpora; for
    pre-identified tables the unique doc_id IS the key.

    With text_col set, returns (key_fp, content_fp) from the SAME single
    scan: content_fp additionally XORs the row's content into the hash.
    Because doc-id assignment is a deterministic function of the keys
    and every stage/group fingerprint is a deterministic function of
    (ids, content, layout params), an unchanged content_fp certifies a
    completed build outright — the whole-resume fast path."""
    from pyspark.sql import functions as F

    key = (
        "xxhash64(repo, path, commit)"
        if "repo" in corpus.columns
        else "xxhash64(doc_id)"
    )
    aggs = [F.count("*").alias("n"), F.expr(f"bit_xor({key})").alias("h")]
    if text_col is not None:
        ckey = key[:-1] + f", {text_col})"
        aggs.append(F.expr(f"bit_xor({ckey})").alias("ch"))
    row = corpus.agg(*aggs).first()
    fp = f"n={row['n']};h={row['h']};k1={params.k1};b={params.b};eps={params.epsilon}"
    if text_col is None:
        return fp
    return fp, f"{fp};ch={row['ch']}"


def build_persisted_index(
    spark,
    corpus,
    index_dir: str,
    params=None,
    docs_per_shard: int = 50_000,
    block_span: int | None = None,
    n_buckets: int = 64,
    n_groups: int = 8,
    only_groups: list[int] | None = None,
    pre_identified: bool = False,
    text_col: str = "content",
):
    """Build (or resume) the full compressed index at index_dir.

    only_groups: restrict the postings stage to a subset of shard groups
    — used by the resume test to simulate a killed build; production use
    is per-group retry isolation.

    pre_identified: the corpus already carries a unique doc_id bigint +
    text_col (e.g. the testdata `documents` table) — skip the canonical
    (repo, path, commit) id assignment and index it as-is.

    Returns the manifest (with per-unit skip/build lineage).
    """
    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    from ..functions.codec import DEFAULT_BLOCK_SPAN
    from ..operators.build import BM25Params, build_index_from
    from ..operators.postings import build_postings

    params = params or BM25Params()
    span = block_span or DEFAULT_BLOCK_SPAN
    os.makedirs(index_dir, exist_ok=True)
    man = Manifest(index_dir)
    run_id = uuid.uuid4().hex[:12]
    fp, content_fp = corpus_fingerprint(corpus, params, text_col=text_col)
    probe_layout = (
        f"dps={docs_per_shard};span={span};nb={n_buckets};ng={n_groups};"
        "analyzer=default"
    )
    probe_fp = f"{content_fp};{probe_layout}"
    # a unit is only as good as its data: every unit but the probe
    # writes the directory it is named after, so forget units whose
    # directory is gone (and the probe with them) and rebuild those
    gone = [
        u
        for u in man.data["units"]
        if u != "resume_probe" and not os.path.isdir(os.path.join(index_dir, u))
    ]
    if gone:
        for u in gone + ["resume_probe"]:
            man.data["units"].pop(u, None)
    # whole-build fast path: a build previously COMPLETED over exactly
    # this (keys, content, params, layout) — one scan-agg proves nothing
    # changed, so skip even the id-assignment jobs. Partial builds
    # (only_groups) never mark this unit.
    if man.done("resume_probe", probe_fp):
        return man

    def stage(unit: str, fn, fingerprint: str | None = None):
        fpr = fingerprint or fp
        if man.done(unit, fpr):
            return False
        t0 = time.time()
        metrics = fn() or {}
        man.mark(unit, fpr, run_id, wall_ms=int((time.time() - t0) * 1000), **metrics)
        return True

    def submit(pool, *args):
        # each task runs under its own copy of the caller's local
        # properties: its jobs carry the calling operator's job group,
        # and concurrent tasks never share one properties object
        return pool.submit(inheritable_thread_target(spark)(stage), *args)

    # Identity (doc_id + content_sha256) is computable WITHOUT tokenizing
    # — and group fingerprints depend on nothing else — so resolve ids
    # first and probe the manifest before constructing the index: an
    # unchanged corpus (every unit a hit) must not pay the full
    # tokenize+tf build just to discover there is nothing to do. This is
    # the cmd_search query path's per-invocation resume check.
    from ..operators.build import with_doc_ids

    if pre_identified:
        ids_df = corpus
        if "content_sha256" not in ids_df.columns:
            ids_df = ids_df.withColumn(
                "content_sha256", F.sha2(F.col(text_col), 256)
            )
    else:
        ids_df = with_doc_ids(corpus)

    layout = probe_layout
    gfp: dict[int, str] = {}
    for r in (
        ids_df.select(
            F.pmod(
                (F.col("doc_id") / F.lit(docs_per_shard)).cast("long"),
                F.lit(n_groups),
            ).alias("g"),
            "doc_id",
            "content_sha256",
        )
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(doc_id, content_sha256))").alias("h"),
        )
        .collect()
    ):
        gfp[int(r["g"])] = f"n={r['n']};h={r['h']};{layout}"
    for g in range(n_groups):
        gfp.setdefault(g, f"n=0;h=0;{layout}")

    group_ids = list(only_groups) if only_groups is not None else list(range(n_groups))
    if all(man.done(u, fp) for u in ("docs", "tf", "idf", "shard_meta")) and all(
        man.done(f"postings/group={g}", gfp[g]) for g in group_ids
    ):
        if only_groups is None:
            # upgrade older manifests: certify the completed build so
            # the next invocation takes the one-scan fast path
            man.mark("resume_probe", probe_fp, run_id)
        return man

    idx = build_index_from(ids_df, text_col=text_col, params=params, cache=True)

    def write_docs():
        idx.docs.write.mode("overwrite").parquet(os.path.join(index_dir, "docs"))
        return {"rows": idx.n_docs}

    def write_tf():
        idx.tf.write.mode("overwrite").parquet(os.path.join(index_dir, "tf"))
        n_postings = idx.tf.count()
        n_tokens = idx.docs.agg(F.sum("doc_len")).first()[0]
        return {"rows": n_postings, "n_tokens": int(n_tokens or 0)}

    def write_idf():
        idx.idf.write.mode("overwrite").parquet(os.path.join(index_dir, "idf"))
        with open(os.path.join(index_dir, "stats.json"), "w") as f:
            json.dump(
                {
                    "n_docs": idx.n_docs,
                    "avgdl": idx.avgdl,
                    "avg_idf": idx.avg_idf,
                    "k1": params.k1,
                    "b": params.b,
                    "epsilon": params.epsilon,
                    "docs_per_shard": docs_per_shard,
                    "block_span": span,
                    "n_buckets": n_buckets,
                    "bucket_hash": "h32",
                    "n_groups": n_groups,
                },
                f,
            )
        return {"rows": idx.idf.count()}

    postings, shard_meta = build_postings(
        idx, docs_per_shard=docs_per_shard, block_span=span, n_buckets=n_buckets
    )

    def write_shard_meta():
        shard_meta.write.mode("overwrite").parquet(
            os.path.join(index_dir, "shard_meta")
        )
        return {"rows": shard_meta.count()}

    # The four side-table writes are independent of each other — run them
    # as CONCURRENT Spark jobs (Spark's scheduler interleaves their
    # stages across executors; sequential submission left executors idle
    # between small jobs, a measured ~2x overhead at 8 executors).
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [
            submit(pool, "docs", write_docs),
            submit(pool, "tf", write_tf),
            submit(pool, "idf", write_idf),
            submit(pool, "shard_meta", write_shard_meta),
        ]
        for f in futs:
            f.result()

    # Per-partition-group checkpointing of the heavy stage: group =
    # part_id % n_groups; each group is its own idempotent write +
    # manifest unit, so a killed build resumes at group granularity.
    #
    # Each group is keyed on its OWN content fingerprint, not the global
    # corpus fingerprint: posting blocks are idf/avgdl-free by design
    # (operators/postings.py), so a group's output depends only on its
    # shards' (doc_id, content) plus the layout params. After an append
    # that only adds new doc ranges, every untouched group is a manifest
    # HIT and only groups containing changed shards re-encode — the
    # incremental-maintenance path. (The cheap side tables — docs / tf /
    # idf / stats / shard_meta — stay keyed on the global fingerprint:
    # idf and stats genuinely change with every append; on Iceberg these
    # become MERGE-maintained table updates instead of rewrites.)
    # "analyzer=default" is part of the fingerprint key ON PURPOSE even
    # though build_persisted_index only builds with the pinned default
    # tokenizer today: if a tokenizer option (already supported by
    # build_index_from) is ever threaded through here, the identifier
    # must change with it and every group fingerprint auto-invalidates —
    # without this, switching analyzers would silently reuse stale
    # postings groups (r03 ADVICE). Group fingerprints were computed
    # up-front (from the tokenize-free id projection) for the resume
    # probe; the values are identical to the old idx.docs derivation.
    groups = [g for g in group_ids if not man.done(f"postings/group={g}", gfp[g])]
    group_rows: dict[int, int] = {}
    if groups:
        # materialize the encode stage once; group writes just filter it
        postings = postings.persist()
        # all per-group posting-block counts in ONE job (vs a re-read +
        # count per group, which costs a full extra job each)
        for r in (
            postings.groupBy(F.pmod(F.col("part_id"), F.lit(n_groups)).alias("g"))
            .count()
            .collect()
        ):
            group_rows[int(r["g"])] = int(r["count"])
    def write_group(g):
        gdir = os.path.join(index_dir, "postings", f"group={g}")
        part = postings.filter(F.pmod(F.col("part_id"), F.lit(n_groups)) == g)
        # term_bucket as a physical partition column: a query's
        # term-bucket literals prune whole directories at scan time
        # (make_wand_topk n_buckets arg), then Parquet min/max stats
        # on the sorted term column prune row groups within them
        part.write.mode("overwrite").partitionBy("term_bucket").parquet(gdir)
        return {"rows": group_rows.get(g, 0), "group": g}

    # group writes are independent idempotent units — concurrent jobs
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [
            submit(pool, f"postings/group={g}", lambda g=g: write_group(g), gfp[g])
            for g in groups
        ]
        for f in futs:
            f.result()

    if groups:
        postings.unpersist()
    idx.docs.unpersist()
    idx.tf.unpersist()
    idx.idf.unpersist()
    if only_groups is None:
        man.mark("resume_probe", probe_fp, run_id)
    return man


def load_index(spark, index_dir: str):
    """Load a persisted index → (InvertedIndex, postings, shard_meta,
    stats dict). Query with operators.wand.make_wand_topk.

    The five tables come from `open_parquet`: a repeat load of an
    unchanged index reuses their file listings and schemas and starts no
    Spark job, while a rebuild, append or deletion under index_dir opens
    them afresh. This assumes writers add, delete or replace files and
    never modify one in place. stats.json is re-read on every call."""
    from ..operators.build import BM25Params, InvertedIndex

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    params = BM25Params(k1=stats["k1"], b=stats["b"], epsilon=stats["epsilon"])
    docs = open_parquet(spark, os.path.join(index_dir, "docs"))
    tf = open_parquet(spark, os.path.join(index_dir, "tf"))
    idf = open_parquet(spark, os.path.join(index_dir, "idf"))
    postings = open_parquet(spark, os.path.join(index_dir, "postings"))
    shard_meta = open_parquet(spark, os.path.join(index_dir, "shard_meta"))
    idx = InvertedIndex(
        docs=docs,
        tf=tf,
        idf=idf,
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        avg_idf=stats["avg_idf"],
        params=params,
        postings=postings,
    )
    return idx, postings, shard_meta, stats
