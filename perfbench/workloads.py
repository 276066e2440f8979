"""The benchmark's workloads, their seeded inputs and their output
checks.

Every workload is a closed loop with one client thread: the next
operation is sent only after the previous answer arrived, because a CLI
or UI user waits for each answer. The seed picks the corpus row range
(`gen_row(i)` is a pure function of `i`), the queries and the appended
rows, so the oracle can rebuild every input from the seed alone.

  interactive  `cmd_search` calls (free text, quoted phrases,
               -exclusions) over indexes built in set-up; the set-up's
               cold `build_persisted_index` is the bulk build.
  ingest       append a batch → `load_index()` → `topk` for a tag planted
               only in that batch; `compact()` every COMPACT_EVERY batches.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import types

from local_search_engine_spark.functions.tokenize import tokenize_py
from local_search_engine_spark.sources.corpus import (
    HOT_TERMS,
    MED_TERMS,
    N_KW,
    gen_row,
    has_rare,
    rare_tag,
)

N_DOCS = 500  # corpus rows per run; every working set fits in RAM
ROW_STRIDE = 100_000  # seed s indexes rows [s * ROW_STRIDE, + N_DOCS)
K = 10
# interactive: one cycle of the query mix (60% free text, 20% quoted
# phrase, 20% exclusion); every run sends whole cycles
SEARCH_MIX = ("free", "free", "phrase", "free", "exclusion")
INGEST_BATCH = 50  # ingest: new rows per append
# ingest: compact() before batches 1 (set-up), 4, 7, ...; the loop starts
# at batch 2, so each of its cycles is append, append, compact
COMPACT_EVERY = 3
INGEST_CHECK_SAMPLE = 5  # ingest: end-of-run oracle queries
SCORE_TOL = 1e-9


class CheckFailed(Exception):
    """An operation returned a wrong answer."""


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (statistics' inclusive method)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(q) - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _r, _d, files in os.walk(path))


# --------------------------------------------------------------------------
# inputs


def corpus_rows(seed: int, n_docs: int) -> list[dict]:
    start = seed * ROW_STRIDE
    return [gen_row(i) for i in range(start, start + n_docs)]


def write_corpus(rows: list[dict], path: str, parts: int) -> None:
    """Write the rows as `parts` Parquet files of the input_hint table
    shape, straight from Python (no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // parts)
    for p in range(parts):
        chunk = rows[p * step : (p + 1) * step]
        table = pa.table({c: [r[c] for r in chunk] for c in ("repo", "path", "commit", "lang", "content")})
        pq.write_table(table, os.path.join(path, f"part-{p:05d}.parquet"))


def query_vocab(seed: int, n_docs: int) -> dict[str, list[str]]:
    start = seed * ROW_STRIDE
    rare = [f"uniq_{rare_tag(i)}" for i in range(start, start + n_docs) if has_rare(i)]
    return {
        "hot": list(HOT_TERMS),
        "med": list(MED_TERMS),
        "kw": [f"kw{i}" for i in range(N_KW)],
        "rare": rare or ["uniq_00000000"],
    }


def search_query(rng: random.Random, kind: str, rows: list[dict], vocab: dict) -> str:
    """One search-box query of the given kind. Phrases are adjacent
    token pairs taken from a corpus row, so they always match."""
    free = " ".join(rng.choice(vocab["med"] + vocab["kw"]) for _ in range(rng.randint(2, 3)))
    if kind == "free":
        return free
    if kind == "exclusion":
        return f"{free} -{rng.choice(vocab['kw'])}"
    while True:
        toks = tokenize_py(rng.choice(rows)["content"])
        j = rng.randrange(len(toks) - 1)
        a, b = toks[j], toks[j + 1]
        if not (a.startswith("u") and len(a) == 12) and not (b.startswith("u") and len(b) == 12):
            return f'"{a} {b}" {rng.choice(vocab["med"])}'


def planted_tag(seed: int, batch_id: int) -> str:
    return "uniq_" + hashlib.sha256(f"ingest:{seed}:{batch_id}".encode()).hexdigest()[:8]


# --------------------------------------------------------------------------
# output checks (pure Python; the benchmark's test corrupts rows to pin them)


def sorted_rows(rows: list[dict]) -> list[dict]:
    """The engine's doc_id contract: 0-based rank by (repo, path, commit)."""
    return sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))


def check_ranked(rows: list[tuple[int, int, float]], k: int) -> None:
    """≤k rows, dense ranks 1..n, scores non-increasing."""
    if len(rows) > k:
        raise CheckFailed(f"{len(rows)} rows > k={k}")
    if [r[0] for r in rows] != list(range(1, len(rows) + 1)):
        raise CheckFailed(f"ranks not dense: {[r[0] for r in rows]}")
    if any(rows[i][2] < rows[i + 1][2] for i in range(len(rows) - 1)):
        raise CheckFailed("scores not in descending order")


def check_against_oracle(got: list[tuple[int, int, float]], want: list[tuple[int, int, float]]) -> None:
    """Rank-identical doc ids and |Δscore| ≤ SCORE_TOL."""
    if [(r, d) for r, d, _ in got] != [(r, d) for r, d, _ in want]:
        raise CheckFailed(f"ranking differs from oracle: {got[:3]} vs {want[:3]}")
    for (_, d, s), (_, _, w) in zip(got, want):
        if abs(s - w) > SCORE_TOL:
            raise CheckFailed(f"doc {d}: score {s!r} vs oracle {w!r}")


def check_search(result: dict, k: int, phrases: list[str], excluded: list[str], content_by_file: dict) -> None:
    """cmd_search output: ≤k rows, dense ranks, every quoted phrase in
    each hit, no excluded token in any hit."""
    hits = result["results"]
    if len(hits) > k:
        raise CheckFailed(f"{len(hits)} hits > k={k}")
    if [h["rank"] for h in hits] != list(range(1, len(hits) + 1)):
        raise CheckFailed(f"ranks not dense: {[h['rank'] for h in hits]}")
    for h in hits:
        toks = tokenize_py(content_by_file[h["file"]])
        for ph in phrases:
            pt = tokenize_py(ph)
            if not any(toks[i : i + len(pt)] == pt for i in range(len(toks) - len(pt) + 1)):
                raise CheckFailed(f"{h['file']} lacks phrase {ph!r}")
        bad = set(excluded) & set(toks)
        if bad:
            raise CheckFailed(f"{h['file']} holds excluded {sorted(bad)}")


def search_terms(query: str) -> tuple[list[str], list[str]]:
    """(quoted phrases, excluded tokens) of a search-box query."""
    import re

    excl = [t for w in re.findall(r'(?:^|\s)-([^\s"]+)', query) for t in tokenize_py(w)]
    return re.findall(r'"([^"]+)"', query), excl


# --------------------------------------------------------------------------
# workloads


class Workload:
    """set_up() prepares state; prepare() makes the next operation's
    input, untimed; op() runs that operation and returns the number of
    items it completed (raising CheckFailed on a wrong answer) — a
    `replayable` workload can run op() twice on one input; `kind` labels
    the prepared operation; the loop sends whole cycles of `cycle_ops`
    operations, so every run has the same mix of kinds;
    final_check() re-checks a sample against the oracle after the loop
    and returns (queries checked, queries wrong)."""

    unit = "op"
    kind = "op"
    replayable = True
    cycle_ops = 1
    bm25_dir = None  # persisted BM25 index, when the workload has one
    state_dir = None  # incremental index state, when the workload has one

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(ctx.seed)
        self.rows = ctx.rows
        self.vocab = query_vocab(ctx.seed, len(ctx.rows))

    def prepare(self):
        """Untimed input generation for the next op()."""

    def index_bytes(self) -> int:
        raise NotImplementedError


class Interactive(Workload):
    unit = "search"
    cycle_ops = len(SEARCH_MIX)

    def set_up(self):
        self.root = os.path.join(self.ctx.work, "search")
        self.bm25_dir = os.path.join(self.root, "bm25")
        self.content_by_file = {f"{r['repo']}:{r['path']}": r["content"] for r in self.rows}
        self.n = 0
        # the first call builds the BM25, ANN and positional indexes
        self._search(search_query(self.rng, "phrase", self.rows, self.vocab))

    def _search(self, query: str) -> dict:
        args = types.SimpleNamespace(index=self.root, query=query, k=K)
        out = self.ctx.code_search.cmd_search(self.spark, self.ctx.corpus, args)
        phrases, excluded = search_terms(query)
        check_search(out, K, phrases, excluded, self.content_by_file)
        return out

    def prepare(self):
        self.kind = SEARCH_MIX[self.n % len(SEARCH_MIX)]
        self.n += 1
        self.query = search_query(self.rng, self.kind, self.rows, self.vocab)

    def op(self) -> int:
        self._search(self.query)
        return 1

    def final_check(self) -> tuple[int, int]:
        return 0, 0  # every search is checked as it returns

    def index_bytes(self) -> int:
        return dir_bytes(self.root)


class Ingest(Workload):
    unit = "doc"
    replayable = False  # a re-sent batch id is a committed no-op
    cycle_ops = COMPACT_EVERY

    def set_up(self):
        from local_search_engine_spark.operators.build import with_doc_ids
        from local_search_engine_spark.streaming.merge import PersistedIndexState

        self.state_dir = os.path.join(self.ctx.work, "state")
        self.state = PersistedIndexState(self.spark, self.state_dir)
        base = with_doc_ids(self.ctx.corpus).select("doc_id", "content")
        self.state.append_batch(base, 0)
        self.state.load_index()
        self.base_bytes = dir_bytes(self.state_dir)
        self.docs = [r["content"] for r in sorted_rows(self.rows)]  # by doc_id
        self.next_row = self.ctx.seed * ROW_STRIDE + len(self.rows)
        self.batch_id = 0
        # one untimed-in-the-loop cycle (batch 1, with compaction) warms
        # every code path the loop runs
        self.prepare()
        self.op()

    def prepare(self):
        """Untimed: generate the next batch's rows and plant its tag."""
        self.batch_id += 1
        self.kind = "compact" if self.batch_id % COMPACT_EVERY == 1 else "append"
        first = len(self.docs)
        contents = [gen_row(i)["content"] for i in range(self.next_row, self.next_row + INGEST_BATCH)]
        self.next_row += INGEST_BATCH
        tag = planted_tag(self.ctx.seed, self.batch_id)
        plant = self.rng.randrange(INGEST_BATCH)
        contents[plant] += f"\n{tag} marker"
        df = self.spark.createDataFrame(
            [(first + j, c) for j, c in enumerate(contents)], "doc_id long, content string"
        )
        self.pending = (df, contents, tag, first + plant)

    def op(self) -> int:
        from local_search_engine_spark.operators.query import topk

        df, contents, tag, want = self.pending
        if self.kind == "compact":
            self.state.compact()
        self.state.append_batch(df, self.batch_id)
        idx = self.state.load_index()
        hits = [(r["rank"], r["doc_id"], r["score"]) for r in topk(idx, tag, K).collect()]
        self.docs.extend(contents)
        if [d for _, d, _ in hits] != [want]:
            raise CheckFailed(f"batch {self.batch_id}: tag {tag} gave {hits}, want doc {want}")
        return INGEST_BATCH

    def final_check(self) -> tuple[int, int]:
        from local_search_engine_spark.operators.query import run_query_set
        from oracle import BM25Oracle

        idx = self.state.load_index()
        oracle = BM25Oracle([tokenize_py(c) for c in self.docs])
        rng = random.Random(self.ctx.seed + 2)
        pool = [t for terms in self.vocab.values() for t in terms]
        sample = [(q, " ".join(rng.choice(pool) for _ in range(rng.randint(1, 4))), K)
                  for q in range(INGEST_CHECK_SAMPLE)]
        by_q: dict[int, list] = {}
        for r in run_query_set(idx, sample).collect():
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        bad = 0
        for qid, text, k in sample:
            got = sorted(by_q.get(qid, []))
            try:
                check_against_oracle(got, oracle.topk(text, k))
            except CheckFailed as e:
                self.ctx.log(f"ingest oracle check failed for {text!r}: {e}")
                bad += 1
        return INGEST_CHECK_SAMPLE, bad

    def index_bytes(self) -> int:
        return self.base_bytes


WORKLOADS = {"interactive": Interactive, "ingest": Ingest}


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
