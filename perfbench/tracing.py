"""Span recorder, layer instrumentation and process-tree memory sampler.

Spans are kept in memory and written once, when the run ends. Each span
sets its own Spark job group on entry and restores the parent's on exit,
so `statusTracker().getJobIdsForGroup` attributes every job to the
innermost span that launched it from the calling thread. Jobs launched
from other threads (the `ThreadPoolExecutor` writes in
`plans/checkpoint.py`) do not inherit the group; they are counted as
unattributed instead of being dropped.

The recorder only talks to the status tracker and local properties, so
it starts no Spark job of its own (the benchmark's test pins this).
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time
from contextlib import contextmanager

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class SpanRecorder:
    """In-memory spans: id, name, layer, parent, start, end, plus the
    job/stage/task counts of the span's own job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.active = False  # layer wrappers record only while True

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".")[0],
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-span-{rec['id']}"
        saved = None
        if self.sc is not None:
            saved = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                for k, v in zip(_GROUP_KEYS, saved):
                    self.sc.setLocalProperty(k, v)
                self._count_jobs(rec, group)

    def _count_jobs(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        rec["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            rec["stages"] += len(info.stageIds)
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    rec["tasks"] += st.numTasks

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals
        (children run sequentially in the calling thread, but the union
        keeps this right if they ever overlap)."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(rec))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def descendants(self, rec: dict) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    out.append(s)
                    todo.append(s["id"])
        return out


def _force(value, cached: list):
    """Materialize a lazy result so its span holds its own work: cache +
    count every DataFrame in the value (top level, in a tuple, or a
    field of a dataclass such as InvertedIndex). Returns (value, rows of
    the first DataFrame or None)."""
    from pyspark.sql import DataFrame

    def one(df):
        if not df.is_cached:
            df = df.cache()
            cached.append(df)
        return df, df.count()

    if isinstance(value, DataFrame):
        return one(value)
    if isinstance(value, tuple):
        out, first = [], None
        for v in value:
            if isinstance(v, DataFrame):
                v, n = one(v)
                first = n if first is None else first
            out.append(v)
        return tuple(out), first
    if dataclasses.is_dataclass(value) and not isinstance(value, type):
        for f in dataclasses.fields(value):
            v = getattr(value, f.name)
            if isinstance(v, DataFrame):
                setattr(value, f.name, one(v)[0])
        return value, None
    return value, None


class Instrumentation:
    """Wraps public functions of the engine's modules in spans while the
    recorder is active. Wrappers are installed on the module (or class)
    attribute, and the engine imports these names at call time, so calls
    made inside other engine functions are traced too. `restore()` puts
    the originals back."""

    def __init__(self, rec: SpanRecorder):
        self.rec = rec
        self.cached: list = []  # DataFrames the forcing cached
        self._saved: list = []

    def traced(self, fn, name: str, force: bool = False, post=None):
        """`fn` wrapped in a span named `name` while the recorder is
        active; `post(out, span)` may replace or annotate the result."""
        rec, cached = self.rec, self.cached

        def wrapper(*args, **kwargs):
            if not rec.active:
                return fn(*args, **kwargs)
            with rec.span(name) as sp:
                out = fn(*args, **kwargs)
                if force:
                    out, sp["rows"] = _force(out, cached)
                if post is not None:
                    out = post(out, sp)
            return out

        return wrapper

    def install(self, owner, attr: str, wrapper) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, **kw) -> None:
        self.install(owner, attr, self.traced(getattr(owner, attr), name, **kw))

    def release_cache(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        self.release_cache()


def install_layers(inst: Instrumentation, code_search) -> None:
    """Spans around every layer the benchmark reports on."""
    from local_search_engine_spark.operators import (
        build,
        fusion,
        positional,
        postings,
        query,
        similarity,
        snippets,
        wand,
    )
    from local_search_engine_spark.plans import checkpoint
    from local_search_engine_spark.streaming import merge

    def manifest_mtime(args, kwargs):
        index_dir = kwargs.get("index_dir", args[2] if len(args) > 2 else None)
        p = os.path.join(index_dir, "_manifest.json")
        return os.path.getmtime(p) if os.path.exists(p) else None

    orig_bpi = checkpoint.build_persisted_index

    def bpi(*args, **kwargs):
        # a call that leaves the manifest untouched took the resume-probe
        # fast path: it is reported as a probe, anything else as a build
        if not inst.rec.active:
            return orig_bpi(*args, **kwargs)
        before = manifest_mtime(args, kwargs)
        with inst.rec.span("checkpoint.build") as sp:
            out = orig_bpi(*args, **kwargs)
            hit = before is not None and manifest_mtime(args, kwargs) == before
            sp["name"] = "checkpoint.probe" if hit else "checkpoint.build"
        return out

    inst.install(checkpoint, "build_persisted_index", bpi)
    inst.wrap(checkpoint, "load_index", "checkpoint.load_index")
    for fn in ("build_index_from", "tokenized_docs", "term_frequencies"):
        inst.wrap(build, fn, f"build.{fn}", force=True)
    inst.wrap(postings, "build_postings", "postings.build", force=True)

    def bind_wand(q, sp):
        return inst.traced(q, "wand.query", force=True)

    inst.wrap(wand, "make_wand_topk", "wand.bind", post=bind_wand)

    def bind_phrase(q, sp):
        q.matches = inst.traced(q.matches, "positional.matches", force=True)
        return q

    inst.wrap(positional, "make_phrase_topk", "positional.bind", post=bind_phrase)
    inst.wrap(similarity, "srp_lsh_topk_persisted", "similarity.srp_topk", force=True)
    inst.wrap(fusion, "rrf_fuse", "fusion.rrf", force=True)
    inst.wrap(snippets, "best_snippets", "snippets.best", force=True)
    inst.wrap(query, "topk", "query.topk", force=True)
    inst.wrap(merge.PersistedIndexState, "append_batch", "merge.append")
    inst.wrap(merge.PersistedIndexState, "load_index", "merge.refresh")
    inst.wrap(merge.PersistedIndexState, "compact", "merge.compact")

    def count_results(out, sp):
        sp["results"] = len(out["results"])
        return out

    inst.wrap(code_search, "cmd_search", "code_search.search", post=count_results)


class MemorySampler:
    """Peak memory in use by this process and all its descendants (the
    driver JVM and its Python workers).

    Each sample sums the proportional set size of every process in the
    tree from /proc: pages shared between processes — forked Python
    workers, or a JVM child between fork and exec — are split among them
    instead of counted once per process. `jvm_heap()`, when given,
    returns the JVM heap's (in use, committed) bytes; the JVM runs with a
    fixed, pre-touched heap, so its committed part is resident, and is
    replaced in the sum by the part in use. The peak then follows the
    program's heap use rather than the configured heap size or when the
    collector chose to grow it."""

    def __init__(self, interval: float = 0.2, jvm_heap=None):
        self.interval = interval
        self.jvm_heap = jvm_heap
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        parent: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces: ppid follows the last ')'
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            parent.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(parent.get(p, ()))
        return out

    def sample(self) -> int:
        total = 0
        if self.jvm_heap is not None:
            in_use, committed = self.jvm_heap()
            total += in_use - committed
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
