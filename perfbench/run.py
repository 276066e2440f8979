#!/usr/bin/env python3
"""Benchmark of the search engine: one workload per invocation.

    python3 perfbench/run.py --workload {interactive,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, measured with tracing
off; with --trace 1 they are the per-layer ones from a traced run (see
tracing.py), in which traced and untraced operations interleave so the
tracing overhead is measured in the same process. WORKLOADS.md
describes the workloads and defines every metric. The line before it is
the environment record, and .perfbench/out/ keeps the full record with
every span. The exit code is 0 only when every output check passed;
it is 2, with no result line, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "items_per_s": "1/s",
    "index_bytes_per_corpus_byte": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "checkpoint.build_s": "s",
    "checkpoint.build_jobs": "count",
    "checkpoint.probe_s": "s",
    "checkpoint.probe_jobs": "count",
    "checkpoint.load_index_s": "s",
    "checkpoint.manifest_hit_ratio": "ratio",
    "checkpoint.index_bytes": "bytes",
    "build.index_s": "s",
    "build.jobs": "count",
    "postings.build_s": "s",
    "postings.blocks": "count",
    "postings.bytes_per_posting": "bytes",
    "wand.query_s": "s",
    "wand.jobs_per_call": "count",
    "wand.tasks_per_call": "count",
    "similarity.srp_topk_s": "s",
    "similarity.jobs_per_call": "count",
    "fusion.rrf_s": "s",
    "positional.matches_s": "s",
    "snippets.best_s": "s",
    "code_search.self_s": "s",
    "code_search.jobs_per_query": "count",
    "code_search.fetch_ratio": "ratio",
    "merge.append_s": "s",
    "merge.append_jobs": "count",
    "merge.refresh_s": "s",
    "merge.compact_s": "s",
    "merge.state_files": "count",
    "query.topk_s": "s",
    "query.jobs_per_call": "count",
    "unattributed_jobs": "count",
    "trace_overhead_ratio": "ratio",
}

TAIL_PCT = 90  # see op_tail in measure()
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: a high
    value marks a run measured on a contended host."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0


def confine_temp_files(tmp: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    import tempfile

    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None


def import_engine():
    """(code_search module) — exits 2 when the engine is not there."""
    for p in (ROOT, os.path.join(ROOT, "scripts"), os.path.join(ROOT, "tests"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        import code_search  # scripts/code_search.py
        import oracle  # noqa: F401  tests/oracle.py
        import pyspark  # noqa: F401

        import local_search_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    return code_search


def start_spark(tmp: str):
    from local_search_engine_spark.session import get_spark

    cores = nproc()
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": tmp,
            # a fixed, pre-touched heap is resident in full from the start;
            # MemorySampler counts only its used part
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_record() -> dict:
    """Git commit when the checkout is a repository, and always a digest
    of the engine's source files."""
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as f:
                    commit = f.read().strip()
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "scripts", "code_search.py")]
    for r, _d, fs in os.walk(os.path.join(ROOT, "local_search_engine_spark")):
        files += [os.path.join(r, f) for f in fs if f.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def env_record(spark, args, n_rows: int, corpus_bytes: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    conf = spark.conf
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_master": sc.master,
        "cores": sc.defaultParallelism,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "corpus_rows": n_rows,
        "corpus_bytes": corpus_bytes,
        **source_record(),
    }


class Context:
    def __init__(self, spark, code_search, seed, trace, work, corpus, rows):
        self.spark, self.code_search, self.seed, self.trace = spark, code_search, seed, trace
        self.work, self.corpus, self.rows = work, corpus, rows

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def jvm_heap_probe(sc):
    """() -> (bytes in use, bytes committed) of the driver JVM's heap.
    Eden does not count as in use: it is the collector's allocation
    buffer, which G1 fills to its size limit before each young
    collection, so its peak follows the configured heap, not the
    program. What survives a collection (survivor and old regions)
    counts."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean()
    eden = [p for p in mf.getMemoryPoolMXBeans() if "Eden" in p.getName()]

    def probe():
        usage = heap.getHeapMemoryUsage()
        in_use = usage.getUsed() - sum(p.getUsage().getUsed() for p in eden)
        return in_use, usage.getCommitted()

    return probe


def groupless_jobs(sc) -> set:
    return set(sc.statusTracker().getJobIdsForGroup(None))


def measure(spark, code_search, workload: str, seed: int, seconds: float, trace: bool,
            work: str, rows: list[dict], spark_s: float = 0.0) -> dict:
    """Set up one workload over the seed's corpus `rows`, run its closed
    loop in whole cycles until `seconds` have passed (at least one
    cycle), check outputs, and return
    {"end_to_end", "per_layer", "attempted", "failed", "samples", "spans"}."""
    import workloads as W
    from tracing import Instrumentation, MemorySampler, SpanRecorder, install_layers

    sc = spark.sparkContext
    sampler = MemorySampler(jvm_heap=jvm_heap_probe(sc)).start()
    cpu0 = cpu_times()
    rec = SpanRecorder(sc)
    inst = Instrumentation(rec)
    if trace:
        install_layers(inst, code_search)
    try:
        t = time.perf_counter()
        W.reset_dir(work)
        corpus_path = os.path.join(work, "corpus")
        W.write_corpus(rows, corpus_path, sc.defaultParallelism)
        corpus = spark.read.parquet(corpus_path)
        ctx = Context(spark, code_search, seed, trace, work, corpus, rows)
        wl = W.WORKLOADS[workload](ctx)
        corpus_s = time.perf_counter() - t

        unattributed = 0
        t = time.perf_counter()
        rec.active = trace
        before = groupless_jobs(sc)
        with rec.span("op.setup") if trace else contextlib.nullcontext():
            wl.set_up()
        unattributed += len(groupless_jobs(sc) - before)
        rec.active = False
        inst.release_cache()
        setup_s = spark_s + (time.perf_counter() - t)

        ops = []  # (latency_s, traced, jobs started, kind)
        items = attempted = failed = 0
        # tracing: a replayable workload runs each input twice, traced
        # first on every other input (see overhead_ratio); otherwise
        # traced and untraced ops alternate, starting traced
        runs_per_input = 2 if trace and wl.replayable else 1
        t_loop = time.perf_counter()
        deadline = t_loop + seconds
        while not ops or time.perf_counter() < deadline:
            for _ in range(wl.cycle_ops):  # whole cycles only
                wl.prepare()
                n_input = len(ops) // runs_per_input
                for rep in range(runs_per_input):
                    if not trace:
                        traced = False
                    elif wl.replayable:
                        traced = (rep == 0) == (n_input % 2 == 1)
                    else:
                        traced = len(ops) % 2 == 0
                    rec.active = traced
                    before = groupless_jobs(sc)
                    t = time.perf_counter()
                    ok = True
                    try:
                        with rec.span(f"op.{wl.unit}") if traced else contextlib.nullcontext():
                            items += wl.op()
                    except W.CheckFailed as e:
                        ok = False
                        ctx.log(f"{workload} op {len(ops)} wrong: {e}")
                    except Exception:
                        ok = False
                        ctx.log(f"{workload} op {len(ops)} raised:\n{traceback.format_exc()}")
                    lat = time.perf_counter() - t
                    rec.active = False
                    started = len(groupless_jobs(sc) - before)
                    if traced:
                        unattributed += started
                        inst.release_cache()
                    ops.append((lat, traced, started, wl.kind))
                    attempted += 1
                    failed += not ok
        loop_s = time.perf_counter() - t_loop

        t = time.perf_counter()
        checked, bad = wl.final_check()
        check_s = time.perf_counter() - t
        attempted += checked
        failed += bad

        corpus_bytes = sum(len(r["content"].encode()) for r in rows)
        plain = [lat for lat, traced, _, _ in ops if not traced]
        end_to_end = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(plain) if plain else 0.0,
            # the highest percentile with ≥10 samples beyond it would need
            # ≥100 ops; a run makes a few whole cycles, so the tail is a
            # fixed p90 over them (the sample count is recorded)
            "op_tail_s": W.percentile(plain, TAIL_PCT) if plain else 0.0,
            "items_per_s": items / loop_s,
            "index_bytes_per_corpus_byte": wl.index_bytes() / corpus_bytes,
        }
        per_layer = layer_metrics(rec, ops, wl, spark) if trace else {}
        if trace:
            per_layer["unattributed_jobs"] = unattributed
    finally:
        rec.active = False
        inst.restore()
        sampler.stop()
    end_to_end["peak_mem_mb"] = sampler.peak_bytes / 2**20
    return {
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "attempted": attempted,
        "failed": failed,
        "samples": {
            "ops": len(ops),
            "untraced_ops": len(plain),
            "tail_percentile": TAIL_PCT,
            "op_unit": wl.unit,
            "items": items,
            "loop_s": loop_s,
            "op_latencies_s": [round(o[0], 6) for o in ops],
            "op_kinds": [o[3] for o in ops],
            "mem_samples": sampler.samples,
            "host_steal_share": steal_share(cpu0, cpu_times()),
            "phase_s": {"spark": spark_s, "corpus": corpus_s, "setup": setup_s - spark_s,
                        "loop": loop_s, "check": check_s},
        },
        "n_rows": len(rows),
        "corpus_bytes": corpus_bytes,
        "spans": rec.spans,
    }


def overhead_ratio(ops, paired: bool) -> float:
    """Traced / untraced latency.

    paired: ops come in pairs on one input, and the first of a pair warms
    caches for the second. The order alternates, so with latency =
    base × warm-up factor × overhead the geometric mean of the two
    orders' median ratios cancels the warm-up factor.

    Otherwise: the median over operation kinds of median traced / median
    untraced latency, so a traced compaction is never set against a
    plain append."""
    if paired:
        by_order = {True: [], False: []}
        for a, b in zip(ops[0::2], ops[1::2]):
            t, u = (a, b) if a[1] else (b, a)
            by_order[a[1]].append(t[0] / u[0])
        if not all(by_order.values()):
            return statistics.median(by_order[True] + by_order[False])
        return math.sqrt(statistics.median(by_order[True]) * statistics.median(by_order[False]))
    ratios = []
    for kind in sorted({o[3] for o in ops}):
        traced = [o[0] for o in ops if o[3] == kind and o[1]]
        plain = [o[0] for o in ops if o[3] == kind and not o[1]]
        if traced and plain:
            ratios.append(statistics.median(traced) / statistics.median(plain))
    return statistics.median(ratios) if ratios else 0.0


def layer_metrics(rec, ops, wl, spark) -> dict:
    """Per-layer numbers from the spans: `*_s` is the median self time
    per call (for `build.*`, per operation), `*_jobs` / `jobs_per_call`
    count jobs launched by the span itself from the calling thread."""
    from workloads import dir_bytes, dir_files

    by_id = {s["id"]: s for s in rec.spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["name"]

    def named(n):
        """Spans of a name from the measured ops; from set-up only when
        the layer ran there alone (the cold build)."""
        spans = [s for s in rec.spans if s["name"] == n]
        measured = [s for s in spans if root(s) != "op.setup"]
        return measured or spans

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def self_s(n):
        return med([rec.self_time(s) for s in named(n)])

    def jobs(n):
        return med([s["jobs"] for s in named(n)])

    ops_spans = [s for s in rec.spans if s["name"].startswith("op.") and s["name"] != "op.setup"]
    if not any(s["layer"] == "build" for op in ops_spans for s in rec.descendants(op)):
        ops_spans = [s for s in rec.spans if s["name"] == "op.setup"]
    build_t, build_j = [], []
    for op in ops_spans:
        b = [s for s in rec.descendants(op) if s["layer"] == "build"]
        if b:
            build_t.append(sum(rec.self_time(s) for s in b))
            build_j.append(sum(s["jobs"] for s in b))
    searches = named("code_search.search")
    fetch = []
    for s in searches:
        legs = [d for d in rec.descendants(s) if d["name"] in ("wand.query", "similarity.srp_topk")]
        if s.get("results"):
            fetch.append(sum(d.get("rows") or 0 for d in legs) / s["results"])
    # resume-probe hits over the measured ops' build_persisted_index calls
    calls = [s for s in rec.spans if s["name"] in ("checkpoint.probe", "checkpoint.build")
             and root(s) != "op.setup"]
    n_probe = sum(s["name"] == "checkpoint.probe" for s in calls)

    bm25 = wl.bm25_dir
    index_bytes = dir_bytes(bm25) if bm25 else 0
    bytes_per_posting = 0.0
    if bm25:
        from pyspark.sql import functions as F

        vb = spark.read.parquet(os.path.join(bm25, "postings")).agg(
            F.sum(F.length("doc_ids_vb") + F.length("tfs_vb"))
        ).first()[0]
        bytes_per_posting = vb / spark.read.parquet(os.path.join(bm25, "tf")).count()
    state = wl.state_dir

    return {
        "session.get_spark_s": self_s("session.get_spark"),
        "checkpoint.build_s": self_s("checkpoint.build"),
        "checkpoint.build_jobs": jobs("checkpoint.build"),
        "checkpoint.probe_s": self_s("checkpoint.probe"),
        "checkpoint.probe_jobs": jobs("checkpoint.probe"),
        "checkpoint.load_index_s": self_s("checkpoint.load_index"),
        "checkpoint.manifest_hit_ratio": n_probe / len(calls) if calls else 0.0,
        "checkpoint.index_bytes": index_bytes,
        "build.index_s": med(build_t),
        "build.jobs": med(build_j),
        "postings.build_s": self_s("postings.build"),
        "postings.blocks": med([s.get("rows") or 0 for s in named("postings.build")]),
        "postings.bytes_per_posting": bytes_per_posting,
        "wand.query_s": self_s("wand.query"),
        "wand.jobs_per_call": jobs("wand.query"),
        "wand.tasks_per_call": med([s["tasks"] for s in named("wand.query")]),
        "similarity.srp_topk_s": self_s("similarity.srp_topk"),
        "similarity.jobs_per_call": jobs("similarity.srp_topk"),
        "fusion.rrf_s": self_s("fusion.rrf"),
        "positional.matches_s": self_s("positional.matches"),
        "snippets.best_s": self_s("snippets.best"),
        "code_search.self_s": self_s("code_search.search"),
        "code_search.jobs_per_query": med([o[2] for o in ops if not o[1]]) if searches else 0.0,
        "code_search.fetch_ratio": med(fetch),
        "merge.append_s": self_s("merge.append"),
        "merge.append_jobs": jobs("merge.append"),
        "merge.refresh_s": self_s("merge.refresh"),
        "merge.compact_s": self_s("merge.compact"),
        "merge.state_files": dir_files(state) if state else 0,
        "query.topk_s": self_s("query.topk"),
        "query.jobs_per_call": jobs("query.topk"),
        "unattributed_jobs": 0,  # counted around the ops by measure()
        "trace_overhead_ratio": overhead_ratio(ops, paired=wl.replayable),
    }


def result_line(res: dict, trace: int) -> dict:
    """The printed result: end-to-end metrics, or per-layer ones when
    tracing."""
    values, units = (res["per_layer"], PER_LAYER) if trace else (res["end_to_end"], END_TO_END)
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["interactive", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    base = os.path.join(os.getcwd(), ".perfbench")
    tmp = os.path.join(base, f"tmp-{os.getpid()}")
    work = os.path.join(base, f"work-{os.getpid()}")
    code_search = import_engine()
    confine_temp_files(tmp)
    import workloads as W
    from tracing import SpanRecorder

    # the corpus is pure Python: generate it while the JVM starts
    corpus = {}
    gen = threading.Thread(target=lambda: corpus.update(rows=W.corpus_rows(args.seed, W.N_DOCS)))
    gen.start()
    boot = SpanRecorder()
    with boot.span("session.get_spark") as sp:
        spark = start_spark(tmp)
    spark_s = sp["end"] - sp["start"]
    gen.join()
    try:
        res = measure(spark, code_search, args.workload, args.seed, args.seconds,
                      bool(args.trace), work, rows=corpus["rows"], spark_s=spark_s)
        env = env_record(spark, args, res["n_rows"], res["corpus_bytes"])
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    if args.trace:
        res["per_layer"]["session.get_spark_s"] = spark_s
    out = result_line(res, args.trace)
    res["samples"]["phase_s"]["process"] = time.perf_counter() - T_PROCESS
    record = {"env": env, "samples": res["samples"], "result": out,
              "spans": boot.spans + res["spans"]}
    os.makedirs(os.path.join(base, "out"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, "out", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"perfbench_env": env, "samples": res["samples"]}))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
