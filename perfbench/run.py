"""Benchmark of the snowball_java_spark index: build, refresh and BM25 top-k
queries through the engine's public functions, one closed-loop client.

    python3 perfbench/run.py --workload query_single --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout.  Each run generates its corpus from
the seed, builds its own index with the checkout's code in
``.perfbench_work/`` (deleted at exit), times ``--seconds`` of query calls,
checks results against ``tests/oracle.py`` and prints one JSON object as its
last line: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: queries per ``bm25_topk_index`` call, by workload
WORKLOADS = {"query_single": 1, "query_batch": 256}
#: base corpus size; each run refreshes once with a further 1%
N_FILES = 4000
SHARD_SIZE = 1024
N_BUCKETS = 16
#: warm-up calls run until this much time has passed (at least one call)
WARMUP_SECONDS = 4.0
#: queries of each timed call checked against the oracle (all when fewer)
CHECKED_PER_CALL = 16


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--files", type=int, default=N_FILES,
                   help="base corpus size (smaller for a smoke run)")
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``, and
    let Spark's Python workers import the checkout's package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def host_context() -> dict:
    with open("/proc/meminfo") as f:
        mem = {k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in f)}
    return {"loadavg": list(os.getloadavg()),
            "mem_available_mb": mem["MemAvailable"] // 1024}


def source_identity() -> dict:
    """Git commit when the checkout is a repository, and always a digest of
    the package sources, so a record names the code it measured."""
    commit = None
    if (ROOT / ".git").exists():
        commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or None
    h = hashlib.sha256()
    for f in sorted((ROOT / "snowball_java_spark").rglob("*.py")):
        h.update(f.relative_to(ROOT).as_posix().encode() + b"\0" + f.read_bytes())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait until the JVM and every Python
    worker under it have exited."""
    from pyspark import SparkContext

    from layers import alive, process_tree

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    live = set(tree) - {proc.pid}
    while live:
        live = {pid for pid in live if alive(pid)}
        if live and time.monotonic() > deadline:
            for pid in live:
                os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


class Session:
    """One run's Spark session, its job counter, and the queries attempted
    and failed."""

    def __init__(self, spark, trace: bool):
        from layers import JobCounter

        self.spark = spark
        self.sc = spark.sparkContext
        self.jobs = JobCounter(self.sc) if trace else None
        self.attempted = 0
        self.failed = 0

    def span(self, name: str):
        """Counts the block's Spark jobs when tracing; a no-op otherwise."""
        return self.jobs.group(name) if self.jobs else nullcontext({})

    def query(self, reader, queries: list[dict], traced: bool):
        """One ``bm25_topk_index`` call, collected: (wall seconds, rows,
        per-layer figures or None)."""
        from snowball_java_spark.operators.wand import bm25_topk_index

        from layers import plan_counts

        if not traced:
            t0 = time.perf_counter()
            rows = bm25_topk_index(self.spark, reader, queries, cfg=reader.cfg).collect()
            return time.perf_counter() - t0, rows, None
        acc = {"decoded": self.sc.accumulator(0), "total": self.sc.accumulator(0)}
        with self.jobs.group("plan_build") as built:
            t0 = time.perf_counter()
            df = bm25_topk_index(self.spark, reader, queries, cfg=reader.cfg,
                                 block_metrics=acc)
            t1 = time.perf_counter()
        with self.jobs.group("execute") as ran:
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
        decoded, total = acc["decoded"].value, acc["total"].value
        layer = {
            "plan_build_s": t1 - t0, "planning_s": t2 - t1, "execute_s": t3 - t2,
            "plan_build_jobs": built["jobs"],
            "jobs": built["jobs"] + ran["jobs"],
            "stages": built["stages"] + ran["stages"],
            "tasks": built["tasks"] + ran["tasks"],
            **plan_counts(df),
            "blocks_decoded": decoded, "blocks_total": total,
            "decoded_frac": decoded / total if total else 0.0,
        }
        return t3 - t0, rows, layer

    def checked_query(self, reader, queries, traced, pending) -> tuple[float, dict | None] | None:
        """``query`` that counts the attempt, records the rows for the result
        check, and counts an exception as failed queries."""
        self.attempted += len(queries)
        try:
            wall, rows, layer = self.query(reader, queries, traced)
        except Exception:  # noqa: BLE001 — the run reports failures and goes on
            traceback.print_exc()
            self.failed += len(queries)
            return None
        pending.append((queries, rows))
        return wall, layer


def check_results(pending, oracle, doc_keys: dict, rng: random.Random) -> int:
    """Failed queries among a seeded sample of each call's queries."""
    failed = 0
    for queries, rows in pending:
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(
                (doc_keys.get(r["doc_id"]), r["score"]))
        sample = (queries if len(queries) <= CHECKED_PER_CALL
                  else rng.sample(queries, CHECKED_PER_CALL))
        for q in sample:
            if not oracle.check(q, by_q.get(q["query_id"], [])):
                print(f"result mismatch: {q}", file=sys.stderr)
                failed += 1
    return failed


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, work: Path) -> tuple[dict, dict]:
    """Set-up, timed window, (traced) refresh and compaction, and the
    result check.  Returns the metrics by name and the run's detail record."""
    from snowball_java_spark.config import EngineConfig
    from snowball_java_spark.plans.build_index import (
        IndexReader, build_index, compact_index, refresh_index,
    )
    from snowball_java_spark.session import get_spark

    from inputs import KEY, Oracle, QueryDraw, corpus_windows, write_corpus
    from layers import PeakRss, build_steps, generations, index_usage, timed

    batch = WORKLOADS[args.workload]
    n_delta = max(1, args.files // 100)
    base_w, delta_w = corpus_windows(args.seed, args.files, n_delta)
    n_files = args.files + n_delta
    nproc = len(os.sched_getaffinity(0))
    lay: dict[str, float] = {}
    with timed(lay, "gen_s"):  # outside set-up: the corpus is the input
        base = write_corpus(base_w, n_files, str(work / "base"), 2 * nproc)
        if args.trace:
            delta = write_corpus(delta_w, n_files, str(work / "delta"), 1)
    content_bytes = sum(len(c.encode()) for c in base["content"])
    oracle = Oracle([base])
    draw = QueryDraw(oracle, args.seed)
    cfg = EngineConfig(shard_size=SHARD_SIZE, block_size=128, build_stages=1)
    idx_dir = str(work / "index")
    pending: list = []  # (queries, rows) to check against the base oracle
    refreshed: list = []  # the same, against base + delta

    t_setup = time.perf_counter()
    with timed(lay, "get_spark_s"):
        spark = get_spark("perfbench", cores=nproc)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        s = Session(spark, trace=bool(args.trace))
        # the memory sampler is tracing: untraced runs do not pay for it
        rss = PeakRss(spark.sparkContext._gateway.proc.pid)
        with rss if args.trace else nullcontext():
            with s.span("build") as build_jobs, timed(lay, "build_s"):
                build_index(spark, spark.read.parquet(str(work / "base")),
                            idx_dir, cfg=cfg, n_buckets=N_BUCKETS)
            base_usage, steps = index_usage(idx_dir), build_steps(idx_dir)
            with timed(lay, "warmup_s"):
                reader = IndexReader(idx_dir)
                warm_until = time.perf_counter() + WARMUP_SECONDS
                while True:
                    s.checked_query(reader, draw.batch(batch), False, pending)
                    if time.perf_counter() >= warm_until:
                        break
            setup_s = time.perf_counter() - t_setup

            if args.trace:
                with s.span("reader") as reader_jobs:
                    with timed(lay, "reader_open_s"):
                        r = IndexReader(idx_dir)
                    with timed(lay, "reader_postings_s"):
                        r.postings(spark)
                    with timed(lay, "reader_term_stats_s"):
                        r.term_stats(spark)
                    with timed(lay, "reader_doc_meta_s"):
                        r.doc_meta(spark)
                lay["reader_listing_jobs"] = reader_jobs["jobs"]

            # closed loop: the next call starts when the previous one returned;
            # a traced run alternates traced and untraced calls
            walls = {True: [], False: []}
            layers: list[dict] = []
            deadline = time.perf_counter() + args.seconds
            i = 0
            while i == 0 or time.perf_counter() < deadline:
                traced = bool(args.trace) and i % 2 == 0
                out = s.checked_query(reader, draw.batch(batch), traced, pending)
                if out:
                    walls[traced].append(out[0])
                    if out[1]:
                        layers.append(out[1])
                i += 1
            lay["index_files"] = index_usage(idx_dir)["files"]

            if args.trace:
                # the write path, traced after the window: a 1% refresh, a
                # query on a new reader of the two-generation index, then
                # compaction and one more query
                with s.span("refresh") as refresh_jobs, timed(lay, "refresh_s"):
                    refresh_index(spark, spark.read.parquet(str(work / "delta")), idx_dir)
                lay["refresh_jobs"] = refresh_jobs["jobs"]
                lay["generations"] = generations(idx_dir)
                s.checked_query(IndexReader(idx_dir), draw.batch(1), False, refreshed)
                with timed(lay, "compact_s"):
                    compact_index(spark, idx_dir)
                s.checked_query(IndexReader(idx_dir), draw.batch(1), False, refreshed)
            doc_keys = {r["doc_id"]: tuple(r[k] for k in KEY) for r in
                        IndexReader(idx_dir).docs(spark).select("doc_id", *KEY).collect()}
        rng = random.Random(args.seed)
        s.failed += check_results(pending, oracle, doc_keys, rng)
        if refreshed:
            s.failed += check_results(refreshed, Oracle([base, delta]), doc_keys, rng)
    finally:
        with timed(lay, "stop_s"):
            stop_spark(spark)

    untraced = walls[False]
    n_queries = batch * len(untraced)
    e2e = {
        "query_p50_s": (median(untraced), "s"),
        "queries_per_s": (n_queries / sum(untraced) if untraced else 0.0, "1/s"),
        "build_files_per_s": (args.files / lay["build_s"], "files/s"),
        "index_bytes_per_input_byte": (
            base_usage["total"] / content_bytes, "ratio"),
        "setup_s": (setup_s, "s"),
    }
    if args.trace:
        traced_wall = median(walls[True])
        metrics = {
            "session.get_spark_s": (lay["get_spark_s"], "s"),
            "sources.synthetic.gen_s": (lay["gen_s"], "s"),
            "plans.build_index.build_s": (lay["build_s"], "s"),
            "plans.build_index.prepare_s": (steps["prepare_s"], "s"),
            "plans.build_index.stage_s": (steps["stage_s"], "s"),
            "plans.build_index.postings_per_s": (steps["postings_per_s"], "postings/s"),
            "plans.build_index.bytes_compressed": (steps["bytes_compressed"], "bytes"),
            "plans.build_index.bucket_encode_max_over_median": (
                steps["bucket_encode_max_over_median"], "ratio"),
            "plans.build_index.build_jobs": (build_jobs["jobs"], "count"),
            "plans.build_index.refresh_s": (lay["refresh_s"], "s"),
            "plans.build_index.refresh_jobs": (lay["refresh_jobs"], "count"),
            "plans.build_index.compact_s": (lay["compact_s"], "s"),
            "plans.build_index.generations": (lay["generations"], "count"),
            **{f"plans.build_index.index_bytes.{k}": (base_usage[k], "bytes")
               for k in ("postings", "docs", "term_stats", "doc_meta")},
            "plans.build_index.index_files": (lay["index_files"], "count"),
            **{f"plans.build_index.{k}": (lay[k], "s") for k in (
                "reader_open_s", "reader_postings_s", "reader_term_stats_s",
                "reader_doc_meta_s")},
            "plans.build_index.reader_listing_jobs": (lay["reader_listing_jobs"], "count"),
            **{f"operators.wand.{k}": (median([x[k] for x in layers]), unit)
               for k, unit in LAYER_UNITS.items()},
            "bench.peak_rss_mb": (rss.peak_mb, "MB"),
            "bench.traced_call_s": (traced_wall, "s"),
            "bench.trace_overhead_frac": (
                traced_wall / median(untraced) - 1.0 if untraced else 0.0, "ratio"),
        }
    else:
        metrics = e2e
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "files": args.files, "delta_files": n_delta, "nproc": nproc,
        "queries_per_call": batch, "timed_calls": len(untraced) + len(walls[True]),
        "call_walls_s": {"untraced": untraced, "traced": walls[True]},
        "traced_calls": layers,
        "phases_s": lay, "e2e": {k: v for k, (v, _) in e2e.items()},
    }
    return ({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            {**detail, "attempted": s.attempted, "failed": s.failed})


#: units of the per-call figures ``Session.query`` records when tracing
LAYER_UNITS = {
    "plan_build_s": "s", "plan_build_jobs": "count", "planning_s": "s",
    "execute_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "scan_postings_files": "count", "scan_postings_bytes": "bytes",
    "scan_postings_rows": "rows", "scan_term_stats_rows": "rows",
    "scan_doc_meta_rows": "rows", "exchange_count": "count",
    "shuffle_bytes": "bytes", "python_data_sent_bytes": "bytes",
    "python_time_ms": "ms", "blocks_decoded": "count", "blocks_total": "count",
    "decoded_frac": "ratio",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    # fail before any work when the checkout lacks the engine or the oracle
    import oracle  # noqa: F401
    import pyspark
    import snowball_java_spark  # noqa: F401

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    host = {"nproc": len(os.sched_getaffinity(0)), "pyspark": pyspark.__version__,
            **source_identity(), "start": host_context()}
    try:
        isolate(work)
        metrics, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    host["end"] = host_context()
    print(json.dumps({"host": host, "detail": detail}))
    print(json.dumps({"correct": detail["failed"] == 0,
                      "attempted": detail["attempted"],
                      "failed": detail["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
