"""Per-layer measurement from outside the engine.

Spans are taken in the benchmark's own files, around the calls it makes into
the engine's public functions: Spark job/stage/task counts per call come from
a job group and the status tracker, per-operator counts from the SQL metrics
of the query's final adaptive plan, build figures from the index's own
``metrics.jsonl``, and memory from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class JobCounter:
    """Counts the Spark jobs, stages and tasks started inside a block."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.n = 0

    @contextmanager
    def group(self, name: str):
        """Yields a dict that holds ``jobs``, ``stages`` and ``tasks`` once the
        block has ended."""
        gid = f"perfbench-{name}-{self.n}"
        self.n += 1
        counts: dict[str, int] = {}
        self.sc.setJobGroup(gid, name)
        try:
            yield counts
        finally:
            self.sc._jsc.sc().clearJobGroup()
            jobs = self.tracker.getJobIdsForGroup(gid)
            infos = [self.tracker.getJobInfo(j) for j in jobs]
            stages = [s for i in infos if i for s in i.stageIds]
            infos = [self.tracker.getStageInfo(s) for s in stages]
            counts.update(jobs=len(jobs), stages=len(stages),
                          tasks=sum(i.numTasks for i in infos if i))


def _metrics(node) -> dict[str, int]:
    out, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif cls == "ReusedExchangeExec":
        kids = []  # its exchange is counted where it first ran
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    subs = node.subqueries()
    return kids + [subs.apply(i) for i in range(subs.size())]


def _scan_relation(node) -> str:
    """Which index relation a file scan reads, from its root path."""
    paths = node.relation().location().rootPaths()
    root = paths.apply(0).toString().rstrip("/") if paths.size() else ""
    return os.path.basename(root)


def plan_counts(df) -> dict[str, int]:
    """Walks the executed (final adaptive) plan of ``df`` after an action ran
    on it and sums the SQL metrics the layers are judged by."""
    out = dict.fromkeys((
        "scan_postings_files", "scan_postings_bytes", "scan_postings_rows",
        "scan_term_stats_rows", "scan_doc_meta_rows", "exchange_count",
        "shuffle_bytes", "python_data_sent_bytes", "python_time_ms"), 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    seen: set[int] = set()
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        stack += _children(node)
        cls = node.getClass().getSimpleName()
        m = _metrics(node)
        if cls == "FileSourceScanExec":
            rel = _scan_relation(node)
            if rel == "postings":
                out["scan_postings_files"] += m.get("numFiles", 0)
                out["scan_postings_bytes"] += m.get("filesSize", 0)
                out["scan_postings_rows"] += m.get("numOutputRows", 0)
            elif rel in ("term_stats", "doc_meta"):
                out[f"scan_{rel}_rows"] += m.get("numOutputRows", 0)
        elif cls == "ShuffleExchangeExec":
            out["exchange_count"] += 1
            out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif "pythonDataSent" in m:
            out["python_data_sent_bytes"] += m.get("pythonDataSent", 0)
            out["python_time_ms"] += m.get("pythonTotalTime", 0)
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and every live process below it (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
            if state == "Z":
                continue
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory of a process tree every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the highest sum."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in process_tree(self.pid))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def index_usage(index_dir: str) -> dict[str, int]:
    """On-disk bytes of the whole index and of its main relations (refresh
    generations' ``docs_gen*`` count as docs), plus its parquet file count."""
    out = {"total": 0, "postings": 0, "docs": 0, "term_stats": 0,
           "doc_meta": 0, "files": 0}
    for root, _dirs, files in os.walk(index_dir):
        rel = os.path.relpath(root, index_dir).split(os.sep)[0]
        part = "docs" if rel.startswith("docs") else rel
        for fn in files:
            size = os.path.getsize(os.path.join(root, fn))
            out["total"] += size
            if part in out:
                out[part] += size
            out["files"] += fn.endswith(".parquet")
    return out


def build_steps(index_dir: str) -> dict[str, float]:
    """The base build's prepare / postings-stage split from ``metrics.jsonl``."""
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        steps = [json.loads(line) for line in f]
    stages = [m for m in steps if m["step"].startswith("stage_")]
    stage_s = sum(m["elapsed_sec"] for m in stages)
    postings = sum(m["n_postings"] for m in stages)
    return {
        "prepare_s": next(m["elapsed_sec"] for m in steps if m["step"] == "prepare"),
        "stage_s": stage_s,
        "postings_per_s": postings / stage_s,
        "bytes_compressed": sum(m["bytes_compressed"] for m in stages),
        "bucket_encode_max_over_median": max(
            m["bucket_encode_max_over_median"] for m in stages),
    }


def generations(index_dir: str) -> int:
    with open(os.path.join(index_dir, "_conf.json")) as f:
        return int(json.load(f).get("generations", 1))


@contextmanager
def timed(into: dict, key: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        into[key] = time.perf_counter() - t0
