"""The benchmark's own timers and per-layer probes.

Everything here measures from outside the program: timers around calls
into each module's public functions, a delegating ``ManifestStore``
wrapper, single-thread calls of the ``functions`` kernels on the
benchmark's own inputs, and a reducer over the Spark event log of the
benchmark's own session.
"""
from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, Iterable, List, Optional


class Timings:
    """Named lists of durations in seconds."""

    def __init__(self) -> None:
        self.spans: Dict[str, List[float]] = defaultdict(list)

    @contextmanager
    def timed(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)

    def median(self, name: str) -> float:
        return statistics.median(self.spans[name])


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job started inside the block with ``name``; the
    event-log reducer groups jobs by this description."""
    sc = spark.sparkContext
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(None)


class TimedStore:
    """A ``SnapshotStore`` that times ``write_bucket``, ``commit`` and
    ``committed_buckets`` of the store it wraps and forwards the rest."""

    def __init__(self, store, timings: Timings) -> None:
        self._store = store
        self._t = timings

    def write_bucket(self, bucket, out_df):
        with self._t.timed("store.write_bucket_s"):
            return self._store.write_bucket(bucket, out_df)

    def commit(self, lineage):
        with self._t.timed("store.commit_s"):
            return self._store.commit(lineage)

    def committed_buckets(self):
        with self._t.timed("store.committed_buckets_s"):
            return self._store.committed_buckets()

    def __getattr__(self, name):
        return getattr(self._store, name)


# -- functions layer ----------------------------------------------------------

def functions_probe(docs: List[Dict],
                    payloads: List[Dict]) -> Dict[str, float]:
    """Time the extraction kernels in this thread on a docgen sample.

    Mirrors what the pipeline asks of each kernel: boilerplate strip per
    text span, media parse per page, and the fuzzy master match only for
    docs the JVM verbatim gate (a master contained verbatim in the
    uppercased reassembled text) leaves unresolved."""
    from document_ai_spark import constants as C
    from document_ai_spark.functions.fuzzy import (PartialRatioScorer,
                                                   best_partial_match)
    from document_ai_spark.functions.layout import parse_media_payload
    from document_ai_spark.functions.textops import extract_main_text

    by_ref = {p["media_ref"]: p for p in payloads}
    dealers = [m.upper() for m in C.DEALER_MASTER]
    models = [m.upper() for m in C.MODEL_MASTER]
    t_strip = t_media = t_fuzzy = 0.0
    n_spans = n_pages = n_fuzzy = 0
    clock = time.perf_counter
    for doc in docs:
        parts = []
        for s in sorted(doc["spans"], key=lambda s: s["offset"]):
            t0 = clock()
            if s["kind"] == "text":
                parts.append(extract_main_text(s["text"]))
                t_strip += clock() - t0
                n_spans += 1
            else:
                parts.append(parse_media_payload(by_ref[s["media_ref"]])
                             ["raw_text"])
                t_media += clock() - t0
                n_pages += 1
        up = C.PAGE_BREAK.join(parts).upper()
        need_d = not any(m in up for m in dealers)
        need_m = not any(m in up for m in models)
        if need_d or need_m:
            t0 = clock()
            scorer = PartialRatioScorer(up)
            if need_d:
                best_partial_match(up, C.DEALER_MASTER,
                                   C.FUZZY_DEALER_EXTRACT_MIN, scorer=scorer)
            if need_m:
                best_partial_match(up, C.MODEL_MASTER,
                                   C.FUZZY_MODEL_EXTRACT_MIN, scorer=scorer)
            t_fuzzy += clock() - t0
            n_fuzzy += 1
    return {
        "functions.strip_us_per_span": 1e6 * t_strip / max(n_spans, 1),
        "functions.media_parse_us_per_page": 1e6 * t_media / max(n_pages, 1),
        "functions.fuzzy_us_per_doc": 1e6 * t_fuzzy / max(n_fuzzy, 1),
        "functions.fuzzy_docs": n_fuzzy,
        "functions.gate_resolved_share": 1 - n_fuzzy / max(len(docs), 1),
    }


# -- Spark event log ----------------------------------------------------------

def _event_lines(log_dir: str) -> Iterable[str]:
    """Lines of the uncompressed event log files under ``log_dir``."""
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            yield from f


def eventlog_metrics(log_dir: str, group: str, wall_s: float,
                     cores: int) -> Dict[str, float]:
    """Reduce the event log to the per-stage totals of jobs whose
    description is ``group``."""
    stage_group: Dict[int, str] = {}
    jobs: Dict[str, int] = defaultdict(int)
    stage_span: Dict[int, float] = {}
    task_runs: Dict[int, List[float]] = defaultdict(list)
    tot = defaultdict(float)
    for line in _event_lines(log_dir):
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            jobs[desc] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, desc)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Completion Time") and info.get("Submission Time"):
                stage_span[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if stage_group.get(sid) != group:
                continue
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            task_runs[sid].append(run_s)
            tot["tasks"] += 1
            tot["run"] += run_s
            tot["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            tot["gc"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            tot["sw"] += sw.get("Shuffle Bytes Written", 0)
            tot["sr"] += (sr.get("Remote Bytes Read", 0)
                          + sr.get("Local Bytes Read", 0))
            tot["spill"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
    skew = 1.0
    if task_runs:
        longest = max(task_runs, key=lambda s: stage_span.get(s, 0.0))
        runs = task_runs[longest]
        skew = max(runs) / max(statistics.median(runs), 1e-3)
    return {
        "spark.jobs": jobs.get(group, 0),
        "spark.tasks": int(tot["tasks"]),
        "spark.executor_run_s": tot["run"],
        "spark.executor_cpu_s": tot["cpu"],
        "spark.gc_s": tot["gc"],
        "spark.shuffle_write_bytes": int(tot["sw"]),
        "spark.shuffle_read_bytes": int(tot["sr"]),
        "spark.spill_bytes": int(tot["spill"]),
        "spark.task_skew": skew,
        "spark.core_busy_share": tot["run"] / max(wall_s * cores, 1e-9),
    }


# -- processes ----------------------------------------------------------------

def descendants(pid: int) -> List[int]:
    """Live descendant pids of ``pid``, read from /proc."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for children in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(children) as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def peak_rss_kb(pid: int) -> Optional[int]:
    """VmHWM (peak resident set) of a live process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None
