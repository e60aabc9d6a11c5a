"""Tracing for the KG pipeline benchmark, all from outside the program.

* ``MemorySampler`` samples the resident memory (PSS) of this process and
  every descendant (the driver JVM and its Python workers) from ``/proc``.
* ``JobTagger`` gives every Spark job a description naming its action and
  path.  Spark actions are lazy, so timing a function such as
  ``mentions_df`` only measures planning; the jobs themselves are tagged by
  wrapping ``DataFrame.count``/``collect``, ``DataFrameReader.parquet``,
  ``DataFrameWriter.parquet`` and the eager
  ``canonical.connected_components``.
* ``read_event_log`` parses an uncompressed Spark event log into jobs with
  their task metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List
from urllib.parse import urlparse

def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants.

    PSS splits each shared page between the processes mapping it, so a
    child the JVM has forked but not yet exec'd (Hadoop's local file system
    forks shell commands) is not counted as a second JVM, as its RSS
    would be."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the parent pid is the second field after the parenthesised command
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _pss_bytes(pid)
        stack.extend(children.get(pid, []))
    return total


class MemorySampler:
    """Peak memory (PSS) of this process tree, sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


# -- job tagging ------------------------------------------------------------


@dataclass
class CCCall:
    seconds: float
    stats: dict


@dataclass
class JobTagger:
    """Wraps the calls of the pipeline that run Spark jobs, so each job is
    described as ``<action>|<pages>|<path>``: ``pages`` is 1 when the plan
    scans the pages table, ``path`` is the path written or read, or the
    input directories of a count/collect.  Calls nested inside a tagged
    call keep the outer tag."""

    spark: object
    pages_root: str
    cc_calls: List[CCCall] = field(default_factory=list)
    _depth: int = 0

    @contextmanager
    def described(self, description: str):
        """Describe every job of the block, unless an enclosing block does."""
        outer = self._depth == 0
        sc = self.spark.sparkContext
        if outer:
            sc.setJobDescription(description)
        self._depth += 1
        try:
            yield
        finally:
            self._depth -= 1
            if outer:
                sc.setJobDescription(None)

    def _tag(self, action: str, df, path: str):
        if self._depth or df is None:
            return self.described(f"{action}|0|{path}")
        files = [urlparse(f).path for f in df.inputFiles()]
        scans = int(any(f.startswith(self.pages_root) for f in files))
        path = path or ",".join(sorted({os.path.dirname(f) for f in files}))
        return self.described(f"{action}|{scans}|{path}")

    @contextmanager
    def installed(self):
        """Patch the wrapped functions for the duration of the block."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from ddaugner_spark.operators import canonical

        tagger = self
        saved = [
            (DataFrame, "count", DataFrame.count),
            (DataFrame, "collect", DataFrame.collect),
            (DataFrameWriter, "parquet", DataFrameWriter.parquet),
            (DataFrameReader, "parquet", DataFrameReader.parquet),
            (canonical, "connected_components", canonical.connected_components),
        ]
        orig_count, orig_collect, orig_parquet, orig_read, orig_cc = (s[2] for s in saved)

        def count(df):
            with tagger._tag("count", df, ""):
                return orig_count(df)

        def collect(df):
            with tagger._tag("collect", df, ""):
                return orig_collect(df)

        def parquet(writer, path, *args, **kwargs):
            with tagger._tag("parquet", writer._df, path):
                return orig_parquet(writer, path, *args, **kwargs)

        def read(reader, *paths, **kwargs):
            # schema inference of a parquet read runs as a job
            with tagger._tag("read", None, ",".join(paths)):
                return orig_read(reader, *paths, **kwargs)

        def connected_components(edges, *args, **kwargs):
            stats = kwargs.setdefault("stats", {})
            with tagger._tag("cc", None, kwargs.get("stage_dir") or ""):
                t0 = time.perf_counter()
                out = orig_cc(edges, *args, **kwargs)
                tagger.cc_calls.append(CCCall(time.perf_counter() - t0, stats))
            return out

        DataFrame.count = count
        DataFrame.collect = collect
        DataFrameWriter.parquet = parquet
        DataFrameReader.parquet = read
        canonical.connected_components = connected_components
        try:
            yield self
        finally:
            for owner, name, fn in saved:
                setattr(owner, name, fn)


# -- event log --------------------------------------------------------------


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int
    input_bytes: int
    output_bytes: int


@dataclass
class Job:
    job_id: int
    description: str
    submit_ms: int
    end_ms: int = 0
    stages: List[int] = field(default_factory=list)
    tasks: List[Task] = field(default_factory=list)

    @property
    def action(self) -> str:
        return self.description.split("|", 1)[0]

    @property
    def scans_pages(self) -> bool:
        parts = self.description.split("|")
        return len(parts) > 1 and parts[1] == "1"


def read_event_log(log_dir: str) -> List[Job]:
    """Jobs of the one application logged under ``log_dir``."""
    jobs: Dict[int, Job] = {}
    stage_job: Dict[int, int] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"],
                props.get("spark.job.description") or "",
                ev["Submission Time"],
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for s in job.stages:
                stage_job[s] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            job_id = stage_job.get(ev["Stage ID"])
            if job_id is None:
                continue
            jobs[job_id].tasks.append(
                Task(
                    ev["Stage ID"],
                    m.get("Executor Run Time", 0),
                    m.get("JVM GC Time", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                )
            )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def busy_ms(jobs: List[Job], lo: int, hi: int) -> int:
    """Length of the union of the jobs' [submit, end] intervals in [lo, hi]."""
    total, reach = 0, lo
    for start, end in sorted((j.submit_ms, j.end_ms) for j in jobs):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total


def task_skew(jobs: List[Job]) -> float:
    """max/median task run time in the stage with the most task time."""
    by_stage: Dict[int, List[int]] = {}
    for j in jobs:
        for t in j.tasks:
            by_stage.setdefault(t.stage, []).append(t.run_ms)
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med else float(max(runs) > 0)


def _event_lines(log_dir: str):
    """Lines of a plain or rolling (``eventlog_v2_*/events_<n>_*``) log."""
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_"):
                files.append((int(n.split("_")[1]), os.path.join(dirpath, n)))
            elif n.startswith("local-"):
                files.append((0, os.path.join(dirpath, n)))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for _n, path in sorted(files):
        with open(path) as fh:
            yield from fh
