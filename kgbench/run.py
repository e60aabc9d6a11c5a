"""KG pipeline benchmark: ``KGPipeline.run`` from a generated pages table to
canonical triples and manifests on disk.

Usage (from the repository root)::

    python3 kgbench/run.py --workload deep-partitions --seed 1 --seconds 10 --trace 0

Spark runs at ``local[<cores>]`` from this one driver process, one job at a
time.  After two untimed warm-up runs, ``--trace 0`` times fresh (or
resumed) pipeline runs for ``--seconds``, at least three, and reports the
end-to-end metrics of ``BENCHMARK.json`` as medians over those runs.  With
``--trace 1`` Spark writes an uncompressed event log; the run times one
traced run, with every job tagged, between two untraced ones, times each
layer in isolation on one partition, times the single-process reference
loop, and reports the per-layer metrics.  Every pipeline run's output is checked against the
single-process reference (``reference.py``).  NOTES.md describes the
workloads and metrics.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``attempted`` and
``failed`` count partitions, and a partition fails when it has no
manifest, no output, or output that fails the check.  Progress goes to
standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ddaugner_spark.operators import canonical, linking, mentions, triples  # noqa: E402
from ddaugner_spark.plans.pipeline import KGPipeline, RunReport  # noqa: E402
from ddaugner_spark.session import get_spark  # noqa: E402
from ddaugner_spark.sources.gazetteer import gazetteer_df  # noqa: E402
from ddaugner_spark.sources.pages import extract_text  # noqa: E402

import reference  # noqa: E402
import sparktrace  # noqa: E402
import workload as wl  # noqa: E402


@dataclass
class PipelineRun:
    wall: float
    report: RunReport
    triples: int
    peak_mb: float
    lo_ms: int
    hi_ms: int


@dataclass(frozen=True)
class Workload:
    shape: wl.Shape
    #: set-up runs the whole table, and each timed run first deletes the
    #: manifest and outputs of the newest partition, then resumes
    resume: bool = False


# Sizes keep one run of the benchmark, set-up included, near a minute on a
# 4-core box (NOTES.md).
WORKLOADS = {
    # one large partition: the per-row mention fold, map-only triples and
    # link scoring outweigh the per-partition fixed cost
    "deep-partitions": Workload(wl.Shape(n_base=5000, replicas=16, n_parts=1)),
    # the pipeline used incrementally: resume lists manifests, scans the
    # distinct partitions, skips the finished one and reruns the newest
    # small one, whose per-partition fixed cost (CC driver loop,
    # metric-only count jobs, parquet writes) dominates
    "resume-append": Workload(wl.Shape(n_base=1000, replicas=4, n_parts=2), resume=True),
}
MIN_TIMED_RUNS = 3
#: driver heap, committed at start (-Xms): a heap that grows as it likes
#: made the peak memory of a run depend on when it grew
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Bench:
    def __init__(self, name: str, seed: int, work: str):
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.pages_dir = f"{work}/pages"
        self.out_dir = f"{work}/out"
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- session ----------------------------------------------------------
    def start_session(self, event_log: bool = False):
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+UseParallelGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work}/tmp"
            ),
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            # no zstd module here: only an uncompressed log parses
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = f"{self.work}/eventlog"
        self.spark = get_spark(
            app_name="kgbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- inputs -----------------------------------------------------------
    def prepare(self) -> None:
        """Generate the pages table and its reference."""
        docs = wl.base_docs(self.wl.shape.n_base)
        wl.write_pages(self.spark, self.pages_dir, self.seed, docs, self.wl.shape)
        self.by_part: Dict[str, List[int]] = {}
        for doc, part in wl.partition_of_docs(self.pages_dir).items():
            self.by_part.setdefault(part, []).append(doc)
        self.ref = reference.Reference(list(docs["text"]), wl.REPLICA_STRIDE)

    # -- one pipeline run + its check ---------------------------------------
    def run_pipeline(self, resume: bool) -> PipelineRun:
        """One ``KGPipeline.run``, timed, with its output checked."""
        pages = self.spark.read.parquet(self.pages_dir)
        pipe = KGPipeline(self.spark, self.out_dir, partition_col=wl.PART_COL)
        done = set(pipe.finished_partitions()) if resume else set()
        todo = sorted(set(self.by_part) - done)
        with sparktrace.MemorySampler() as mem:
            lo_ms = int(time.time() * 1000)
            t0 = time.perf_counter()
            report = pipe.run(pages, resume=resume)
            wall = time.perf_counter() - t0
            hi_ms = int(time.time() * 1000)
        n_triples = self.check(todo, report)
        return PipelineRun(wall, report, n_triples, mem.peak / 2**20, lo_ms, hi_ms)

    def check(self, todo: List[str], report: RunReport) -> int:
        """Check each partition that should have run; returns rows written."""
        n_rows = 0
        for part in todo:
            self.attempted += 1
            manifest = os.path.join(self.out_dir, "_lineage", f"{wl.PART_COL}={part}.json")
            part_dir = os.path.join(self.out_dir, f"{wl.PART_COL}={part}")
            if part not in report.partitions or not os.path.exists(manifest):
                problems = ["no manifest"]
            elif not os.path.isdir(part_dir):
                problems = ["no output"]
            else:
                cols = pq.read_table(part_dir, columns=reference.COLUMNS).to_pydict()
                rows = list(zip(*(cols[c] for c in reference.COLUMNS)))
                n_rows += len(rows)
                problems = reference.check_partition(rows, self.ref, self.by_part[part])
            if problems:
                self.failed += 1
                log(f"partition {part} FAILED: {problems[:3]}")
        return n_rows

    def drop_newest(self) -> None:
        key = f"{wl.PART_COL}={max(self.by_part)}"
        for p in (
            os.path.join(self.out_dir, key),
            os.path.join(self.out_dir, "_mentions", key),
            os.path.join(self.out_dir, "_cc", key),
        ):
            shutil.rmtree(p, ignore_errors=True)
        manifest = os.path.join(self.out_dir, "_lineage", key + ".json")
        if os.path.exists(manifest):
            os.remove(manifest)

    def timed_run(self) -> PipelineRun:
        """One measured run: fresh, or resumed after dropping the newest
        partition."""
        if self.wl.resume:
            self.drop_newest()
        else:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        return self.run_pipeline(resume=self.wl.resume)

    # -- set-up -------------------------------------------------------------
    def setup(self, event_log: bool = False) -> None:
        t0 = time.perf_counter()
        self.start_session(event_log)
        session_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.prepare()
        prep_s = time.perf_counter() - t0

        # warm-up: one fresh run over the whole table fills Spark's code
        # cache and starts the JIT; for a resume workload it is also the
        # base run that finishes every partition.  The JIT is still
        # warming after it, so one untimed run as the timed runs do it
        # follows.
        t0 = time.perf_counter()
        self.run_pipeline(resume=False)
        warm = [time.perf_counter() - t0, self.timed_run().wall]
        self.setup_s = session_s + prep_s + sum(warm)
        log(
            f"setup {self.setup_s:.2f}s (session {session_s:.2f}, prep {prep_s:.2f}, "
            f"warm-up {[round(w, 2) for w in warm]}); "
            f"{self.wl.shape.n_pages} pages in {len(self.by_part)} partitions"
        )

    # -- --trace 0 ----------------------------------------------------------
    def measure(self, seconds: float) -> Dict[str, float]:
        """Timed runs until ``seconds`` have passed, at least three."""
        runs: List[PipelineRun] = []
        t_start = time.perf_counter()
        while len(runs) < MIN_TIMED_RUNS or time.perf_counter() - t_start < seconds:
            r = self.timed_run()
            runs.append(r)
            log(f"run {len(runs)}: {r.wall:.3f}s, {r.triples} triples, peak rss {r.peak_mb:.0f} MB")
        return {
            "wall_s": statistics.median(r.wall for r in runs),
            "triples_per_s": statistics.median(r.triples / r.wall for r in runs),
            "peak_rss_mb": statistics.median(r.peak_mb for r in runs),
            "setup_s": self.setup_s,
        }

    # -- --trace 1 ----------------------------------------------------------
    def traced(self) -> Dict[str, float]:
        """One traced run between two untraced ones, then the isolated layers
        and the single-process baseline, all under the event log."""
        tagger = sparktrace.JobTagger(self.spark, os.path.realpath(self.pages_dir))
        before = self.timed_run()
        with tagger.installed():
            run = self.timed_run()
        cached_left = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        after = self.timed_run()
        untraced = (before.wall + after.wall) / 2
        log(f"traced {run.wall:.3f}s, untraced {before.wall:.3f}s and {after.wall:.3f}s")

        m = self.isolated_layers(tagger, run.report.partitions[0])
        t0 = time.perf_counter()
        reference.single_process_loop(self.page_texts())
        m["baseline.single_process_s"] = time.perf_counter() - t0

        self.stop_session()
        jobs = sparktrace.read_event_log(f"{self.work}/eventlog")
        m.update(self.pipeline_metrics(jobs, run, tagger))
        iso = ("mentions.s", "triples.s", "linking.s", "canonical.iso_cc_s", "canonical.canonicalize_s")
        m.update(
            {
                "pipeline.cached_left": cached_left,
                "pipeline.traced_wall_s": run.wall,
                "pipeline.trace_overhead_s": run.wall - untraced,
                "pipeline.triples_per_s": run.triples / run.wall,
                "pipeline.fixed_s": run.wall
                - len(run.report.partitions) * sum(m[k] for k in iso),
            }
        )
        return m

    def page_texts(self) -> List[str]:
        """Every page's text, replicas included, for the single-process loop."""
        return list(wl.base_docs(self.wl.shape.n_base)["text"]) * self.wl.shape.replicas

    def isolated_layers(self, tagger, part: str) -> Dict[str, float]:
        """Each layer's public function on one partition into a noop sink."""
        spark = self.spark
        pages = spark.read.parquet(self.pages_dir).filter(F.col(wl.PART_COL) == part)
        docs = pages.select("doc_id", extract_text(F.col("html")).alias("text"))
        iso = f"{self.work}/iso"

        def noop(df, layer):
            obs = Observation(layer)
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            with tagger.described(f"iso|{layer}"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                s = time.perf_counter() - t0
            return s, obs.get["rows"]

        m: Dict[str, float] = {}
        m["pages.extract_s"], _ = noop(docs, "pages")
        s, rows = noop(mentions.mentions_df(docs), "mentions")
        m.update({"mentions.s": s, "mentions.rows": rows, "mentions.rows_per_s": rows / s})
        s, rows = noop(triples.triples_df(docs), "triples")
        m.update({"triples.s": s, "triples.rows": rows, "triples.rows_per_s": rows / s})

        m_dir = os.path.join(self.out_dir, "_mentions", f"{wl.PART_COL}={part}")
        ment = spark.read.parquet(m_dir)
        s, rows = noop(linking.link_scores(ment, gazetteer_df(spark)), "linking")
        m.update(
            {
                "linking.s": s,
                "linking.candidates": parquet_rows(m_dir),
                "linking.entities": rows,
            }
        )

        with tagger.described("iso|cc"):
            t0 = time.perf_counter()
            canonical.co_mention_edges(ment).write.mode("overwrite").parquet(f"{iso}/edges")
            comps = canonical.connected_components(
                spark.read.parquet(f"{iso}/edges"), stage_dir=f"{iso}/cc"
            )
            m["canonical.iso_cc_s"] = time.perf_counter() - t0
        m["canonical.edges"] = parquet_rows(f"{iso}/edges")

        with tagger.described("iso|prep"):
            triples.triples_df(docs).write.mode("overwrite").parquet(f"{iso}/triples")
        s, _ = noop(
            canonical.canonicalize_triples(spark.read.parquet(f"{iso}/triples"), comps),
            "canonicalize",
        )
        m["canonical.canonicalize_s"] = s
        return m

    def pipeline_metrics(self, jobs, run: PipelineRun, tagger) -> Dict[str, float]:
        lo, hi, wall, report, out_dir = run.lo_ms, run.hi_ms, run.wall, run.report, self.out_dir
        pipe = [j for j in jobs if lo <= j.submit_ms <= hi]
        tasks = [t for j in pipe for t in j.tasks]
        busy = sparktrace.busy_ms(pipe, lo, hi) / 1000
        tagged = [j for j in pipe if j.description]
        cc = [j for j in pipe if j.action == "cc"]
        counts = [j for j in pipe if j.action == "count"]
        writes = [j for j in pipe if j.action == "parquet"]
        parts = max(len(report.partitions), 1)
        gap = wall - busy

        stage_s: Dict[str, float] = {}
        for s in report.stages:
            stage_s[s.stage] = stage_s.get(s.stage, 0.0) + s.wall_ms / 1000
        link_rows = sum(s.rows_out for s in report.stages if s.stage == "link_scores")
        iters = [it for c in tagger.cc_calls for it in c.stats.get("iters", [])]
        decided = [it for it in iters if "n_changed" in it]

        def iso_tasks(layer):
            return [t for j in jobs if j.description == f"iso|{layer}" for t in j.tasks]

        def task_s(layer):
            return sum(t.run_ms for t in iso_tasks(layer)) / 1000

        return {
            "mentions.task_s": task_s("mentions"),
            "triples.task_s": task_s("triples"),
            "linking.shuffle_bytes": sum(t.shuffle_write for t in iso_tasks("linking")),
            "linking.useful_frac": persisted_link_rows(out_dir) / link_rows if link_rows else 0.0,
            "canonical.cc_s": sum(c.seconds for c in tagger.cc_calls),
            "canonical.cc_calls": len(tagger.cc_calls),
            "canonical.cc_iters": len(iters),
            "canonical.cc_checkpoints": sum(c.stats.get("n_checkpoints", 0) for c in tagger.cc_calls),
            "canonical.cc_jobs": len(cc),
            "canonical.changed_iter_frac": (
                sum(1 for it in decided if it["n_changed"] > 0) / len(decided) if decided else 0.0
            ),
            "pipeline.partitions_run": len(report.partitions),
            "pipeline.partitions_skipped": len(report.skipped_partitions),
            "pipeline.stage_mentions_s": stage_s.get("mentions", 0.0),
            "pipeline.stage_link_scores_s": stage_s.get("link_scores", 0.0),
            "pipeline.stage_triples_s": stage_s.get("triples", 0.0),
            "pipeline.jobs": len(pipe),
            "pipeline.jobs_per_partition": len(pipe) / parts,
            "pipeline.count_jobs": len(counts),
            "pipeline.count_s": sparktrace.busy_ms(counts, lo, hi) / 1000,
            "pipeline.pages_scans": sum(1 for j in pipe if j.scans_pages),
            "pipeline.driver_gap_s": gap,
            "pipeline.attributed_frac": (sparktrace.busy_ms(tagged, lo, hi) / 1000 + gap) / wall,
            "pipeline.write_s": sparktrace.busy_ms(writes, lo, hi) / 1000,
            "pipeline.out_bytes": sum(
                dir_bytes(os.path.join(out_dir, f"{wl.PART_COL}={p}")) for p in report.partitions
            ),
            "pipeline.scratch_bytes": dir_bytes(os.path.join(out_dir, "_mentions"))
            + dir_bytes(os.path.join(out_dir, "_cc")),
            "spark.task_s": sum(t.run_ms for t in tasks) / 1000,
            "spark.slot_util": sum(t.run_ms for t in tasks) / 1000 / (wall * self.cores),
            "spark.gc_s": sum(t.gc_ms for t in tasks) / 1000,
            "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spark.input_bytes": sum(t.input_bytes for t in tasks),
            "spark.output_bytes": sum(t.output_bytes for t in tasks),
            "spark.spill_bytes": sum(t.spill for t in tasks),
            "spark.tasks": len(tasks),
            "spark.task_skew": sparktrace.task_skew(pipe),
        }


def parquet_rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def persisted_link_rows(out_dir: str) -> int:
    """Rows of any parquet dataset under ``out_dir`` with an ``entity``
    column, outside the triples, mention and CC trees: link scores the
    pipeline kept."""
    total = 0
    skip = (f"{wl.PART_COL}=", "_mentions", "_cc", "_lineage")
    for entry in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, entry)
        if entry.startswith(skip) or not os.path.isdir(path):
            continue
        ds = pq.ParquetDataset(path)
        if "entity" in ds.schema.names:
            total += ds.read(columns=[]).num_rows
    return total


def load_metric_specs(trace: bool) -> List[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    specs = load_metric_specs(bool(args.trace))

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    # keep every file Spark and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"

    bench = Bench(args.workload, args.seed, work)
    try:
        bench.setup(event_log=bool(args.trace))
        values = bench.traced() if args.trace else bench.measure(args.seconds)
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))

    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}
    frac = bench.failed / bench.attempted if bench.attempted else 1.0
    print(f"failed_frac {frac} ({bench.failed} of {bench.attempted} partitions)")
    for name, v in metrics.items():
        print(f"{name} {v['value']} {v['unit']}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0 and bench.attempted > 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
