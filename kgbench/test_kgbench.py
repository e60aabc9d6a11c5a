"""Tests of the KG pipeline benchmark itself.

Run from the repository root: ``python3 -m pytest kgbench -q`` (about three
minutes; two of the tests run the benchmark end to end).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import reference  # noqa: E402
import sparktrace  # noqa: E402
import workload as wl  # noqa: E402

SHAPE = wl.Shape(n_base=60, replicas=2, n_parts=2)
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ddaugner_spark.session import get_spark

    s = get_spark(
        app_name="kgbench_tests",
        master="local[2]",
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def table_bytes(path: str) -> dict:
    """(partition dir, file name without the job UUID) → file bytes."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                key = (os.path.relpath(dirpath, path), UUID.sub("", f))
                with open(os.path.join(dirpath, f), "rb") as fh:
                    out[key] = fh.read()
    return out


def test_same_seed_writes_identical_table(spark, tmp_path):
    for name in ("a", "b"):
        wl.write_pages(spark, str(tmp_path / name), 7, wl.base_docs(SHAPE.n_base), SHAPE)
    a, b = table_bytes(str(tmp_path / "a")), table_bytes(str(tmp_path / "b"))
    assert a and a == b


def test_other_seed_same_pages_other_partitions(spark, tmp_path):
    assignment = {}
    for seed in (7, 8):
        path = str(tmp_path / str(seed))
        wl.write_pages(spark, path, seed, wl.base_docs(SHAPE.n_base), SHAPE)
        assignment[seed] = wl.partition_of_docs(path)
    assert len(assignment[7]) == len(assignment[8]) == SHAPE.n_pages
    assert set(assignment[7]) == set(assignment[8])
    assert assignment[7] != assignment[8]


# -- the output check --------------------------------------------------------


def correct_rows(ref: reference.Reference, doc_ids, table_wide: bool = False):
    """The rows a correct pipeline writes, with per-partition (default) or
    table-wide canonical ids."""
    comp = ref.components(range(len(ref.triples)) if table_wide else doc_ids)
    rows = []
    for (d, sent, s, p, o), n in ref.expected(doc_ids).items():
        rows += [(d, sent, comp.get(s, s), p, comp.get(o, o), s, o)] * n
    return rows


@pytest.fixture(scope="module")
def ref():
    docs = wl.base_docs(200)
    return reference.Reference(list(docs["text"]), wl.REPLICA_STRIDE)


PART = list(range(0, 100)) + [b + wl.REPLICA_STRIDE for b in range(50, 150)]


def test_reference_matches_its_own_rows(ref):
    rows = correct_rows(ref, PART)
    assert len(rows) == sum(ref.expected(PART).values()) > 100
    assert reference.check_partition(rows, ref, PART) == []
    assert reference.check_partition(correct_rows(ref, PART, table_wide=True), ref, PART) == []


def corruptions(row, ref):
    d, sent, subj, pred, obj, subj_s, obj_s = row
    other_pred = next(p for p in ("filter", "group", "order") if p != pred)
    return [
        (d, sent, subj, other_pred, obj, subj_s, obj_s),  # wrong relation
        (d, sent + 1, subj, pred, obj, subj_s, obj_s),  # wrong sentence
        (d + 1, sent, subj, pred, obj, subj_s, obj_s),  # wrong document
        (d, sent, subj, pred, obj, obj_s, obj_s),  # wrong subject surface
        (d, sent, subj + " x", pred, obj, subj_s, obj_s),  # id that is no surface
        # an id above the component minimum
        (d, sent, max(ref.table_components), pred, obj, subj_s, obj_s),
    ]


@pytest.mark.parametrize("which", range(6))
def test_check_fails_on_a_corrupted_row(ref, which):
    rows = correct_rows(ref, PART)
    # a row whose corruptions all change it
    i = next(i for i, r in enumerate(rows) if r[5] != r[6] and r[2] != max(ref.table_components))
    rows[i] = corruptions(rows[i], ref)[which]
    assert reference.check_partition(rows, ref, PART)


def test_check_fails_on_a_missing_or_duplicated_row(ref):
    rows = correct_rows(ref, PART)
    assert reference.check_partition(rows[1:], ref, PART)
    assert reference.check_partition(rows + rows[:1], ref, PART)


def test_check_fails_when_components_merge(ref):
    # one id for every surface, the smallest of the table: no id exceeds
    # its component's minimum, but surfaces of unrelated components merge
    assert len(set(ref.table_components.values())) > 1
    lowest = min(ref.table_components)
    rows = [(r[0], r[1], lowest, r[3], lowest, r[5], r[6]) for r in correct_rows(ref, PART)]
    assert reference.check_partition(rows, ref, PART)


def test_check_fails_when_co_mentioned_surfaces_split(ref):
    rows = correct_rows(ref, PART)
    comp = ref.components(PART)
    # a written surface that is not its component's minimum gets itself as id
    victim = next(r[5] for r in rows if comp.get(r[5], r[5]) != r[5])
    split = [
        (r[0], r[1], r[5] if r[5] == victim else r[2], r[3], r[6] if r[6] == victim else r[4], r[5], r[6])
        for r in rows
    ]
    assert reference.check_partition(split, ref, PART)


def test_busy_time_is_the_union_of_job_spans_in_the_window():
    def job(start, end):
        return sparktrace.Job(0, "", start, end)

    assert sparktrace.busy_ms([job(0, 10), job(5, 20), job(30, 40)], 0, 100) == 30
    assert sparktrace.busy_ms([job(0, 10), job(2, 3)], 5, 100) == 5
    assert sparktrace.busy_ms([job(0, 10), job(50, 200)], 0, 100) == 60


# -- the benchmark end to end --------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_reported(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    proc = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "resume-append", "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == wanted
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
