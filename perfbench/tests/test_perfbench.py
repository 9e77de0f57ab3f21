"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle

import pandas as pd
import pytest

from perfbench import measure, run, tables
from perfbench.ingestgen import ListingFetcher, build_cycle, sanitize
from perfbench.trace import attribute_jobs, group_name, parse_event_log
from perfbench.workloads import compare_frames

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_digest(root: str) -> dict[str, tuple[str, int]]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (hashlib.sha256(fh.read()).hexdigest(),
                                                 int(os.stat(p).st_mtime))
    return out


def test_tables_are_deterministic_per_seed():
    a, b, c = tables.build_tables(7), tables.build_tables(7), tables.build_tables(8)
    assert set(a) == set(tables.TABLE_NAMES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 60_000


def test_ingest_listing_is_byte_identical_per_seed(tmp_path):
    one = build_cycle(str(tmp_path / "a"), seed=3, cycle=1, n_files=60)
    two = build_cycle(str(tmp_path / "b"), seed=3, cycle=1, n_files=60)
    other = build_cycle(str(tmp_path / "c"), seed=4, cycle=1, n_files=60)
    assert one.manifest == two.manifest and one.written == two.written
    assert _tree_digest(one.root) == _tree_digest(two.root)
    assert _tree_digest(one.root) != _tree_digest(other.root)


def test_ingest_cycle_goldens(tmp_path):
    prev = build_cycle(str(tmp_path / "c0"), seed=5, cycle=0, n_files=200)
    cyc = build_cycle(str(tmp_path / "c1"), seed=5, cycle=1, n_files=200,
                      prev_written=prev.written)
    # one file per path, faults quarantined, repeats of cycle 0 skipped
    assert len(set(cyc.manifest)) == len(cyc.manifest)
    assert set(cyc.quarantine.values()) <= {"FileNotFoundError", "size mismatch"}
    assert len(cyc.written) < len(cyc.records)
    assert any(r[5] for r in cyc.records), "zip members are exploded"
    # the same basename recurs, so blob paths collide
    paths = [(r[0], r[1], r[2]) for r in cyc.written]
    assert len(set(paths)) < len(paths)
    assert sanitize("résumé final.txt") == "r-sum- final.txt"


def test_fetcher_pickles_by_reference_and_reports_listed_size(tmp_path):
    cyc = build_cycle(str(tmp_path), seed=1, cycle=0, n_files=400)
    fetcher = pickle.loads(pickle.dumps(ListingFetcher(cyc.host_roots, cyc.listed_sizes)))
    assert type(fetcher).__module__ == "perfbench.ingestgen"
    bad = next(f for f in cyc.files if f.fault == "bad_size")
    size, _ = fetcher.stat(bad.server, bad.remote_path)
    assert size == len(fetcher.read(bad.server, bad.remote_path)) + 1
    missing = next(f for f in cyc.files if f.fault == "missing")
    with pytest.raises(FileNotFoundError):
        fetcher.stat(missing.server, missing.remote_path)


def _task_end(stage, attempt, cpu_ns, gc_ms, shuffle_b, spill_b, input_b, py=None):
    accs = [{"Name": k, "Update": v} for k, v in (py or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Attempt": attempt, "Accumulables": accs},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill_b,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
            "Input Metrics": {"Bytes Read": input_b},
        },
    }


def test_event_log_parser_totals_on_a_tiny_log():
    build, exec_ = group_name(1, "q", "build"), group_name(1, "q", "exec")
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 4, "time": 1_000},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_250,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": exec_,
                                              "spark.sql.execution.id": "4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_400,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": exec_,
                                          "spark.sql.execution.id": "4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 900,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": build}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 950,
         "Stage IDs": [4], "Properties": {"sql.streaming.queryId": "qid-1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
        _task_end(0, 0, 2_000_000_000, 100, 3_000_000, 0, 5_000_000),
        _task_end(0, 1, 1_000_000_000, 50, 1_000_000, 2_000_000, 0,
                  {"time to run Python workers": 1500, "data sent to Python workers": 400_000,
                   "data returned from Python workers": "600000",
                   "time to start Python workers": 250}),
        _task_end(2, 0, 500_000_000, 0, 0, 0, 0),
        _task_end(4, 0, 0, 0, 0, 0, 1_000_000),
    ]
    jobs = parse_event_log(json.dumps(e) for e in events)
    c0 = jobs[0]["counters"]
    assert (c0["tasks"], c0["task_retries"], c0["stages"]) == (2, 1, 1)
    assert c0["executor_cpu_s"] == pytest.approx(3.0)
    assert c0["gc_s"] == pytest.approx(0.15)
    assert c0["shuffle_write_mb"] == pytest.approx(4.0)
    assert c0["spill_mb"] == pytest.approx(2.0) and c0["input_mb"] == pytest.approx(5.0)
    assert c0["python_run_s"] == pytest.approx(1.5) and c0["python_boot_s"] == pytest.approx(0.25)
    assert c0["python_data_mb"] == pytest.approx(1.0)
    assert c0["plan_s"] == pytest.approx(0.25)  # execution start to its first job only
    assert jobs[1]["counters"]["plan_s"] == 0

    by_key = attribute_jobs(jobs, {"qid-1": (1, "q")})
    assert by_key[(1, "q", "exec")]["jobs"] == 2
    assert by_key[(1, "q", "exec")]["tasks"] == 3
    assert by_key[(1, "q", "build")]["jobs"] == 1
    assert by_key[(1, "q", "stream")]["jobs"] == 1  # the stream's micro-batch job
    assert by_key[(1, "q", "stream")]["input_mb"] == pytest.approx(1.0)


class _FakeOp:
    module = "operators"

    def __init__(self, name, result, expected):
        self.name, self.result, self.expected = name, result, expected
        self.prepared = []

    def prepare(self, pass_idx):
        self.prepared.append(pass_idx)

    def build(self, spark, tracer=None):
        return self.result

    def execute(self, handle):
        return handle

    def check(self, out):
        return compare_frames(out, self.expected)


def test_injected_output_mismatch_counts_in_failed_ratio():
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    wrong = good.assign(v=[0.5, 1.26])
    assert compare_frames(good.iloc[::-1], good) is None  # row order does not matter
    assert compare_frames(wrong, good) == "1 rows differ"
    ops = [_FakeOp("ok", good, good), _FakeOp("bad", wrong, good)]
    passes, outputs = measure.run_passes(None, ops, seed=1, seconds=0)
    measure.check_outputs(outputs)
    attempted, failed = measure.failure_counts(passes)
    assert (attempted, failed) == (4, 2)
    assert {r["op"] for p in passes for r in p["ops"] if not r["ok"]} == {"bad"}


class _FakeTracer:
    def __init__(self):
        self.enabled = False

    def enable(self):
        self.enabled = True

    def disable(self):
        self.enabled = False

    def phase(self, pass_idx, op, phase):
        assert self.enabled

    def op_done(self, pass_idx, op):
        pass

    def pass_done(self):
        pass


def test_traced_warm_pass_pairs_executions_on_the_same_inputs():
    frame = pd.DataFrame({"k": [1]})
    ops = [_FakeOp(f"op{i}", frame, frame) for i in range(4)]
    passes, outputs = measure.run_passes(None, ops, seed=3, seconds=0, tracer=_FakeTracer())
    cold, warm = passes
    assert [r["traced"] for r in cold["ops"]] == [True] * 4
    assert all(op.prepared == [0, 1] for op in ops)  # one input per pass, both sides
    pairs = [warm["ops"][i:i + 2] for i in range(0, 8, 2)]
    assert all(a["op"] == b["op"] and a["traced"] != b["traced"] for a, b in pairs)
    assert [a["traced"] for a, _ in pairs] == [False, True, False, True]
    assert warm["traced_seconds"] == pytest.approx(
        sum(r["build_s"] + r["exec_s"] for r in warm["ops"] if r["traced"]))
    measure.check_outputs(outputs)
    assert measure.failure_counts(passes) == (12, 0)


def test_result_line_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {m["unit"] for m in spec["per_layer"]} <= {"s", "MB", "ratio", "count"}
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == ["relational", "curation_ingest"]
