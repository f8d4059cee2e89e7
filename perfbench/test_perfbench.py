"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The unit tests are fast. ``test_smoke`` runs every workload untraced
and traced at tiny sizes through the launcher (a few minutes on four
cores) and checks the output contract.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import workload  # noqa: E402


def test_tracer_self_time_excludes_children():
    tr = workload.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.table()
    assert inner["parent"] == 0 and outer["parent"] is None
    assert outer["self_s"] == pytest.approx(outer["dur_s"] - inner["dur_s"])


def test_datagen_is_seeded(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 0.001, 7)
    b = datagen.write_tables(str(tmp_path / "b"), 0.001, 7)
    c = datagen.write_tables(str(tmp_path / "c"), 0.001, 8)

    def digest(d, t):
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()

    assert digest(a, "lineitem") == digest(b, "lineitem")
    assert digest(a, "lineitem") != digest(c, "lineitem")
    docs = pq.read_table(os.path.join(a, "documents.parquet")).to_pydict()
    assert len(docs["doc_id"]) == 500
    # planted near-duplicates: some document shares most words with one
    # of the 60 before it
    texts = [set(t.split()) for t in docs["text"]]
    near = sum(
        any(len(texts[i] & texts[j]) / len(texts[i] | texts[j]) >= 0.8
            for j in range(max(i - 60, 0), i))
        for i in range(1, len(texts))
    )
    assert near >= 10


def test_backlog_keys_are_skewed_to_one_shard():
    keys = workload._backlog_keys(3, 4000)
    shard0 = sum(
        int.from_bytes(hashlib.md5(k.encode()).digest(), "big") * 4 >> 128 == 0
        for k in keys
    )
    assert 0.55 < shard0 / len(keys) < 0.70  # half pinned + a quarter of the rest
    assert workload._backlog_keys(3, 50) == workload._backlog_keys(3, 50)


def test_event_log_totals(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "produce"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 2 * 10**9,
            "JVM GC Time": 100,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            "Shuffle Read Metrics": {"Fetch Wait Time": 0},
            "Input Metrics": {"Bytes Read": 0}}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    by_group = workload.parse_event_log(str(tmp_path))
    assert set(by_group) == {"produce"}
    out = workload.exec_totals(by_group)
    assert out["exec.jobs"] == 1 and out["exec.tasks"] == 1
    assert out["exec.run_s"] == pytest.approx(1.5)
    assert out["exec.cpu_s"] == pytest.approx(2.0)
    assert out["exec.shuffle_write_mb"] == pytest.approx(1.0)
    halves = workload.exec_totals(by_group, lambda g: g == "produce", per=2)
    assert halves["exec.run_s"] == pytest.approx(0.75)
    assert workload.exec_totals(by_group, lambda g: False)["exec.tasks"] == 0


def test_delivery_faults():
    backlog = {("s0", "1"): 0, ("s1", "2"): 1}
    seen = {("s0", "1"): 1, ("s1", "2"): 1, ("s2", "3"): 1}
    live = {("s2", "3")}
    redrain = [("s0", "1"), ("s1", "2"), ("s2", "3")]
    clean = workload.delivery_faults(2, backlog, seen, live, live, redrain)
    assert sum(clean.values()) == 0
    # the writer placed payload 1 twice: two records, distinct sequences
    twice = {**backlog, ("s3", "4"): 1}
    seen_twice = {**seen, ("s3", "4"): 1}
    faults = workload.delivery_faults(
        2, twice, seen_twice, live, live, redrain + [("s3", "4")]
    )
    assert faults["duplicate_payloads"] == 1 and sum(faults.values()) == 1
    # one record delivered twice, one live record never delivered
    faults = workload.delivery_faults(
        2, backlog, {**seen, ("s0", "1"): 2}, live, live | {("s2", "9")}, redrain
    )
    assert faults["duplicates"] == 1 and faults["missing_live"] == 1
    assert sum(faults.values()) == 2


def test_stream_phases_use_last_event_per_batch():
    def ev(batch, rows, trig):
        return {"runId": "r", "batchId": batch, "numInputRows": rows,
                "durationMs": {"triggerExecution": trig, "addBatch": trig - 10,
                               "latestOffset": 10}}

    out, batches = run._stream_phases(
        [ev(0, 5, 100), ev(0, 5, 120), ev(1, 0, 50), ev(2, 7, 300)], "stream"
    )
    assert out["stream.batches"] == 2 and len(batches) == 2
    assert out["stream.trigger_ms"] == pytest.approx(210)
    assert out["stream.phases_share_of_trigger"] == pytest.approx(1.0)


def test_stripped_directory_fails_fast(tmp_path):
    # only BENCHMARK.json and the benchmark's own files: no program
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""


def test_smoke():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        capture_output=True, text=True, timeout=1500,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    finals = [json.loads(line) for line in out.stdout.splitlines()
              if line.startswith('{"correct"')]
    assert len(finals) == 2 * len(run.SIZES)
    for doc in finals:
        assert set(doc) == {"correct", "attempted", "failed", "metrics"}
        assert doc["correct"] and doc["failed"] == 0 and doc["attempted"] >= 1
        names = set(doc["metrics"])
        assert names in (set(run.E2E_UNITS), set(run.PER_LAYER_UNITS))
        assert all(m["value"] > 0 for m in doc["metrics"].values())
