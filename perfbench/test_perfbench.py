"""Self-tests of the benchmark: ``python -m pytest perfbench -q`` from the
repository root.  The smoke tests start Spark (about 3 minutes in all)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.eventlog import layer_metrics  # noqa: E402
from perfbench.oracle import Corpus, mismatch  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

SUMMARY_BYTES = 1536


def _job(job_id, stages, label=None):
    props = {"spark.rdd.scope": "{}"}
    if label:
        props["spark.job.description"] = label
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, run_ms, cpu_ns, sw_bytes=0, sw_recs=0, in_bytes=0, in_recs=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": sw_bytes,
                                  "Shuffle Records Written": sw_recs},
        "Input Metrics": {"Bytes Read": in_bytes, "Records Read": in_recs}}}


def _write_log(path, events):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_eventlog_sums_task_metrics_per_label(tmp_path):
    # a rolling log of one app and a plain log of another that reuses stage ids
    _write_log(str(tmp_path / "eventlog_v2_app-1" / "events_1_app-1"), [
        {"Event": "SparkListenerLogStart"},
        _job(0, [0, 1], "layer.a"),
        _task(0, 1500, 2_000_000_000, sw_bytes=100, sw_recs=4),
        _task(1, 500, 500_000_000, in_bytes=64, in_recs=8),
        _job(1, [1, 2]),  # stage 1 stays with job 0; stage 2 is unlabelled
        _task(2, 9000, 9_000_000_000),
    ])
    _write_log(str(tmp_path / "eventlog_v2_app-1" / "appstatus_app-1"), [])
    _write_log(str(tmp_path / "app-2"), [
        _job(0, [0], "layer.b"),
        _task(0, 250, 125_000_000, in_recs=3),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0},  # failed task: no metrics
    ])
    got = layer_metrics(str(tmp_path))
    assert set(got) == {"layer.a", "layer.b"}
    a, b = got["layer.a"], got["layer.b"]
    assert a["executor_run_s"] == pytest.approx(2.0)
    assert a["executor_cpu_s"] == pytest.approx(2.5)
    assert (a["shuffle_write_bytes"], a["shuffle_write_records"]) == (100, 4)
    assert (a["input_bytes"], a["input_records"], a["tasks"]) == (64, 8, 2)
    assert (b["executor_run_s"], b["input_records"], b["tasks"]) == (0.25, 3, 1)


def test_tracer_self_times_add_up_and_mark_concurrency():
    tr = Tracer()
    with tr.span("root"):
        time.sleep(0.01)
        with tr.span("child"):
            with tr.span("leaf"):
                time.sleep(0.02)

            def side():
                with tr.span("side"):
                    time.sleep(0.03)

            th = threading.Thread(target=side)
            th.start()
            th.join(timeout=5)
            assert not th.is_alive()
    layers = tr.layers()
    blocking = sum(d["self_s"] for d in layers.values() if not d["concurrent"])
    assert blocking == pytest.approx(layers["root"]["wall_s"], abs=1e-9)
    assert layers["side"]["concurrent"] and not layers["child"]["concurrent"]
    assert layers["child"]["self_s"] >= 0.03  # the side thread is not subtracted


def test_oracle_matches_hand_computed_bm25():
    c = Corpus()
    c.extend(["a b a", "b c", "c c c d"])
    assert (len(c), c.total_tokens(3), c.df("c", 3), c.df("c", 1)) == (3, 9, 2, 0)
    # doc 1 "b c": dl 2, avgdl 3, df(b) = 2, tf 1
    idf = __import__("math").log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    want = idf * 2.2 * (1 / (1 + 1.2 * (0.25 + 0.75 * 2 / 3)))
    and_hits = c.topk(["c", "b"], "and", 10)
    assert [d for d, _ in and_hits] == [1]
    assert and_hits[0][1] > want  # b and c both contribute
    assert c.topk(["b"], "or", 10)[0] == (1, pytest.approx(want, abs=1e-12))
    assert c.topk(["zzz"], "and", 10) == [] and c.topk(["a", "zzz"], "and", 10) == []


def test_corrupted_result_is_counted(tmp_path):
    from perfbench.workloads import Search, corpus_counts

    texts = ["spark join merge", "spark spark index", "join index data", "merge data data"]
    wl = Search(None, None, str(tmp_path), 0, {})
    wl.queries = [(["join", "spark"], "wand", False), (["data"], "and", True)]
    corpus = Corpus()
    corpus.extend(texts)
    good0 = corpus.topk(["join", "spark"], "or", 10)
    good1 = corpus.topk(["data"], "and", 10)
    corrupted = [(d, s + 1e-6) for d, s in good1]
    wl._record(0, good0)
    wl._record(1, corrupted)
    wl._record(0, good0)
    wl._record(0, good0[::-1])  # a repeat that changed its answer
    failed, problems = wl.check_queries(corpus)
    assert (wl.sent, failed) == (4, 2)
    assert any("score off" in p for p in problems) and any("repeats" in p for p in problems)
    assert mismatch(good1[::-1], good1) is not None
    # the build / ingest gate compares these counts with the index's own
    assert corpus_counts(corpus, 4) == {"n_docs": 4, "total_tokens": 12,
                                        "df": {"spark": 2}}
    assert corpus_counts(corpus, 1)["df"] == {"spark": 1}


def _run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["search", "ingest_batch"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_summary_line(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = proc.stdout.strip().splitlines()[-1]
    summary = json.loads(line)
    assert set(summary) == {"correct", "attempted", "failed", "metrics"}
    assert summary["correct"] is True and summary["failed"] == 0 and summary["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in summary["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    if trace == 0:
        assert len(line.encode()) <= SUMMARY_BYTES
        assert all(v["value"] > 0 for v in summary["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = _run("search", 0, cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout.strip() == ""
