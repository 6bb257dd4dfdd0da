"""Smoke test of the benchmark at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced on a tiny corpus in one Spark
session, and checks that the result names exactly the metrics of
BENCHMARK.json, that spans carry the pinned keys, and that the oracle
gate rejects corrupted answers.  Two more cases run the command line:
once for its last output line, once in a directory that holds only the
benchmark, where it must fail without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gate, run, trace  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = 0.03

SPAN_NAMES = {
    "session.start", "setup", "transcripts.generate", "builder.build_index",
    "reader.persist", "search", "dsl.parse", "executor.plan", "executor.exec",
    "reader.analyze", "reader.term_stats", "restapi.search_request",
    "incremental.append_batch", "reader.reopen", "merge.merge_index",
}


@pytest.fixture(scope="module")
def session_work():
    """One Spark session for the in-process runs.  Teardown undoes what
    ``run._isolate`` changed and forgets the stopped JVM, so tests that
    run later in the same process start from a clean state."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        pytest.skip("needs its own Spark session; run this file in its own process")
    env, tempdir = dict(os.environ), tempfile.tempdir
    work = os.path.join(HERE, ".work", f"smoke-{os.getpid()}")
    run._isolate(work)
    holder = argparse.Namespace(spark=None)
    try:
        yield holder
    finally:
        try:
            run._stop(holder)
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            os.environ.clear()
            os.environ.update(env)
            tempfile.tempdir = tempdir
            shutil.rmtree(work, ignore_errors=True)


def _run(holder, workload, trace_on):
    args = argparse.Namespace(workload=workload, seed=5, seconds=1.0,
                              trace=trace_on, scale=TINY)
    bench = run.Bench(args)
    try:
        result = bench.run()
    finally:
        holder.spark = bench.spark
        shutil.rmtree(bench.work, ignore_errors=True)
    return result


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_untraced_and_traced(session_work, workload):
    assert set(run.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}

    res = _run(session_work, workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 5
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float) and m["value"] > 0, name

    res = _run(session_work, workload, 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    spans = res["details"]["spans"]
    assert all(tuple(sp) == trace.SPAN_KEYS for sp in spans)
    assert SPAN_NAMES <= {sp["name"] for sp in spans}
    # parse + plan + exec spans cover the traced search wall time
    assert res["metrics"]["trace.search_coverage"]["value"] > 0.97


def test_gate_rejects_corrupted_answers():
    from opensearch_spark.oracle import OracleIndex
    from opensearch_spark.transcripts import generate_pandas

    rows = generate_pandas(np.arange(40), 3)
    orc = OracleIndex(rows.to_dict("records"))
    q = {"match": {"text": "the w0001 w0002"}}
    gold = orc.topk(gate.scores(orc, q), 10)
    assert len(gold) == 10
    ok = {"kind": "search", "body": q, "rows": list(gold)}
    assert gate.check_op(orc, ok) is None

    swapped = list(gold)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    assert gate.check_op(orc, dict(ok, rows=swapped)) is not None
    off_score = [(gold[0][0], gold[0][1] * (1 + 1e-4))] + list(gold[1:])
    assert gate.check_op(orc, dict(ok, rows=off_score)) is not None
    missing = list(gold[:-1])
    assert gate.check_op(orc, dict(ok, rows=missing)) is not None
    assert gate.check_op(orc, dict(ok, error="boom")) == "boom"

    # an appended batch changes the corpus statistics, so the base
    # answer no longer passes for the appended state
    appended = pd.concat([rows, generate_pandas(np.arange(40, 60), 3)])
    orc = OracleIndex(appended.to_dict("records"))
    assert gate.check_op(orc, ok) is not None

    # REST: a right answer passes; a wrong aggregation bucket does not
    sc = gate.scores(orc, q)
    top = orc.topk(sc, 10)
    resp = {
        "hits": {"total": {"value": len(sc), "relation": "eq"},
                 "hits": [{"_id": f"{c}:{t}", "_score": s} for (c, t), s in top]},
        "aggregations": {"roles": {"buckets": []}, "per_hour": {"buckets": []}},
    }
    rows_frame = pd.DataFrame([orc.rows[d] for d in sc])
    matched = rows_frame.groupby("role").size()
    resp["aggregations"]["roles"]["buckets"] = [
        {"key": k, "doc_count": int(v)} for k, v in matched.items()]
    hours = rows_frame["ts"].dt.floor("h")
    resp["aggregations"]["per_hour"]["buckets"] = [
        {"key": k.value // 1_000_000, "doc_count": int(v)}
        for k, v in hours.groupby(hours).size().items()]
    body = {"query": q, "size": 10, "track_total_hits": True}
    assert gate.check_rest(orc, body, resp) is None
    resp["aggregations"]["roles"]["buckets"][0]["doc_count"] += 1
    assert "terms(role)" in gate.check_rest(orc, body, resp)


def test_command_line_prints_result_last():
    p = subprocess.run(
        SPEC["command"] + ["--workload", "serve-tail", "--seed", "2", "--seconds", "1",
                           "--trace", "0", "--scale", str(TINY)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True
    assert [m for m in last["metrics"]] == [m["name"] for m in SPEC["end_to_end"]]
    assert not [d for d in os.listdir(os.path.join(HERE, ".work"))
                if d.startswith("serve-tail-s2-t0-")]


def test_command_line_fails_without_the_engine():
    # a directory holding only BENCHMARK.json and the benchmark fails
    # fast, without printing a result
    bare = os.path.join(HERE, ".work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run(
            SPEC["command"] + ["--workload", "serve-hot", "--seed", "1", "--seconds", "1",
                               "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
