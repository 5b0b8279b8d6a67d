import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import (  # noqa: E402
    covered,
    fold,
    parse_metric,
    parse_time,
    self_times,
    top_layers,
)


def test_parse_metric_units():
    assert parse_metric("1,234") == 1234
    assert parse_metric("5 ms") == pytest.approx(0.005)
    assert parse_metric("2.0 m") == 120
    assert parse_metric("3.5 MiB") == 3.5 * 2**20
    per_task = "total (min, med, max (stageId: taskId))\n12.6 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 3.0: task 5))"
    assert parse_metric(per_task) == pytest.approx(12.6 * 1024)
    with pytest.raises(ValueError):
        parse_metric("7 parsecs")


def test_parse_time_is_utc_epoch():
    assert parse_time("1970-01-01T00:00:01.500GMT") == 1.5
    assert parse_time(None) is None


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered([], 0, 1) == 0


def _span(id_, parent, layer, start, end):
    return {"id": id_, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span("p", None, "pass", 0, 10),
        _span("o", "p", "op", 1, 9),
        _span("b", "o", "build", 1, 3),
        _span("a", "o", "action", 3, 9),
        _span("j", "a", "job", 4, 8),
        # overlapping stages cover [4, 7] of the job once
        _span("s1", "j", "stage", 4, 6),
        _span("s2", "j", "stage", 5, 7),
    ]
    selfs = self_times(spans)
    assert selfs == pytest.approx(
        {"pass": 2, "op": 0, "build": 2, "action": 2, "job": 1, "stage": 4}
    )
    # with the stages' union, [4, 7], self times add up to the pass
    assert sum(v for k, v in selfs.items() if k != "stage") + 3 == pytest.approx(10)
    assert top_layers(selfs) == ["stage", "pass", "build"]


def _t(seconds: float) -> str:
    whole = int(seconds)
    ms = round((seconds - whole) * 1000)
    return f"1970-01-01T00:{whole // 60:02d}:{whole % 60:02d}.{ms:03d}GMT"


def test_fold_synthetic_pass():
    ops = [{"id": "p1/op0", "group": "perfbench-p1-op0", "start": 10.0, "end": 20.0,
            "build": (10.0, 12.0), "action": (12.0, 20.0)}]
    store = {
        "jobs": [
            # submitted during build: an eager checkpoint
            {"jobId": 1, "jobGroup": "perfbench-p1-op0", "submissionTime": _t(11),
             "completionTime": _t(11.5), "stageIds": [1]},
            {"jobId": 2, "jobGroup": "perfbench-p1-op0", "submissionTime": _t(13),
             "completionTime": _t(16), "stageIds": [2, 3]},
            # no group, but inside the op's interval
            {"jobId": 3, "jobGroup": None, "submissionTime": _t(15),
             "completionTime": _t(18), "stageIds": [4]},
            # another op's job
            {"jobId": 4, "jobGroup": "perfbench-p1-op1", "submissionTime": _t(14),
             "completionTime": _t(15), "stageIds": [5]},
        ],
        "stages": [
            {"stageId": 1, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 2,
             "executorRunTime": 1000, "executorCpuTime": 5e8, "jvmGcTime": 10,
             "submissionTime": _t(11), "completionTime": _t(11.5)},
            {"stageId": 2, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
             "executorRunTime": 8000, "executorCpuTime": 4e9, "shuffleWriteBytes": 100,
             "shuffleWriteTime": 2e9, "submissionTime": _t(13), "completionTime": _t(14)},
            # a retried stage counts once, at its latest attempt
            {"stageId": 2, "attemptId": 1, "status": "COMPLETE", "numCompleteTasks": 4,
             "executorRunTime": 4000, "executorCpuTime": 2e9, "shuffleWriteBytes": 50,
             "shuffleWriteTime": 1e9, "submissionTime": _t(14), "completionTime": _t(15)},
            {"stageId": 3, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
             "executorRunTime": 3000, "shuffleReadBytes": 50, "shuffleFetchWaitTime": 500,
             "submissionTime": _t(15), "completionTime": _t(16)},
            {"stageId": 4, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 1,
             "executorRunTime": 4000, "diskBytesSpilled": 7,
             "submissionTime": _t(15), "completionTime": _t(18)},
            {"stageId": 5, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 9,
             "executorRunTime": 99999},
        ],
        "sql": [
            {"successJobIds": [2], "nodes": [
                {"nodeName": "Scan parquet t", "metrics": [
                    {"name": "number of output rows", "value": "1,000"},
                    {"name": "size of files read", "value": "2.0 KiB"},
                    {"name": "scan time", "value": "total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)"}]},
                {"nodeName": "BroadcastExchange", "metrics": [
                    {"name": "time to build", "value": "40 ms"},
                    {"name": "data size", "value": "1.0 MiB"}]},
                {"nodeName": "ArrowEvalPython", "metrics": [
                    {"name": "data sent to Python workers", "value": "3.0 KiB"},
                    {"name": "data returned from Python workers", "value": "1.0 KiB"}]},
            ]},
            {"successJobIds": [4], "nodes": [
                {"nodeName": "Scan parquet u", "metrics": [
                    {"name": "number of output rows", "value": "5"}]}]},
            # the plan under a lazy checkpoint: no job of its own, raw
            # accumulator values, the op's group
            {"successJobIds": [], "group": "perfbench-p1-op0", "nodes": [
                {"nodeName": "MapInPandas", "metrics": [
                    {"name": "data sent to Python workers", "value": "1000 B"},
                    {"name": "data returned from Python workers", "value": "24 B"}]},
                {"nodeName": "Scan parquet v", "metrics": [
                    {"name": "number of output rows", "value": "7"},
                    {"name": "scan time", "value": "5 ms"}]}]},
            {"successJobIds": [], "group": "perfbench-p1-op1", "nodes": [
                {"nodeName": "MapInPandas", "metrics": [
                    {"name": "data sent to Python workers", "value": "99 B"}]}]},
        ],
    }
    m, spans = fold(store, ops, cores=4)
    assert m["exec.jobs"] == 3
    assert m["plans.build_jobs"] == 1
    assert m["exec.stages"] == 4
    assert m["exec.tasks"] == 2 + 4 + 4 + 1
    assert m["exec.cpu_s"] == pytest.approx(0.5 + 2.0)
    assert m["exec.gc_s"] == pytest.approx(0.010)
    # (1 + 4 + 3 + 4) s of executor run time over 10 s x 4 cores
    assert m["exec.core_util"] == pytest.approx(12 / 40)
    # action [12, 20] minus the union of its jobs, [13, 18]
    assert m["driver.gap_s"] == pytest.approx(3.0)
    assert m["exchange.write_bytes"] == 50
    assert m["exchange.write_s"] == pytest.approx(1.0)
    assert m["exchange.read_bytes"] == 50
    assert m["exchange.fetch_wait_s"] == pytest.approx(0.5)
    assert m["spill.bytes"] == 7
    assert m["catalog.scan_rows"] == 1000 + 7
    assert m["catalog.scan_bytes"] == 2048
    assert m["catalog.scan_s"] == pytest.approx(0.25 + 0.005)
    assert m["broadcast.build_s"] == pytest.approx(0.04)
    assert m["broadcast.bytes"] == 2**20
    assert m["python.bytes_sent"] == 3072 + 1000
    assert m["python.bytes_returned"] == 1024 + 24
    parents = {s["id"]: s["parent"] for s in spans}
    assert parents["p1/op0/job1"] == "p1/op0/build"
    assert parents["p1/op0/job2"] == "p1/op0/action"
    assert parents["p1/op0/job2/stage3"] == "p1/op0/job2"
    assert "p1/op0/job4" not in parents


def test_fold_saved_status_store():
    """A status-store snapshot saved from a real traced pass folds to
    the totals of its raw lists. Its two ops are the pandas-UDF query
    multimodal_phash_near_dups, whose MapInPandas kernel runs under a
    lazy localCheckpoint (an execution with no job of its own, which
    the tracer attributes to the op by its group), and the /collect
    query collect_aggregated."""
    with open(os.path.join(HERE, "status_store.json")) as fh:
        saved = json.load(fh)
    store, ops = saved["store"], saved["ops"]
    m, spans = fold(store, ops, cores=4)
    groups = {o["group"] for o in ops}
    jobs = [j for j in store["jobs"] if j.get("jobGroup") in groups]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    latest = {}
    for st in store["stages"]:
        if st["status"] != "SKIPPED" and st["stageId"] in stage_ids:
            if st["attemptId"] >= latest.get(st["stageId"], {}).get("attemptId", -1):
                latest[st["stageId"]] = st
    assert m["exec.jobs"] == len(jobs) > 0
    assert m["exec.stages"] == len(latest)
    assert m["exec.tasks"] == sum(s["numCompleteTasks"] for s in latest.values())
    assert m["exchange.write_bytes"] == sum(s["shuffleWriteBytes"] for s in latest.values())
    scan_rows = sum(
        int(metric["value"].replace(",", ""))
        for ex in store["sql"]
        for node in ex["nodes"] if node["nodeName"].startswith("Scan parquet")
        for metric in node["metrics"] if metric["name"] == "number of output rows"
    )
    assert m["catalog.scan_rows"] == scan_rows > 0
    assert m["broadcast.bytes"] > 0
    lazy = [ex for ex in store["sql"] if ex.get("group") in groups]
    assert any(n["nodeName"] == "MapInPandas" for ex in lazy for n in ex["nodes"])
    assert m["python.bytes_sent"] > 0
    assert m["python.bytes_returned"] > 0
    assert 0 < m["exec.core_util"] <= 1
    assert 0 <= m["driver.gap_s"] <= sum(o["end"] - o["start"] for o in ops)
    assert sum(s["layer"] == "job" for s in spans) == len(jobs)
    # every span of an op carries the op's job group
    by_group = {o["group"] for o in ops}
    assert {s["group"] for s in spans} <= by_group
