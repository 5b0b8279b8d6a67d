"""Traced runs: spans recorded around calls into the program, plus
Spark's own status store, folded into per-layer metrics.

The span tree is pass -> op -> (build, action) -> Spark job -> stage.
The benchmark records pass, op, build and action spans itself; job and
stage spans come from the status store's REST API (``/jobs``,
``/stages``, ``/sql?details=true``, ``/storage/rdd``). Every job an op
submits carries the op's job-group ID; a job submitted from a thread
that does not carry the group is matched to the op whose interval
contains its submission time. The plan under a lazy
``localCheckpoint`` runs no job of its own and the REST API shows it
without metrics, so its metrics are read from the driver's
accumulators (``StatusStore.hold_lazy``).

The folding functions (``parse_metric``, ``fold``, ``self_times``) are
pure, so the tests fold a saved status-store snapshot without Spark.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

GROUP_PREFIX = "perfbench-"

# pass number of the ingest pass (a fresh vintage's cold fixture and
# artifact builds, a dataset sink write, a streaming drain)
INGEST_PASS = -1

# every per-layer metric a traced run reports, with its unit (zero
# where the layer does no work on a workload)
LAYER_METRICS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_util": "ratio",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "driver.gap_s": "s",
    "catalog.scan_rows": "count",
    "catalog.scan_bytes": "B",
    "catalog.scan_s": "s",
    "exchange.write_bytes": "B",
    "exchange.read_bytes": "B",
    "exchange.write_s": "s",
    "exchange.fetch_wait_s": "s",
    "spill.bytes": "B",
    "broadcast.build_s": "s",
    "broadcast.bytes": "B",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "python.udf_s": "s",
    "checkpoint.bytes": "B",
    "fixtures.build_s": "s",
    "fixtures.bytes_written": "B",
    "fixtures.register_s": "s",
    "artifacts.misses": "count",
    "artifacts.bytes_written": "B",
    "artifacts.first_serve_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
}

# the layers only the ingest pass exercises: a traced run reports them
# from that pass, and every other layer from its traced warm passes
INGEST_LAYERS = tuple(
    k for k in LAYER_METRICS
    if k.split(".")[0] in ("sinks", "streaming", "artifacts")
    or k in ("fixtures.build_s", "fixtures.bytes_written")
)

SPAN_LAYERS = ("pass", "op", "build", "action", "job", "stage")

# SQL operator metric -> layer metric, by the operator that reports it
_SCAN_METRICS = {
    "number of output rows": "catalog.scan_rows",
    "size of files read": "catalog.scan_bytes",
    "scan time": "catalog.scan_s",
}
_BROADCAST_METRICS = {
    "time to build": "broadcast.build_s",
    "data size": "broadcast.bytes",
}
# every Python/Arrow evaluation operator reports these
_PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

# SQL metric type -> the unit the UI prints its raw value in
_RAW_UNITS = {"size": " B", "timing": " ms", "nsTiming": " ns"}

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number in bytes, seconds or
    rows. Per-task metrics print ``total (min, med, max ...)`` on a
    first line and the figures on the second; the total comes first."""
    line = text.strip().splitlines()[-1]
    m = _NUM.search(line)
    if m is None:
        raise ValueError(f"no number in SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNITS[unit]


def parse_time(text: str | None) -> float | None:
    """Status-store timestamp (``2026-10-17T13:05:01.123GMT``) as epoch
    seconds."""
    if not text:
        return None
    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval its child spans cover, summed by layer."""
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {layer: 0.0 for layer in SPAN_LAYERS}
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["layer"]] = out.get(s["layer"], 0.0) + dur - covered(
            children.get(s["id"], []), s["start"], s["end"]
        )
    return out


def top_layers(selfs: dict[str, float], k: int = 3) -> list[str]:
    return [name for name, _ in sorted(selfs.items(), key=lambda kv: -kv[1])[:k]]


def _latest_attempts(stages: list[dict]) -> dict[int, dict]:
    latest: dict[int, dict] = {}
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        sid = st["stageId"]
        if sid not in latest or st["attemptId"] > latest[sid]["attemptId"]:
            latest[sid] = st
    return latest


def _jobs_of(op: dict, jobs: list[dict]) -> list[dict]:
    lo, hi = op["start"], op["end"]
    mine = []
    for job in jobs:
        group = job.get("jobGroup") or ""
        if group == op["group"]:
            mine.append(job)
        elif not group.startswith(GROUP_PREFIX):
            t = parse_time(job.get("submissionTime"))
            if t is not None and lo <= t <= hi:
                mine.append(job)
    return mine


def fold(store: dict, ops: list[dict], cores: int) -> tuple[dict[str, float], list[dict]]:
    """Fold one pass's status-store snapshot into layer metrics.

    ``store`` holds the REST lists ``jobs``, ``stages`` and ``sql``. An
    execution that ran no job of its own (the plan under a lazy
    ``localCheckpoint``) carries the ``group`` of the op that ran it.
    Each op is a dict with ``id``, ``group``, ``start``/``end`` and the
    ``build`` and ``action`` intervals (epoch seconds). Returns the
    metrics and the job and stage spans, parented to the op's build
    or action span by submission time."""
    m = {k: 0.0 for k in (
        "plans.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.cpu_s", "exec.gc_s", "driver.gap_s",
        "exchange.write_bytes", "exchange.read_bytes", "exchange.write_s",
        "exchange.fetch_wait_s", "spill.bytes",
        "catalog.scan_rows", "catalog.scan_bytes", "catalog.scan_s",
        "broadcast.build_s", "broadcast.bytes",
        "python.bytes_sent", "python.bytes_returned",
    )}
    stages = _latest_attempts(store.get("stages", []))
    spans: list[dict] = []
    seen: set[int] = set()  # a stage listed by several jobs counts once
    run_s = wall = 0.0
    for op in ops:
        jobs = _jobs_of(op, store.get("jobs", []))
        job_ids = {j["jobId"] for j in jobs}
        wall += op["end"] - op["start"]
        b_hi = op["build"][1]
        a_lo, a_hi = op["action"]
        action_jobs = []
        for job in jobs:
            t0 = parse_time(job.get("submissionTime"))
            t1 = parse_time(job.get("completionTime")) or op["end"]
            in_build = t0 is not None and t0 < b_hi
            m["plans.build_jobs"] += in_build
            if not in_build and t0 is not None:
                action_jobs.append((t0, t1))
            jid = f"{op['id']}/job{job['jobId']}"
            spans.append({"id": jid, "parent": f"{op['id']}/{'build' if in_build else 'action'}",
                          "layer": "job", "name": f"job {job['jobId']}", "group": op["group"],
                          "start": t0 if t0 is not None else t1, "end": t1})
            m["exec.jobs"] += 1
            for sid in job.get("stageIds", []):
                st = stages.get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                s0 = parse_time(st.get("submissionTime"))
                s1 = parse_time(st.get("completionTime"))
                if s0 is not None and s1 is not None:
                    spans.append({"id": f"{jid}/stage{sid}", "parent": jid,
                                  "layer": "stage", "name": f"stage {sid}",
                                  "group": op["group"], "start": s0, "end": s1})
                m["exec.stages"] += 1
                m["exec.tasks"] += st.get("numCompleteTasks", 0)
                run_s += st.get("executorRunTime", 0) / 1e3
                m["exec.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                m["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
                m["exchange.write_bytes"] += st.get("shuffleWriteBytes", 0)
                m["exchange.read_bytes"] += st.get("shuffleReadBytes", 0)
                m["exchange.write_s"] += st.get("shuffleWriteTime", 0) / 1e9
                m["exchange.fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
                m["spill.bytes"] += st.get("diskBytesSpilled", 0)
        m["driver.gap_s"] += (a_hi - a_lo) - covered(action_jobs, a_lo, a_hi)
        for ex in store.get("sql", []):
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if ex_jobs & job_ids or ex.get("group") == op["group"]:
                _fold_sql(ex, m)
    m["exec.core_util"] = run_s / (wall * cores) if wall > 0 else 0.0
    return m, spans


def _wanted_metrics(node_name: str) -> dict[str, str]:
    """SQL metric name -> layer metric, for one plan node."""
    wanted = dict(_PYTHON_METRICS)
    if node_name.startswith("Scan parquet"):
        wanted.update(_SCAN_METRICS)
    elif node_name.startswith("BroadcastExchange"):
        wanted.update(_BROADCAST_METRICS)
    return wanted


def _fold_sql(execution: dict, m: dict[str, float]) -> None:
    for node in execution.get("nodes", []):
        wanted = _wanted_metrics(node.get("nodeName", ""))
        for metric in node.get("metrics", []):
            key = wanted.get(metric.get("name"))
            if key is not None:
                m[key] += parse_metric(metric["value"])


class StatusStore:
    """Reads Spark's status store through the UI's REST API."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._base = (
            f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        )
        self._sql_seen = 0
        self._jvm = self._sc._jvm
        self._sql_store = spark._jsparkSession.sharedState().statusStore()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as fh:
            return json.load(fh)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the trailing job and stage metrics."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def snapshot(self, lazy: list[dict] = ()) -> dict:
        """Jobs, stages and the SQL executions added since the last
        snapshot; ``lazy`` executions (``read_lazy``) replace their
        metric-less REST entries."""
        self.drain()
        # Spark aggregates an execution's SQL metrics off the listener
        # thread after the execution ends: wait until every execution
        # that ran a job shows them
        deadline = time.time() + 10
        while True:
            sql = self._get(
                f"sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000"
            )
            pending = [
                ex for ex in sql
                if (ex.get("successJobIds") or ex.get("failedJobIds"))
                and not any(node.get("metrics") for node in ex.get("nodes", []))
            ]
            if not pending or time.time() > deadline:
                break
            time.sleep(0.1)
        self._sql_seen += len(sql)
        by_id = {ex["id"]: ex for ex in lazy}
        sql = [by_id.pop(ex["id"], ex) for ex in sql] + list(by_id.values())
        return {"jobs": self._get("jobs"), "stages": self._get("stages"), "sql": sql}

    def hold_lazy(self, since: float) -> list:
        """Hold the metrics of the executions started since ``since``
        (epoch seconds) that have run no job: plans under a lazy
        ``localCheckpoint``.

        Their tasks run inside a later execution's jobs, and Spark's SQL
        listener keeps only the metrics of that execution's own plan, so
        the REST API lists these nodes (a ``MapInPandas`` kernel, the
        scan under it) with no metrics. The driver's accumulators still
        receive the task updates; holding them here keeps them from
        being collected before the op's action has run them."""
        self.drain()
        count = self._sql_store.executionsCount()
        recent = self._sql_store.executionsList(max(0, count - 200), 200)
        acc_ctx = self._jvm.org.apache.spark.util.AccumulatorContext
        held = []
        for i in range(recent.size()):
            ui = recent.apply(i)
            if ui.submissionTime() < since * 1e3 or not ui.jobs().isEmpty():
                continue
            eid = ui.executionId()
            nodes = []
            graph = self._sql_store.planGraph(eid).allNodes()
            for j in range(graph.size()):
                node = graph.apply(j)
                wanted = _wanted_metrics(node.name())
                metrics = []
                plan_metrics = node.metrics()
                for k in range(plan_metrics.size()):
                    pm = plan_metrics.apply(k)
                    if pm.name() not in wanted:
                        continue
                    try:
                        acc = acc_ctx.get(pm.accumulatorId())
                    except Exception:  # already collected
                        continue
                    if acc.isDefined():
                        metrics.append((pm.name(), pm.metricType(), acc.get()))
                if metrics:
                    nodes.append((node.name(), metrics))
            if nodes:
                held.append((eid, nodes))
        return held

    @staticmethod
    def read_lazy(held: list, group: str) -> list[dict]:
        """The held executions in the REST shape, with the values the
        accumulators have now, attributed to the op's job group."""
        return [
            {"id": eid, "group": group, "successJobIds": [], "failedJobIds": [],
             "nodes": [
                 {"nodeName": name, "metrics": [
                     {"name": mname,
                      "value": f"{max(acc.value(), 0)}{_RAW_UNITS.get(mtype, '')}"}
                     for mname, mtype, acc in metrics
                 ]}
                 for name, metrics in nodes
             ]}
            for eid, nodes in held
        ]

    def storage_bytes(self) -> int:
        return sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0)
            for r in self._get("storage/rdd")
        )


def du(path: str) -> int:
    """Bytes in the files under ``path``."""
    size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                pass
    return size


def entries(root: str) -> set[str]:
    """Paths two levels under ``root``: fixture snapshots
    (``.fixtures/<data dir tag>/<snapshot>``) and trained artifacts
    (``edps_index_artifacts/<key>/<name>``)."""
    out = set()
    for a in os.listdir(root) if os.path.isdir(root) else ():
        sub = os.path.join(root, a)
        if os.path.isdir(sub):
            out.update(os.path.join(sub, b) for b in os.listdir(sub))
    return out


class Tracer:
    """Records spans and layer counters for traced passes.

    It wraps the program's public entry points for the layers Spark's
    status store cannot see (fixture snapshots, trained artifacts,
    dataset sinks), registers a ``StreamingQueryListener`` for the
    streaming layer and turns the Python UDF profiler on for traced
    passes only."""

    def __init__(self, spark, cfg: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.cores = self.sc.defaultParallelism
        self.fixtures_root = os.path.join(cfg["root"], ".fixtures")
        self.artifacts_root = os.path.join(cfg["tmp"], "edps_index_artifacts")
        self.spans: list[dict] = []
        self.per_pass: list[tuple[int, dict]] = []
        self.active = False
        self._wrap_program()
        spark.streams.addListener(_progress_listener(self))

    # -- program entry points -------------------------------------------

    def _wrap_program(self) -> None:
        from env_data_pipeline_spark.plans import artifacts
        from env_data_pipeline_spark.sources import fixtures, sinks

        def fixtures_call(fn, *a, **kw):
            before = entries(self.fixtures_root)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                new = entries(self.fixtures_root) - before
                if new:
                    self.cur["fixtures.build_s"] += dt
                    self.cur["fixtures.bytes_written"] += sum(du(p) for p in new)
                else:
                    self.cur["fixtures.register_s"] += dt

        def artifacts_call(fn, *a, **kw):
            before = entries(self.artifacts_root)
            try:
                return fn(*a, **kw)
            finally:
                new = entries(self.artifacts_root) - before
                if new:
                    self.cur["artifacts.misses"] += len(new)
                    self.cur["artifacts.bytes_written"] += sum(du(p) for p in new)
                    self.op_missed = True

        def sinks_call(fn, df, path, *a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(df, path, *a, **kw)
            finally:
                self.cur["sinks.write_s"] += time.perf_counter() - t0
                files = [
                    os.path.join(dirpath, n)
                    for dirpath, _, names in os.walk(path)
                    for n in names if not n.startswith(("_", "."))
                ]
                self.cur["sinks.files"] += len(files)
                self.cur["sinks.bytes_written"] += sum(os.path.getsize(f) for f in files)

        for module, name, hook in (
            (fixtures, "ensure_fixtures", fixtures_call),
            (artifacts, "persisted_artifact", artifacts_call),
            (sinks, "write_dataset", sinks_call),
        ):
            _patch_everywhere(getattr(module, name), name, hook, self)

    def on_progress(self, progress) -> None:
        """One streaming micro-batch's progress report."""
        if not self.active:
            return
        self.cur["streaming.batches"] += 1
        self.cur["streaming.batch_s"] += progress.batchDuration / 1e3
        ops = progress.stateOperators
        self.cur["streaming.state_rows"] = max(
            self.cur["streaming.state_rows"], sum(o.numRowsTotal for o in ops)
        )
        self.cur["streaming.state_bytes"] = max(
            self.cur["streaming.state_bytes"], sum(o.memoryUsedBytes for o in ops)
        )

    # -- passes ---------------------------------------------------------

    def begin_pass(self, p: int) -> None:
        self.active = True
        self.pass_no = p
        self.cur = {k: 0.0 for k in LAYER_METRICS}
        self.ops: list[dict] = []
        self.lazy: list[dict] = []
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.pass_start = time.time()

    def run(self, op) -> None:
        i = len(self.ops)
        group = f"{GROUP_PREFIX}p{self.pass_no}-op{i}"
        op_id = f"p{self.pass_no}/op{i}"
        self.op_missed = False
        self.sc.setJobGroup(group, op.name)
        t0 = time.time()
        t1 = t2 = t3 = None
        held = []
        try:
            obj = op.build()
            t1 = time.time()
            # the hold lies between build and action, in the op's self time
            held = self.store.hold_lazy(since=t0)
            t2 = time.time()
            op.action(obj)
            t3 = time.time()
        finally:
            self.lazy += self.store.read_lazy(held, group)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            end = time.time()
            t1 = t1 or end
            t2 = t2 or end
            t3 = t3 or end
            self.ops.append({"id": op_id, "group": group, "name": op.name,
                             "start": t0, "end": end, "build": (t0, t1),
                             "action": (t2, t3)})
            pid = f"p{self.pass_no}"
            self.spans += [
                {"id": op_id, "parent": pid, "layer": "op", "name": op.name,
                 "group": group, "start": t0, "end": end},
                {"id": f"{op_id}/build", "parent": op_id, "layer": "build",
                 "name": op.name, "group": group, "start": t0, "end": t1},
                {"id": f"{op_id}/action", "parent": op_id, "layer": "action",
                 "name": op.name, "group": group, "start": t2, "end": t3},
            ]
            if self.op_missed:
                self.cur["artifacts.first_serve_s"] += end - t0
            self.cur["checkpoint.bytes"] = max(
                self.cur["checkpoint.bytes"], self.store.storage_bytes()
            )

    def end_pass(self) -> None:
        end = time.time()
        self.spans.append({"id": f"p{self.pass_no}", "parent": None, "layer": "pass",
                           "name": f"pass {self.pass_no}", "group": None,
                           "start": self.pass_start, "end": end})
        snap = self.store.snapshot(self.lazy)
        metrics, job_spans = fold(snap, self.ops, self.cores)
        self.spans += job_spans
        self.cur.update(metrics)
        self.cur["plans.build_s"] = sum(o["build"][1] - o["build"][0] for o in self.ops)
        self.cur["python.udf_s"] = self._udf_seconds()
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.per_pass.append((self.pass_no, dict(self.cur)))
        self.active = False

    def _udf_seconds(self) -> float:
        collector = self.spark._profiler_collector
        total = sum(st.total_tt for st in collector._perf_profile_results.values())
        collector.clear_perf_profiles()
        return total

    def result(self, spans_path: str, session_start_s: float) -> dict:
        """Per-layer metrics: medians over traced warm passes; the
        one-time costs of the fresh session (``session.start_s``,
        warm-cache ``fixtures.register_s``) come from the first pass,
        and the write layers from the ingest pass (``INGEST_PASS``),
        where the run has one."""
        warm = [m for p, m in self.per_pass if p > 0]
        by_pass = dict(self.per_pass)
        layers = {k: statistics.median(m[k] for m in warm) for k in LAYER_METRICS}
        layers["session.start_s"] = session_start_s
        layers["fixtures.register_s"] = by_pass[0]["fixtures.register_s"]
        if INGEST_PASS in by_pass:
            layers.update({k: by_pass[INGEST_PASS][k] for k in INGEST_LAYERS})
        selfs = self_times(self.spans)
        with open(spans_path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": selfs,
                       "per_pass": self.per_pass}, fh)
        return {"layers": layers, "self_s": selfs, "top3": top_layers(selfs)}


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            tracer.on_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def _patch_everywhere(original, name: str, hook, tracer: Tracer) -> None:
    """Replace ``original`` in every program module that imported it."""
    import functools
    import sys

    @functools.wraps(original)
    def wrapper(*a, **kw):
        if not tracer.active:
            return original(*a, **kw)
        return hook(original, *a, **kw)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("env_data_pipeline_spark") and (
            getattr(mod, name, None) is original
        ):
            setattr(mod, name, wrapper)
