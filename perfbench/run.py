"""Benchmark for env_data_pipeline_spark.

    python3 perfbench/run.py --workload collect --seed 1 --seconds 5 --trace 0

Runs one workload (``collect`` or ``analytics``; see ``workloads.py``) from the root of a checkout and prints every metric
with its unit, the correctness verdict and, as the last line, one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics instead, writes the span file and reports
``trace.overhead``.

A run starts a child process (``worker.py``) on ``local[nproc]``:
``measure`` runs the timed passes in a fresh session, then checks every
query's rows against its DuckDB oracle. ``setup_s`` is its set-up time,
from process start until ``get_spark`` and ``registry.load_all``
return. The first run in a checkout writes the input tables
(``datagen.py``, sf0.1 row counts) and starts a ``prepare`` child
first, which fills the program's caches and the oracle cache for them.

``--seed`` fixes the order of queries in each pass. The input tables
are the same for every seed: each new set of tables would need its own
cold fixture snapshots and artifacts (two minutes on a 4-core host),
paid again in every checkout. Everything the run writes stays under
``.perfbench/`` in the checkout: the input tables with their fixture
snapshots and artifacts (so later runs start warm, as a serving
deployment does), the oracle cache, logs and span files. ``TMPDIR``,
Spark's local dirs and the JVM's temp dir point there too, so each
measured commit's checkout has its own artifact cache.

Self-tests: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# prepare builds the fixture snapshots, trains the artifacts and runs
# the oracles, once per checkout; a measured run must end within 180 s
PREPARE_TIMEOUT_S = 700
MEASURE_TIMEOUT_S = 160
# a CPU probe that moves by more than this between the start and the
# end of a run flags the run as taken on a contended host
PROBE_DRIFT = 0.25


def cpu_probe() -> float:
    """Best of three timings of a fixed pure-Python loop, in seconds."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best


def driver_mem_gb() -> int:
    """Driver heap that fits the host: a quarter of its memory, 1-8 GB.
    The heap starts at this size too, so the driver's peak RSS does not
    follow the collector's heap-growth decisions from run to run."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1, min(8, total_kb // 2**20 // 4))


def child_env(nproc: int) -> dict:
    env = dict(os.environ)
    jvm_tmp = os.path.join(WORK, "jvm-tmp")
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (jvm_tmp, local, tmp):
        os.makedirs(d, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_gb()}g",
        # Python workers import the program by path
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYSPARK_SUBMIT_ARGS="--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={jvm_tmp} -Xms{driver_mem_gb()}g") + " pyspark-shell",
    )
    return env


def ensure_data() -> str:
    d = os.path.join(WORK, "data")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, datagen.base_tables())
        os.rename(tmp, d)
    return d


def _reap_group(pgid: int) -> None:
    """Stop whatever the child left running (the JVM, Python workers)
    and wait for the group to empty."""
    deadline = time.time() + 20
    sig = signal.SIGTERM
    while time.time() < deadline:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)
        if time.time() > deadline - 15:
            sig = signal.SIGKILL


def spawn(role: str, cfg: dict, env: dict, timeout: float) -> dict:
    """Run one worker role; returns its result with ``setup_s``."""
    cfg = dict(cfg, role=role, result=os.path.join(cfg["run_dir"], f"{role}.json"))
    log_path = os.path.join(WORK, "logs", f"{cfg['workload']}-{role}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_group(proc.pid)
            proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"{role} worker {why}; log: {log_path}")
    with open(cfg["result"]) as fh:
        out = json.load(fh)
    out["setup_s"] = out["ready"] - t0
    return out


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(meas: dict) -> tuple[dict, list[str]]:
    warm = [p["wall_s"] for p in meas["passes"] if p["pass"] > 0 and not p["traced"]]
    samples = meas["op_samples"]
    notes = [f"pass_s over {len(warm)} warm passes"]
    # latency percentiles are printed only where MIN_BEYOND samples lie
    # beyond them; a run's window rarely holds enough for a metric
    for q in (50, 90):
        got = stats.percentile(samples, q)
        notes.append(
            f"query_s.p{q} {got[0]:.6g} s over {got[1]} operations" if got
            else f"query_s.p{q} not reported: {len(samples)} operations leave "
            f"fewer than {stats.MIN_BEYOND} beyond it"
        )
    return {
        "setup_s": metric(meas["setup_s"], "s"),
        "first_pass_s": metric(meas["first_pass_s"], "s"),
        "pass_s": metric(statistics.median(warm), "s"),
        "peak_rss_mb": metric(meas["peak_rss_mb"], "MB"),
    }, notes


def per_layer(meas: dict) -> tuple[dict, list[str]]:
    tr = meas["trace"]
    traced = [p["wall_s"] for p in meas["passes"] if p["pass"] > 0 and p["traced"]]
    untraced = [p["wall_s"] for p in meas["passes"] if p["pass"] > 0 and not p["traced"]]
    out = {k: metric(v, tracing.LAYER_METRICS[k]) for k, v in tr["layers"].items()}
    overhead = statistics.median(traced) / statistics.median(untraced)
    out["trace.overhead"] = metric(overhead, "ratio")
    notes = [
        "self time by span layer: "
        + ", ".join(f"{k} {v:.3f} s" for k, v in tr["self_s"].items()),
        "top-3 layers by self time: " + ", ".join(tr["top3"]),
    ]
    return out, notes


def run(args) -> dict:
    nproc = len(os.sched_getaffinity(0))
    env = child_env(nproc)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spans = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cfg = {
        "root": ROOT, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace), "data": ensure_data(),
        "prepared": os.path.join(WORK, "prepared"),
        "oracle_cache": os.path.join(WORK, "oracle"),
        "run_dir": run_dir, "tmp": env["TMPDIR"], "spans": spans,
    }
    try:
        if not os.path.exists(cfg["prepared"]):
            spawn("prepare", cfg, env, PREPARE_TIMEOUT_S)
        probe0 = cpu_probe()
        meas = spawn("measure", cfg, env, MEASURE_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    probe1 = cpu_probe()
    drift = probe1 / probe0 - 1

    failures = [[n, e] for n, e in meas["checks"] if e is not None] + meas["failures"]
    attempted = meas["attempted"] + len(meas["checks"])
    if args.trace:
        metrics, notes = per_layer(meas)
        notes.append(f"span file: {os.path.relpath(spans, ROOT)}")
    else:
        metrics, notes = end_to_end(meas)
    env_block = dict(meas["env"], cpu_probe_s=[probe0, probe1],
                     cpu_probe_drift=round(drift, 4),
                     drift_flag=abs(drift) > PROBE_DRIFT)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print("env " + json.dumps(env_block))
    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:.6g} {m['unit']}")
    for line in notes:
        print(line)
    fail_ratio = len(failures) / attempted
    print(f"fail_ratio {fail_ratio:.4f} ({len(failures)} of {attempted})")
    for name, err in failures:
        print(f"FAILED {name}: {err}")
    print(f"correct: {not failures}")
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("env_data_pipeline_spark/session.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
