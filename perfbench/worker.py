"""One child process of a benchmark run: starts Spark, runs one role,
writes its result as JSON and exits.

    python3 perfbench/worker.py CONFIG_JSON

Roles:

- ``prepare`` fills the program's caches (fixture snapshots, trained
  artifacts) and the oracle cache, once per checkout.
- ``measure`` runs the timed passes in a fresh session: the first pass,
  then warm passes until the window has elapsed, then, in a traced run
  of an ingest workload, the ingest pass. After that it compares every
  query's rows with its DuckDB oracle through ``tests/oracle.py``'s
  ``compare``.

``measure`` records when set-up (``get_spark`` plus
``registry.load_all``) was done, so the parent can time set-up from
process start.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def _error(ex: BaseException) -> str:
    lines = str(ex).strip().splitlines()
    return f"{type(ex).__name__}: {lines[0][:300] if lines else ''}"


def _full_evaluation(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the driver JVM's status")


def env_block(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "driver_heap_mb": round(jvm.Runtime.getRuntime().maxMemory() / 2**20),
    }


def _oracle_path(cache_dir: str, sql: str) -> str:
    return os.path.join(cache_dir, hashlib.md5(sql.encode()).hexdigest() + ".pkl")


def _install_oracle_cache(oracle_mod, cache_dir: str) -> None:
    """Serve ``compare``'s DuckDB runs from the on-disk cache that
    ``prepare`` fills."""
    run = oracle_mod.run_duckdb_full

    def cached(sql, sf_dir):
        path = _oracle_path(cache_dir, sql)
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        out = run(sql, sf_dir)
        os.makedirs(cache_dir, exist_ok=True)
        with open(f"{path}.tmp", "wb") as fh:
            pickle.dump(out, fh)
        os.replace(f"{path}.tmp", path)
        return out

    oracle_mod.run_duckdb_full = cached


def _fixture_oracle(name: str) -> str:
    from env_data_pipeline_spark.sources.fixtures import duck_with

    return f"{duck_with(name)} SELECT * FROM {name}"


def _checked_queries() -> list[str]:
    """Every registered query a run compares with its oracle."""
    names = [n for ws in workloads.WORKLOADS.values() for n in ws]
    names += [workloads.INGEST_ARTIFACT, workloads.INGEST_SINK, workloads.INGEST_STREAM]
    return list(dict.fromkeys(names))


def check(spark, registry, cfg: dict, ingest: "Ingest | None") -> list[list]:
    """``[name, error or None]`` for each query of the workload (and of
    the ingest pass, if the run had one), its rows compared with its
    oracle's on the run's input tables."""
    import oracle  # tests/oracle.py

    data = cfg["data"]
    checks = [
        (name, registry.QUERIES[name], registry.ORACLES[name], data)
        for name in workloads.WORKLOADS[cfg["workload"]]
    ]
    if ingest is not None:
        checks += ingest.checks(registry)
    results = []
    for name, build, oracle_sql, sf_dir in checks:
        t0 = time.perf_counter()
        try:
            oracle.compare(spark, name, build, oracle_sql, sf_dir)
            results.append([name, None])
        except Exception as ex:  # every failure is reported by name
            results.append([name, _error(ex)])
        print(f"perfbench check {name} {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    return results


def prepare(spark, registry, cfg: dict) -> dict:
    """Fill the oracle cache and the program's caches for the input
    tables: fixture snapshots and trained artifacts persist in the
    checkout, so every later run starts warm, as a serving deployment
    does."""
    import oracle  # tests/oracle.py

    _install_oracle_cache(oracle, cfg["oracle_cache"])
    names = _checked_queries()
    for name in names:
        oracle.run_duckdb_full(registry.ORACLES[name], cfg["data"])
    for name in workloads.INGEST_FIXTURES:
        oracle.run_duckdb_full(_fixture_oracle(name), cfg["data"])
    for name in names:
        t0 = time.perf_counter()
        _full_evaluation(registry.QUERIES[name](spark, cfg["data"]))
        print(f"perfbench prepare {name} {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(cfg["prepared"], "w"):
        pass
    return {}


class Op:
    """One closed-loop operation: ``build`` is the registered builder,
    ``action`` evaluates what it returns."""

    def __init__(self, name, build, action):
        self.name, self.build, self.action = name, build, action


class Ingest:
    """The ingest pass (``workloads.INGEST_*``): a fresh data vintage, a
    copy of the run's input tables at a new path, so the fixture and
    artifact caches, keyed on source path and mtime, miss. ``cleanup``
    removes the vintage with the snapshots and artifacts built for it."""

    def __init__(self, spark, cfg: dict):
        from env_data_pipeline_spark.sources import fixtures, sinks

        self.spark, self.cfg = spark, cfg
        self.fixtures, self.sinks = fixtures, sinks
        self.fresh = os.path.join(cfg["run_dir"], "vintage")
        self.sink_out = os.path.join(cfg["run_dir"], "sink")
        self.caches = [os.path.join(cfg["root"], ".fixtures"),
                       os.path.join(cfg["tmp"], "edps_index_artifacts")]
        self.before = [set(_listdir(d)) for d in self.caches]
        shutil.copytree(cfg["data"], self.fresh)

    def ops(self, registry) -> list[Op]:
        spark, data = self.spark, self.cfg["data"]
        w = workloads
        return [
            Op("ensure_fixtures",
               lambda: self.fixtures.ensure_fixtures(spark, self.fresh, w.INGEST_FIXTURES),
               lambda _: None),
            Op(w.INGEST_ARTIFACT,
               lambda: registry.QUERIES[w.INGEST_ARTIFACT](spark, self.fresh),
               _full_evaluation),
            Op("write_dataset",
               lambda: registry.QUERIES[w.INGEST_SINK](spark, data),
               lambda df: self.sinks.write_dataset(df, self.sink_out)),
            Op(w.INGEST_STREAM,
               lambda: registry.QUERIES[w.INGEST_STREAM](spark, data),
               _full_evaluation),
        ]

    def checks(self, registry) -> list[tuple]:
        w = workloads

        def fixture(name):
            def read(spark, sf_dir):
                self.fixtures.ensure_fixtures(spark, sf_dir, (name,))
                return spark.table(name)
            return read

        return [
            (f"fixture {n}", fixture(n), _fixture_oracle(n), self.fresh)
            for n in w.INGEST_FIXTURES
        ] + [
            (w.INGEST_ARTIFACT, registry.QUERIES[w.INGEST_ARTIFACT],
             registry.ORACLES[w.INGEST_ARTIFACT], self.fresh),
            (f"write_dataset {w.INGEST_SINK}", lambda spark, _: spark.read.parquet(self.sink_out),
             registry.ORACLES[w.INGEST_SINK], self.cfg["data"]),
            (w.INGEST_STREAM, registry.QUERIES[w.INGEST_STREAM],
             registry.ORACLES[w.INGEST_STREAM], self.cfg["data"]),
        ]

    def cleanup(self) -> None:
        for d, before in zip(self.caches, self.before):
            for name in set(_listdir(d)) - before:
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)
        shutil.rmtree(self.fresh, ignore_errors=True)
        shutil.rmtree(self.sink_out, ignore_errors=True)


def _listdir(d: str) -> list[str]:
    return os.listdir(d) if os.path.isdir(d) else []


def measure(spark, registry, cfg: dict) -> dict:
    import oracle  # tests/oracle.py

    _install_oracle_cache(oracle, cfg["oracle_cache"])
    seed, data = cfg["seed"], cfg["data"]
    tracer = None
    if cfg["trace"]:
        import tracing

        tracer = tracing.Tracer(spark, cfg)
    failures: list[list] = []
    samples: list[float] = []
    passes: list[dict] = []
    attempted = 0

    def run_pass(p: int, ops: list[Op], traced: bool) -> float:
        nonlocal attempted
        if traced:
            tracer.begin_pass(p)
        t_pass = time.perf_counter()
        for op in ops:
            attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    tracer.run(op)
                else:
                    op.action(op.build())
            except Exception as ex:
                failures.append([f"pass{p}:{op.name}", _error(ex)])
                traceback.print_exc(file=sys.stderr)
            secs = time.perf_counter() - t0
            print(f"perfbench pass {p} {op.name} {secs:.3f} s", file=sys.stderr)
            if p > 0:
                samples.append(secs)
        wall = time.perf_counter() - t_pass
        if traced:
            tracer.end_pass()
        passes.append({"pass": p, "traced": traced, "wall_s": wall})
        return wall

    def query_ops(p: int) -> list[Op]:
        names = list(workloads.WORKLOADS[cfg["workload"]])
        random.Random(seed * 1000 + p).shuffle(names)
        return [
            Op(n, lambda n=n: registry.QUERIES[n](spark, data), _full_evaluation)
            for n in names
        ]

    first = run_pass(0, query_ops(0), traced=tracer is not None)
    t_window = time.perf_counter()
    p = 1
    min_warm = workloads.MIN_WARM_PASSES[cfg["workload"]]
    if tracer is not None:
        # a traced run needs a traced and an untraced warm pass to compare
        min_warm = max(min_warm, 2)
    while p <= min_warm or time.perf_counter() - t_window < cfg["seconds"]:
        run_pass(p, query_ops(p), traced=tracer is not None and p % 2 == 1)
        p += 1
    ingest = None
    if tracer is not None and cfg["workload"] in workloads.INGEST_WORKLOADS:
        import tracing

        ingest = Ingest(spark, cfg)
        run_pass(tracing.INGEST_PASS, ingest.ops(registry), traced=True)
    try:
        checks = check(spark, registry, cfg, ingest)
    finally:
        if ingest is not None:
            ingest.cleanup()
    out = {
        "checks": checks,
        "first_pass_s": first,
        "passes": passes,
        "op_samples": samples,
        "attempted": attempted,
        "failures": failures,
        "peak_rss_mb": jvm_peak_rss_mb(spark),
        "env": env_block(spark),
    }
    if tracer is not None:
        out["trace"] = tracer.result(cfg["spans"], cfg["session_start_s"])
    return out


def main() -> int:
    cfg = json.loads(sys.argv[1])
    sys.path[:0] = [cfg["root"], os.path.join(cfg["root"], "tests")]
    from env_data_pipeline_spark.plans import registry
    from env_data_pipeline_spark.session import get_spark

    t0 = time.time()
    spark = get_spark()
    cfg["session_start_s"] = time.time() - t0
    registry.load_all()
    ready = time.time()
    role = {"prepare": prepare, "measure": measure}[cfg["role"]]
    out = role(spark, registry, cfg)
    out["ready"] = ready
    with open(cfg["result"], "w") as fh:
        json.dump(out, fh)
    # no spark.stop(): the JVM exits with this process, and the parent
    # stops whatever is left in its process group
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
