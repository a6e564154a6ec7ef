#!/usr/bin/env python3
"""Benchmark: one workload of declared models run as a ``dbt run``.

    python3 perfbench/run.py --workload elt_write --seed 1 --seconds 18 --trace 0

Run from the repository root. One invocation:

1. writes the workload's fixture tables once per checkout under
   ``.bench_build/perfbench`` (reported as ``prep_s`` in the artifact,
   not as set-up);
2. set-up (``setup_s``, process start to the first timed model): builds
   the engine session on ``local[nproc]`` with the environment pinned,
   reads the fixture files into the page cache, then runs every model
   once, collected to pandas, and compares it with its DuckDB oracle
   using the tier-1 comparator (``tests/oracle.py``), then runs one
   untimed warm pass on the timed path. The time spent inside the
   comparator is left out of ``setup_s``;
3. runs the timed passes: one client, closed loop, each model built and
   then consumed by a ``noop`` write, in a seed-permuted order per pass.
   The pass count comes from ``--seconds`` and the workload's nominal
   pass time.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` it runs untraced, traced and untraced passes, and
carries the per-layer metrics (``spans.py``, ``layers.py``). Either way the full record (per-model samples, checks,
host-noise probes, the traced run's spans and slowest-model table) goes
to ``.bench_build/perfbench/artifacts/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import measure  # noqa: E402
import oracles  # noqa: E402
import prepare  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# with --trace 1: untraced, traced, untraced; the overhead ratio compares
# the traced pass with the two untraced ones around it
TRACED_PASS = 1

# model_p50_s and model_tail_s go to the artifact and stderr only: at the
# default run length (10-12 samples of five or six unlike models) the
# median jumps between models and the tail is the single slowest sample,
# too noisy to hold to a regression bound
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "model_geomean_s": "s",
    "peak_rss_mb": "MB",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _pin_environment(root: str, work: str) -> dict:
    """Pin what the engine reads from the environment before its session
    module is imported, and return the record of it."""
    for d in ("local", "tmp", "warehouse"):
        # the engine's throwaway warehouses land in tmp; start each run empty
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))
    env = {
        "SPARK_GRAFT_CPUS": str(measure.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": measure.driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # the Python workers unpickle engine functions by reference
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return env


def _warm_pages(data_dir: str) -> None:
    """Read every fixture file once so the scans start from the page
    cache, as a long-lived session's would."""
    for t in fixtures.TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            while fh.read(1 << 22):
                pass


class Engine:
    """The session plus the JVM-side probes the harness reads."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.sc = sc
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self._store = None
        self.stopped = False

    def _status_store(self):
        if self._store is None:
            jvm = self.sc._jvm
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            mapper.registerModule(getattr(scala, "MODULE$"))
            self._store = (self.sc._jsc.sc().statusStore(), mapper)
        return self._store

    def jobs_and_stages(self, since_ms: float) -> tuple[list[dict], dict[int, dict]]:
        """Jobs submitted since ``since_ms`` (epoch ms) and their stages
        that ran, from the status store, as dicts."""
        from py4j.protocol import Py4JJavaError

        store, mapper = self._status_store()
        jobs = [j for j in json.loads(mapper.writeValueAsString(store.jobsList(None)))
                if (j.get("submissionTime") or 0) >= since_ms]
        stages = {}
        for sid in sorted({s for j in jobs for s in j.get("stageIds", [])}):
            try:
                st = json.loads(mapper.writeValueAsString(store.lastStageAttempt(sid)))
            except Py4JJavaError:  # skipped stages were never attempted
                continue
            if st.get("status") != "SKIPPED":
                stages[sid] = st
        return jobs, stages

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def peak_rss_mb(self) -> float:
        kb = measure.proc_status_kb(self.jvm_pid, "VmHWM")
        kb += measure.proc_status_kb(os.getpid(), "VmHWM")
        return kb / 1024.0

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to end."""
        from pyspark import SparkContext

        if self.stopped:
            return
        self.stopped = True
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_model(spark, fn, sf_dir: str, tracer=None, name: str = "") -> dict:
    """Build one model, then consume it with a ``noop`` write. A model
    that raises keeps the time it took until it raised."""
    spans = {}
    if tracer is not None:
        spans["model"] = tracer.open("model", name)
        tracer.phase = "build"
        spans["build"] = tracer.open("query.build", "build")
    t0 = time.perf_counter()
    t1 = None
    error = None
    try:
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.close(spans["build"])
            tracer.phase = "action"
            spans["action"] = tracer.open("query.action", "action")
        df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # a failed model is counted, not fatal
        error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
    t2 = time.perf_counter()
    if t1 is None:
        t1 = t2
    if tracer is not None:
        for sp in reversed(list(spans.values())):
            if not sp.t1:
                tracer.close(sp)
        tracer.phase = "other"
    return {"name": name, "wall_s": t2 - t0, "build_s": t1 - t0,
            "action_s": t2 - t1, "error": error, "spans": spans}


def _session(wl, work: str, env: dict):
    from dbt_maxcompute_spark.session import get_spark

    return get_spark(app_name=f"perfbench-{wl.name}", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        # a fixed, pre-touched heap: peak RSS then follows the program
        # (non-heap JVM memory, Python driver), not G1's sizing choices
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={env['TMPDIR']} "
            f"-Xms{env['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    })


def check_pass(spark, wl, queries, sqls, oracle, data_dir: str, seed: int):
    """Run every model once (collected to pandas) and compare it with its
    oracle. Returns ``({model: None or failure}, {model: seconds},
    seconds inside the comparator)``."""
    checks: dict[str, str | None] = {}
    seconds: dict[str, float] = {}
    oracle_s = 0.0
    for name in measure.pass_order(wl.models, seed, -1):
        t0 = time.perf_counter()
        try:
            got = queries[name](spark, data_dir).toPandas()
            t = time.perf_counter()
            try:
                oracles.compare(oracle, got, sqls[name], data_dir)
                checks[name] = None
            finally:
                oracle_s += time.perf_counter() - t
        except Exception as exc:
            checks[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
        spark.catalog.clearCache()
        seconds[name] = time.perf_counter() - t0
    return checks, seconds, oracle_s


def timed_passes(engine, wl, queries, data_dir: str, seed: int, n_passes: int, tracer):
    """The timed closed loop. With a tracer, pass ``TRACED_PASS`` is traced."""
    spark = engine.spark
    passes: list[dict] = []
    for p in range(n_passes):
        traced = tracer is not None and p == TRACED_PASS
        models = []
        counters0 = dict(tracer.counters) if traced else None
        for name in measure.pass_order(wl.models, seed, p):
            if traced:
                tracer.model += 1
                py4j0 = dict(tracer.py4j)
                io0 = measure.proc_write_bytes(engine.jvm_pid)
                since_ms = time.time() * 1000.0 - 1.0
                tracer.active = True
            rec = run_model(spark, queries[name], data_dir,
                            tracer if traced else None, name)
            if traced:
                tracer.active = False
                rec["model_id"] = tracer.model
                rec["py4j_build"] = tracer.py4j["build"] - py4j0["build"]
                rec["py4j_action"] = tracer.py4j["action"] - py4j0["action"]
                rec["io_write_bytes"] = measure.proc_write_bytes(engine.jvm_pid) - io0
                rec["rdds_left"] = engine.persistent_rdds()
                rec["jobs"], rec["stages"] = engine.jobs_and_stages(since_ms)
            spark.catalog.clearCache()
            models.append(rec)
        passes.append({"traced": traced, "models": models})
        if traced:
            passes[-1]["counters"] = {k: v - counters0[k] for k, v in tracer.counters.items()}
    return passes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("dbt_maxcompute_spark/session.py", "__spark_entry__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _fail(f"{need} not found under {root}: run from the repository root")
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_build", "perfbench")

    t = time.perf_counter()
    data_dir = fixtures.path_for(prepare.data_root(root), wl.sf)
    if not (fixtures.valid(data_dir, wl.sf)
            and os.path.exists(oracles.ready_marker(data_dir, wl.name))):
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"), wl.name],
                       cwd=root, check=True)
    prep_s = time.perf_counter() - t
    env = _pin_environment(root, work)
    host_before = measure.host_state()

    # set-up: session, warm caches, check pass, warm pass
    t_setup = time.perf_counter()
    import __spark_entry__ as entry

    oracle = oracles.load_comparator(root)
    queries, sqls = entry.queries(), entry.oracle_sql()
    missing = [m for m in wl.models if m not in queries or m not in sqls]
    if missing:
        _fail(f"workload {wl.name} names models without a query or oracle: {missing}")
    n_passes = measure.pass_count(args.seconds, wl.nominal_pass_s)
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        n_passes = TRACED_PASS + 2
    parts = {"imports_s": time.perf_counter() - t_setup}
    engine = Engine(_session(wl, work, env))
    try:
        parts["session_s"] = time.perf_counter() - t_setup - parts["imports_s"]
        _warm_pages(data_dir)
        parts["warm_s"] = time.perf_counter() - t_setup - sum(parts.values())
        checks, check_s, oracle_s = check_pass(engine.spark, wl, queries, sqls,
                                               oracle, data_dir, args.seed)
        parts["check_pass_s"] = time.perf_counter() - t_setup - sum(parts.values())
        # one more untimed pass, on the timed path (noop write): after the
        # check pass alone the first timed pass still ran up to 25% slower
        # than the next, by a different amount in every run
        for name in measure.pass_order(wl.models, args.seed, -2):
            run_model(engine.spark, queries[name], data_dir)
            engine.spark.catalog.clearCache()
        parts["warm_pass_s"] = time.perf_counter() - t_setup - sum(parts.values())
        setup_s = time.perf_counter() - T_PROCESS - (t_setup - t) - oracle_s
        wrapped = tracer.install() if tracer else 0
        t_timed = time.perf_counter()
        passes = timed_passes(engine, wl, queries, data_dir, args.seed, n_passes, tracer)
        timed_s = time.perf_counter() - t_timed
        peak_rss_mb = engine.peak_rss_mb()
    finally:
        engine.stop()
    host_after = measure.host_state()

    plain = [p for p in passes if not p["traced"]]
    summary = measure.summarize([{m["name"]: m["wall_s"] for m in p["models"]} for p in plain])
    failed = sum(1 for v in checks.values() if v)
    failed += sum(1 for p in passes for m in p["models"] if m["error"])
    attempted = len(checks) + sum(len(p["models"]) for p in passes)
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": wl.sf,
        "environment": env, "prep_s": prep_s, "oracle_s": oracle_s, "setup_parts": parts,
        "timed_s": timed_s, "passes": n_passes,
        "host_before": host_before, "host_after": host_after,
        "checks": checks, "check_s": check_s, "failed_frac": failed / attempted,
        "end_to_end": {**summary, "setup_s": setup_s, "peak_rss_mb": peak_rss_mb},
        "samples": [[(m["name"], m["wall_s"], m["build_s"], m["action_s"], m["error"])
                     for m in p["models"]] for p in passes],
    }
    if tracer is not None:
        import layers

        metrics, trace_record = layers.trace_results(passes, tracer)
        record["trace_wrapped_functions"] = wrapped
        record.update(trace_record)
        tracer.uninstall()
    else:
        metrics = {k: (record["end_to_end"][k], unit) for k, unit in END_TO_END.items()}
    art_dir = os.path.join(work, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(art, "w") as fh:
        json.dump(record, fh, default=str)

    print(f"perfbench: {wl.name} seed={args.seed} passes={n_passes} prep={prep_s:.1f}s "
          f"setup={setup_s:.2f}s oracle={oracle_s:.2f}s timed={timed_s:.1f}s "
          f"failed_frac={failed}/{attempted} model_p50_s={summary['model_p50_s']:.3f} "
          f"model_tail_s={summary['model_tail_s']:.3f} "
          f"(p{summary['model_tail_pct']:.1f} of {summary['model_samples']}) "
          f"artifact={os.path.relpath(art, root)}",
          file=sys.stderr)
    for name, why in checks.items():
        if why:
            print(f"perfbench: check FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
