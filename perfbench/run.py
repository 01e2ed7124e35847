#!/usr/bin/env python3
"""Cold-process benchmark of the ETL engine.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One run is one fresh process on local[nproc]: generate the seeded inputs
(untimed), set up the session (get_spark + views + warm_udfs), run the
workload, check every output against DuckDB (untimed), stop the session.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
run also keeps spans, turns on Spark's event log, patches operator entry
points with timing wrappers, and reports the per-layer metrics; the
baseline of its tracing overhead is an untraced run of the same code,
workload and seed, recorded earlier or made first in a child process. The traced record and span file are written under .perfbench/ at the
repository root; everything else lives in a temp dir there that is
removed at exit. `--workload all` runs every workload in its own
process and prints one result line each.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("etl_nightly", "analyst_mix")


def _process_age() -> float:
    """Seconds since this process started (interpreter start included)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


AGE_AT_T0 = _process_age()


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40.0,
                    help="nominal run length; each workload is a fixed amount of work sized "
                         "to run about this long on 4 cores, and none is cut at it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hygiene_env(work: str, trace: bool) -> None:
    """Pin parallelism to the cores this process may use, let Python
    workers import the engine, and keep every Spark side file in the
    run's temp dir."""
    from perfbench.layers import event_log_conf

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_conf(os.path.join(work, "eventlog"))
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _patch_operators(tracer) -> None:
    """Traced run only: time the public entry points each layer exposes."""
    from etl_service_spark.operators import copy, csv_export, dedup, graph, sql_exec, textops
    from etl_service_spark.sources import snapshots

    for module, attr, name in (
        (copy, "copy_data_timesliced", "operators.copy"),
        (copy, "write_copy", "operators.copy"),
        (sql_exec, "execute_sql_target", "operators.sql_exec"),
        (csv_export, "write_csv", "operators.csv_export"),
        (dedup, "exact_dedup_staged", "operators.exact_dedup"),
        (graph, "dup_clusters", "operators.neardup"),
        (dedup, "contamination_staged", "operators.contamination"),
        (textops, "quality_scores_df", "operators.quality"),
        (snapshots, "commit_overwrite", "snapshots.commit"),
    ):
        tracer.patch(module, attr, name)


def run(args, work: str) -> dict:
    from perfbench import checks, inputs, layers, workloads
    from perfbench.spans import Tracer

    import bench  # the frozen headline list the analyst pool is drawn from

    trace = bool(args.trace)
    t = time.perf_counter()
    untraced_wall = _untraced_wall(args) if trace else None
    env = {"os_cpus": os.cpu_count(), "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
           "load_1m_start": os.getloadavg()[0], "baseline_s": time.perf_counter() - t}

    t = time.perf_counter()
    inp = inputs.generate(work, args.seed, inputs.draw_pool(bench.HEADLINERS))
    gen_s = time.perf_counter() - t

    tracer = Tracer(uuid.uuid4().hex[:12], enabled=trace)
    if trace:
        _patch_operators(tracer)
    from etl_service_spark.functions import portable
    from etl_service_spark.plans.queries import views
    from etl_service_spark.session import get_spark

    timers = {}

    def timed(key, span, fn):
        t = time.perf_counter()
        with tracer.span(span):
            out = fn()
        timers[key] = time.perf_counter() - t
        return out

    spark = timed("session.start_s", "session.start", lambda: get_spark("perfbench"))
    try:
        timed("sources.views_s", "sources.views", lambda: views(spark, inp.data_dir))
        timed("session.warm_s", "session.warm", lambda: portable.warm_udfs(spark))
        # untimed: the untraced baseline run and input generation
        setup_s = AGE_AT_T0 + (time.perf_counter() - T0) - env["baseline_s"] - gen_s

        st = workloads.RunState(spark, inp, work, tracer)
        w0 = time.perf_counter()
        with tracer.span(f"workload.{args.workload}") as wid:
            tracer.root = wid
            facts = workloads.WORKLOADS[args.workload](st)
            tracer.root = None
        wall_s = time.perf_counter() - w0
        rss = layers.peak_rss_mb(layers.jvm_pid(spark))
        hyg = layers.hygiene(spark)

        con = checks.connect(inp.data_dir, os.path.join(work, "duck_spill"))
        if args.workload == "etl_nightly":
            problems = checks.check_etl(spark, con, inp, facts)
        else:
            problems = checks.check_analyst(con, facts["results"])
        con.close()
        env["check_s"] = time.perf_counter() - w0 - wall_s
    finally:
        t = time.perf_counter()
        spark.stop()
        env["stop_s"] = time.perf_counter() - t
    env.update(gen_s=gen_s, setup_s=setup_s, wall_s=wall_s, peak_rss_mb=rss, **hyg)

    ops = st.ops
    # an operation that was planned but never ran (a step the orchestrator
    # skipped, a query after a crash) counts as failed
    attempted = facts["n_ops"]
    failed_ops = sum(not op.ok for op in ops) + attempted - len(ops)
    failed = min(attempted, failed_ops + len(problems))
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)

    e2e = {"setup_s": setup_s, "wall_s": wall_s}
    env["load_1m_end"] = os.getloadavg()[0]
    _append_history(args, wall_s, env)
    spec = _spec()
    if not trace:
        values, wanted = e2e, spec["end_to_end"]
    else:
        values = _layer_metrics(st, facts, inp, timers, hyg, wall_s, work)
        values["peak_rss_mb"] = rss
        values["trace.tracer_s"] = sum(
            s.end - s.start for s in tracer.spans if s.name == "trace.catalyst")
        values["trace.overhead_s"] = wall_s - untraced_wall
        self_s = tracer.self_times()
        for name in SELF_LAYERS:
            values[f"self.{name}_s"] = self_s.get(name, 0.0)
        wanted = spec["per_layer"]
        os.makedirs(OUT, exist_ok=True)
        stem = os.path.join(OUT, f"trace_{args.workload}_{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".json", "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "run_id": tracer.run_id,
                       "env": env, "e2e": e2e,
                       "layers": values, "self_s": self_s, "untraced_wall_s": untraced_wall,
                       "problems": problems}, fh, indent=1, sort_keys=True)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


SELF_LAYERS = ("session", "sources", "workload", "orchestrator", "operators", "snapshots",
               "analyst", "queries", "streaming")


def _spec() -> dict:
    """Metric names and units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _layer_metrics(st, facts, inp, timers, hyg, wall_s, work) -> dict:
    from perfbench import layers
    from perfbench.spans import union_length

    m = dict(timers)
    m.update(hyg)
    m.update(layers.read_event_log(os.path.join(work, "eventlog")))
    m["sources.input_bytes"] = layers.input_bytes(inp.data_dir)
    spans = st.tracer.spans

    def total(prefix):
        return sum(s.end - s.start for s in spans if s.name.startswith(prefix))

    for key, prefix in (
        ("operators.copy_s", "operators.copy"), ("operators.sql_exec_s", "operators.sql_exec"),
        ("operators.csv_export_s", "operators.csv_export"),
        ("operators.exact_dedup_s", "operators.exact_dedup"),
        ("operators.neardup_s", "operators.neardup"),
        ("operators.contamination_s", "operators.contamination"),
        ("operators.quality_s", "operators.quality"), ("snapshots.commit_s", "snapshots.commit"),
    ):
        m[key] = total(prefix)
    steps = [op for op in st.ops if op.kind == "step"]
    if steps:
        step_s = sum(op.seconds for op in steps)
        busy = union_length([(op.start, op.end) for op in steps])
        m.update({"orchestrator.step_s": step_s, "orchestrator.busy_s": busy,
                  "orchestrator.idle_s": wall_s - busy,
                  "orchestrator.parallelism": step_s / wall_s})
        rows = facts["rows_written"]
        ledger = facts["ledger"]
        m["etl.write_rows_per_s"] = (sum(rows.values()) + ledger.get("n_after_quality", 0)) / wall_s
        sinks = [op for op in steps if op.name.split("_")[0] in ("windows", "dedup", "sessions")]
        lands = [op for op in steps if op.name.startswith("land_")]
        if sinks and lands:
            drain = max(op.end for op in sinks) - min(op.start for op in lands)
            delivered = sum(inp.drop_fresh_rows) + sum(inp.drop_redelivered_rows)
            m["stream.rows_per_s"] = delivered / drain
            m["stream.result_lag_mean_s"] = statistics.fmean(facts["lags"] or [0.0])
            m["stream.start_s"] = sum(op.seconds for op in sinks) - m["stream.trigger_s"]
    if "build" in facts:
        b, e = facts["build"], facts["exec"]
        m["queries.build_first_s"] = sum(b["first"])
        m["queries.build_repeat_s"] = sum(b["repeat"])
        m["queries.exec_s"] = sum(e["first"]) + sum(e["repeat"])
        m["queries.build_jobs"] = float(facts["build_jobs"])
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = sum(p.get(phase, 0.0) for p in facts["phases"])
        for kind in ("first", "repeat"):
            m[f"analyst.{kind}_s"] = sum(op.seconds for op in st.ops if op.kind == kind)
    return m


def _code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources: runs
    recorded under one digest measured the same code."""
    h = hashlib.sha256()
    for top in ("etl_service_spark", "perfbench"):
        for base, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(base, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _append_history(args, wall_s: float, env: dict) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "history.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                             "code": _code_digest(), "wall_s": wall_s, "env": env}) + "\n")


def _untraced_wall(args) -> float:
    """The baseline of trace.overhead_s: wall_s of an untraced run of the
    same code, workload and seed, as recorded in .perfbench/history.jsonl;
    when none is recorded, such a run made now in a child process that
    ends before this one starts Spark."""
    path, code = os.path.join(OUT, "history.jsonl"), _code_digest()
    if os.path.exists(path):
        with open(path) as fh:
            for line in reversed(fh.readlines()):
                r = json.loads(line)
                if (r["workload"], r["seed"], r["trace"], r.get("code")) == (
                        args.workload, args.seed, 0, code):
                    return r["wall_s"]
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def run_all(args) -> int:
    rc = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(json.dumps({"workload": name, "error": proc.returncode}))
            rc = 1
            continue
        result = json.loads(lines[-1])
        result["workload"] = name
        print(json.dumps(result))
    return rc


def _on_sigterm(signum, frame):
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the cleanup below finish
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = _args(argv)
    if HERE in sys.path:
        sys.path.remove(HERE)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    import etl_service_spark  # noqa: F401  (fail fast when the engine is absent)
    from perfbench import procs

    signal.signal(signal.SIGTERM, _on_sigterm)
    procs.adopt_orphans()
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run_{args.workload}_", dir=OUT)
    _hygiene_env(work, bool(args.trace))
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse/ and derby.log land in the temp dir
    try:
        result = run(args, work)
    finally:
        # the JVM and its Python workers end before this process does
        left = procs.end_children()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    if left:
        print("processes that would not end:", left, file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
