"""The two workloads. Each returns its operation log; checks live in
checks.py and run after the timed region.

- etl_nightly: one Orchestrator run of a nightly workflow built from the
  public operators: monthly fact copies serialized on one target table,
  a dimension realization under a parallel-step cap, an SQL-target
  aggregate, an exclusive CSV export, the corpus build chain ending in a
  snapshot commit, and a chain of event drops drained by three
  availableNow streaming sinks.
- analyst_mix: one client runs a pool of registry headliners,
  first touch in seeded order, then one repeat pass in another seeded
  order; each execution builds the case's DataFrame and fetches its
  rows as Arrow, as a client would.

Both are fixed amounts of work: nothing is cut at a deadline, so a
slower program shows as a longer wall time, never as less work done.
`facts["n_ops"]` is the number of operations planned; one that never
ran counts as failed.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

FACT_YEAR = 1997
MAX_THREADS = len(os.sched_getaffinity(0))  # step admission cap: one per core
FACT_MONTHS = 3  # one copy step per takeover month from January
DIMS = ("customer", "nation")
SINKS = ("sessions", "windows", "dedup")  # slowest first: it bounds each tick
REPORT_SQL = """
SELECT f.Zeitscheibe_Monat AS slice_month, c.c_mktsegment AS segment,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM parquet.`##fact_dir##` f
JOIN parquet.`##customer_dir##` c ON c.c_custkey = f.o_custkey
WHERE f.o_orderdate BETWEEN '##von##' AND '##bis##'
GROUP BY f.Zeitscheibe_Monat, c.c_mktsegment
"""


@dataclass
class Op:
    kind: str
    name: str
    start: float
    end: float
    ok: bool = True

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class RunState:
    spark: object
    inputs: object
    work_dir: str
    tracer: object
    ops: list[Op] = field(default_factory=list)
    facts: dict = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, kind: str, name: str, fn, layer: str):
        """Run fn as one operation, timed (and as span ``layer.name`` when
        traced); failures are recorded and re-raised."""
        start = time.perf_counter()
        ok = False
        try:
            with self.tracer.span(f"{layer}.{name}"):
                out = fn()
            ok = True
            return out
        finally:
            with self.lock:
                self.ops.append(Op(kind, name, start, time.perf_counter(), ok))


# ----------------------------------------------------------- etl_nightly
def _fact_schema(src_schema):
    from pyspark.sql.types import StringType, StructField, StructType, TimestampNTZType

    keep = ("o_orderkey", "o_custkey", "o_orderdate", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount")
    fields = [f for f in src_schema.fields if f.name in keep]
    return StructType(fields + [
        StructField("Nutzer", StringType()),
        StructField("Abfragezeitpunkt", TimestampNTZType()),
        StructField("Datenproduzent", StringType()),
        StructField("Zeitscheibe_Monat", StringType()),
    ])


def _dim_schema(src_schema):
    from pyspark.sql.types import StringType, StructField, StructType, TimestampNTZType

    return StructType(list(src_schema.fields) + [
        StructField("Nutzer", StringType()),
        StructField("Abfragezeitpunkt", TimestampNTZType()),
        StructField("Datenproduzent", StringType()),
        StructField("gueltig_bis", TimestampNTZType()),  # absent in source: typed NULL
    ])


def month_windows(year: int = FACT_YEAR, months: int = FACT_MONTHS):
    from etl_service_spark.operators.copy import TakeoverWindow

    firsts = [datetime(year + m // 12, m % 12 + 1, 1) for m in range(months + 1)]
    return [TakeoverWindow(a, b - timedelta(days=1)) for a, b in zip(firsts, firsts[1:])]


def etl_nightly(st: RunState) -> dict:
    from etl_service_spark.operators import copy as copy_ops
    from etl_service_spark.operators import csv_export
    from etl_service_spark.operators.align import AuditContext, align_to_schema
    from etl_service_spark.operators.sql_exec import execute_sql_target
    from etl_service_spark.plans.corpus_build import corpus_build_workflow
    from etl_service_spark.plans.orchestrator import (
        Orchestrator, Package, Realization, Step, Workflow,
    )
    from etl_service_spark.streaming import events_stream, sessionize

    spark, inp, wd = st.spark, st.inputs, st.work_dir
    audit = AuditContext(user="etl_user", query_time="2026-01-01 02:00:00", producer="nightly")
    fact_dir = os.path.join(wd, "fact_sales")
    dim_dir = os.path.join(wd, "dims")
    report_dir = os.path.join(wd, "report")
    csv_dir = os.path.join(wd, "export_csv")
    landing = os.path.join(wd, "landing")
    os.makedirs(landing)
    rows = st.facts.setdefault("rows_written", {})
    windows = month_windows()
    st.facts.update(work_dir=wd, fact_dir=fact_dir, dim_dir=dim_dir, report_dir=report_dir,
                    csv_dir=csv_dir, corpus_dir=os.path.join(wd, "corpus"),
                    months=[w.von.strftime("%Y%m") for w in windows])

    orders, lineitem = spark.table("orders"), spark.table("lineitem")
    joined = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    fact_schema = _fact_schema(joined.schema)

    def fact_step(w):
        def run():
            sliced = copy_ops.copy_data_timesliced(joined, "o_orderdate", w, fact_schema, audit)
            n = copy_ops.write_copy(sliced, fact_dir, mode="append", slice_partitioned=True)
            rows[f"fact_{w.von:%Y%m}"] = n
        return run

    def dim_step(name):
        def run():
            src = spark.table(name)
            n = copy_ops.write_copy(
                align_to_schema(src, _dim_schema(src.schema), audit),
                os.path.join(dim_dir, name), mode="overwrite",
            )
            rows[f"dim_{name}"] = n
        return run

    def report_step():
        df = execute_sql_target(spark, REPORT_SQL, {
            "fact_dir": fact_dir, "customer_dir": os.path.join(dim_dir, "customer"),
            "von": f"{windows[0].von:%Y-%m-%d}", "bis": f"{windows[-1].bis:%Y-%m-%d} 23:59:59",
        })
        rows["report"] = copy_ops.write_copy(df, report_dir, mode="overwrite")

    def export_step():
        csv_export.write_csv(spark.read.parquet(report_dir), csv_dir)

    lags = st.facts.setdefault("lags", [])
    landed = {}

    def land_step(k, path):
        def run():
            # copy under a hidden name, then rename: the file source
            # ignores dot files, so a drop appears whole
            hidden = os.path.join(landing, "." + os.path.basename(path))
            shutil.copy(path, hidden)
            os.replace(hidden, os.path.join(landing, os.path.basename(path)))
            landed[k] = time.perf_counter()
        return run

    queries = {
        "windows": events_stream.windowed_event_counts,
        "dedup": events_stream.dedup_event_stream,
        "sessions": sessionize.sessionize_stream,
    }

    def sink_step(k, sink):
        def run():
            with st.tracer.span(f"streaming.{sink}"):
                result = queries[sink](events_stream.read_event_stream(spark, landing))
                events_stream.run_available_now_to_parquet(
                    result, os.path.join(wd, "ckpt", sink), os.path.join(wd, "sink", sink)
                )
            with st.lock:
                lags.append(time.perf_counter() - landed[k])
        return run

    packages = {
        "facts": Package("facts", (Realization("R_facts", tuple(
            Step(f"fact_{w.von:%Y%m}", fact_step(w), order=i, target_tables=("fact_sales",))
            for i, w in enumerate(windows)
        )),)),
        "dims": Package("dims", (Realization("R_dims", tuple(
            Step(f"dim_{d}", dim_step(d), order=i, target_tables=(f"dim_{d}",))
            for i, d in enumerate(DIMS)
        ), max_parallel_steps=2),)),
        "report": Package("report", (Realization("R_report", (
            Step("report_agg", report_step, target_tables=("report",)),
        )),), depends_on=("facts", "dims")),
        "export": Package("export", (Realization("R_export", (
            Step("export_csv", export_step, exclusive=True, target_tables=("export_csv",)),
        )),), depends_on=("report",)),
    }
    corpus_wf, corpus_ctx = corpus_build_workflow(spark, inp.data_dir, st.facts["corpus_dir"])
    packages.update(corpus_wf.packages)
    prev = ()
    for k, path in enumerate(inp.drops):
        name = f"drop_{k}"
        packages[name] = Package(name, (
            Realization(f"R_land_{k}", (Step(f"land_{k}", land_step(k, path)),), priority=1),
            Realization(f"R_sinks_{k}", tuple(
                Step(f"{s}_{k}", sink_step(k, s), order=i, target_tables=(f"sink_{s}",))
                for i, s in enumerate(SINKS)
            ), priority=2),
        ), depends_on=prev)
        prev = (name,)
    packages["close"] = Package("close", (Realization("R_close", (
        Step("close", lambda: None),
    )),), depends_on=("export", corpus_wf.master, prev[0]))

    # every step action runs through the op log (and a span when traced)
    for pname, pkg in packages.items():
        packages[pname] = replace(pkg, realizations=tuple(
            replace(r, steps=tuple(
                replace(s, action=_timed_step(st, s)) for s in r.steps
            )) for r in pkg.realizations
        ))

    wf = Workflow(name="etl_nightly", packages=packages, master="close")
    Orchestrator(max_threads=MAX_THREADS).run(wf, spark=spark)
    st.facts.update(ledger=corpus_ctx.report,
                    n_ops=sum(len(r.steps) for p in packages.values() for r in p.realizations))
    return st.facts


def _timed_step(st: RunState, step):
    action = step.action

    def run():
        return st.record("step", step.name, action, "orchestrator")

    return run


# ----------------------------------------------------------- analyst_mix
def analyst_mix(st: RunState) -> dict:
    from etl_service_spark.plans.queries import registry

    from .layers import catalyst_phases_ms

    spark, inp = st.spark, st.inputs
    cases = registry()
    sc = spark.sparkContext
    traced = st.tracer.enabled
    build = st.facts.setdefault("build", {"first": [], "repeat": []})
    exec_s = st.facts.setdefault("exec", {"first": [], "repeat": []})
    phases = st.facts.setdefault("phases", [])
    results = st.facts.setdefault("results", {})  # rows per (phase, query), for the check

    def execute(name: str, phase: str):
        def run():
            if traced:
                sc.setJobGroup("perfbench_build", name)
            t0 = time.perf_counter()
            with st.tracer.span("queries.build"):
                df = cases[name].spark(spark, inp.data_dir)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup("perfbench_exec", name)
            with st.tracer.span("queries.exec"):
                results[phase, name] = df.toArrow()
            t2 = time.perf_counter()
            build[phase].append(t1 - t0)
            exec_s[phase].append(t2 - t1)
            return df
        return run

    plan = (("first", inp.query_order), ("repeat", inp.repeat_order))
    st.facts["n_ops"] = sum(len(order) for _, order in plan)
    for phase, order in plan:
        for name in order:
            try:
                df = st.record(phase, name, execute(name, phase), "analyst")
            except Exception:  # recorded as a failed operation; keep the client going
                traceback.print_exc()
                continue
            if traced:
                with st.tracer.span("trace.catalyst"):
                    phases.append(catalyst_phases_ms(df))
            df = None
    if traced:
        sc._jsc.clearJobGroup()
        # jobs launched while DataFrames were built (eager staging, loops)
        st.facts["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup("perfbench_build"))
    return st.facts


WORKLOADS = {"etl_nightly": etl_nightly, "analyst_mix": analyst_mix}
