"""Layer readings taken from outside the program: Spark's event log,
Catalyst's phase tracker, session hygiene counters and process RSS."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# SQL metrics the Python/Arrow UDF operators publish (times in ms).
_UDF_ACCUMS = {
    "time to run Python workers": ("udf.python_run_s", 1e-3),
    "time to start Python workers": ("udf.python_boot_s", 1e-3),
    "time to initialize Python workers": ("udf.python_boot_s", 1e-3),
    "data sent to Python workers": ("udf.bytes_to_python", 1),
    "data returned from Python workers": ("udf.bytes_from_python", 1),
}

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

EVENT_LOG_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.deserialize_s",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "output.bytes", "output.records",
    "udf.python_run_s", "udf.python_boot_s", "udf.bytes_to_python", "udf.bytes_from_python",
    "stream.trigger_s", "stream.add_batch_s", "stream.planning_s", "stream.offsets_s",
    "stream.commit_s", "stream.state_rows", "stream.state_bytes", "stream.state_commit_s",
    "stream.watermark_dropped_rows",
)


def event_log_conf(log_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS that turn on an uncompressed event log."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )


def read_event_log(log_dir: str) -> dict[str, float]:
    """Sum task, UDF and streaming metrics over every event of the
    session's log (read after the session stopped, so it is complete)."""
    m: dict[str, float] = defaultdict(float)
    for name in EVENT_LOG_METRICS:
        m[name] = 0.0
    state: dict[tuple, tuple[int, int]] = {}  # (query, operator) -> last (rows, bytes)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path) as fh:
            for line in fh:
                _fold_event(m, state, json.loads(line))
    m["stream.state_rows"] = float(sum(r for r, _ in state.values()))
    m["stream.state_bytes"] = float(sum(b for _, b in state.values()))
    return dict(m)


def _fold_event(m: dict[str, float], state: dict, e: dict) -> None:
    kind = e.get("Event")
    if kind == "SparkListenerJobStart":
        m["spark.jobs"] += 1
    elif kind == "SparkListenerStageCompleted":
        m["spark.stages"] += 1
    elif kind == "SparkListenerTaskEnd":
        m["spark.tasks"] += 1
        info, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
        run = tm.get("Executor Run Time", 0)
        deser = tm.get("Executor Deserialize Time", 0)
        busy = run + deser + tm.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0)
        wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        m["spark.scheduler_delay_s"] += max(0, wall - busy) / 1e3
        m["executor.run_s"] += run / 1e3
        m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["executor.deserialize_s"] += deser / 1e3
        sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
        m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["shuffle.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        out = tm.get("Output Metrics", {})
        m["output.bytes"] += out.get("Bytes Written", 0)
        m["output.records"] += out.get("Records Written", 0)
        for acc in info.get("Accumulables", []):
            hit = _UDF_ACCUMS.get(acc.get("Name"))
            if hit and isinstance(acc.get("Update"), (int, float, str)):
                m[hit[0]] += float(acc["Update"]) * hit[1]
    elif kind == _PROGRESS:
        p = e["progress"]
        d = p.get("durationMs", {})
        m["stream.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        m["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
        m["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
        m["stream.offsets_s"] += (
            d.get("latestOffset", 0) + d.get("getBatch", 0) + d.get("walCommit", 0)
        ) / 1e3
        m["stream.commit_s"] += d.get("commitOffsets", 0) / 1e3
        for op in p.get("stateOperators", []):
            m["stream.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
            m["stream.watermark_dropped_rows"] += op.get("numRowsDroppedByWatermark", 0)
            # state size is a level, not an increment: keep the last reading
            state[(p["id"], op.get("operatorName"))] = (
                op.get("numRowsTotal", 0), op.get("memoryUsedBytes", 0))


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own QueryExecution. Forcing
    ``executedPlan`` runs optimization and planning on it if the sink's
    execution did not (a write plans a separate QueryExecution)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def hygiene(spark) -> dict[str, float]:
    """Session state a run leaves behind: temp views, persisted RDDs and
    staging-directory entries (when a staging directory is configured)."""
    from etl_service_spark.functions.portable import staging_dir

    sdir = staging_dir(spark)
    entries = len(os.listdir(sdir)) if sdir and os.path.isdir(sdir) else 0
    views = [t for t in spark.catalog.listTables() if t.isTemporary]
    return {
        "session.temp_views_left": float(len(views)),
        "session.persisted_rdds_left": float(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "staging.dir_entries_left": float(entries),
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def input_bytes(data_dir: str) -> float:
    return float(sum(
        os.path.getsize(os.path.join(data_dir, f)) for f in os.listdir(data_dir)
    ))
