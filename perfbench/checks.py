"""Output checks, run after the timed region. Each returns a list of
problem strings; every problem counts as one failed operation.

The expected values come from DuckDB over the same generated parquet
(the registry's own oracles where one exists), never from Spark.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

from . import inputs as I
from .workloads import DIMS

GAP_US = 30 * 60 * 1_000_000  # streaming/sessionize.SESSION_GAP_US


def connect(data_dir: str, spill_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")  # Spark is idle by then
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in I.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _scalar(con, sql: str):
    return con.execute(sql).fetchone()[0]


# ----------------------------------------------------------- analyst_mix
def check_analyst(con, results: dict) -> list[str]:
    """Row count, schema and value hash of every execution's fetched
    rows, keyed (phase, query), against the query's DuckDB oracle
    (tests/harness.py rules); a query without an oracle only has to have
    produced its rows."""
    from etl_service_spark.plans.queries import registry
    from tests.harness import compare, compare_arrow_types

    cases = registry()
    wanted: dict = {}
    problems = []
    for (phase, name), got in sorted(results.items()):
        oracle = cases[name].oracle
        if oracle is None:
            continue
        try:
            if name not in wanted:
                wanted[name] = con.execute(oracle).fetch_arrow_table()
            want = wanted[name]
            bad = compare(got.to_pandas(), want.to_pandas()) + compare_arrow_types(got, want)
        except Exception as e:  # an oracle that cannot run fails the check
            bad = [f"{type(e).__name__}: {e}"]
        problems += [f"{name} ({phase}): {p}" for p in bad]
    return problems


# ----------------------------------------------------------- etl_nightly
def check_etl(spark, con, inp, facts: dict) -> list[str]:
    problems = []
    for check in (
        lambda: _check_facts(con, facts),
        lambda: _check_report(con, facts),
        lambda: _check_ledger(spark, con, facts),
        lambda: _check_streams(con, inp, facts),
    ):
        try:
            problems += check()
        except Exception as e:  # e.g. a target a failed step never wrote
            problems.append(f"{type(e).__name__}: {e}")
    return problems


def _check_facts(con, facts) -> list[str]:
    p = []
    rows = facts["rows_written"]
    for m in facts["months"]:
        want = _scalar(con, f"""
            SELECT COUNT(*) FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE strftime(o_orderdate, '%Y%m') = '{m}'""")
        if rows.get(f"fact_{m}") != want:
            p.append(f"fact {m}: wrote {rows.get(f'fact_{m}')} rows, expected {want}")
    on_disk = _scalar(con, f"SELECT COUNT(*) FROM read_parquet('{facts['fact_dir']}/*/*.parquet')")
    if on_disk != sum(v for k, v in rows.items() if k.startswith("fact_")):
        p.append(f"fact table holds {on_disk} rows, steps reported otherwise")
    for d in DIMS:
        want = _scalar(con, f"SELECT COUNT(*) FROM {d}")
        got = _scalar(con, f"SELECT COUNT(*) FROM read_parquet('{facts['dim_dir']}/{d}/*.parquet')")
        if not rows.get(f"dim_{d}") == got == want:
            p.append(f"dim {d}: step {rows.get(f'dim_{d}')}, table {got}, expected {want}")
    return p


def _check_report(con, facts) -> list[str]:
    from tests.harness import compare

    want = con.execute(f"""
        SELECT strftime(o_orderdate, '%Y%m') AS slice_month, c_mktsegment AS segment,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        WHERE strftime(o_orderdate, '%Y%m') IN ({", ".join(repr(m) for m in facts["months"])})
        GROUP BY ALL""").fetchdf()
    got = con.execute(
        f"SELECT * FROM read_parquet('{facts['report_dir']}/*.parquet')"
    ).fetchdf()
    got["slice_month"] = got["slice_month"].astype(str)
    p = [f"report: {x}" for x in compare(got, want)]
    if facts["rows_written"].get("report") != len(want):
        p.append(f"report step wrote {facts['rows_written'].get('report')} rows, expected {len(want)}")
    # one header line per non-empty part file
    parts = sorted(glob.glob(os.path.join(facts["csv_dir"], "part-*.csv")))
    lines = headers = 0
    for f in parts:
        with open(f) as fh:
            n = sum(1 for _ in fh)
        lines += n
        headers += n > 0
    if lines != len(want) + headers:
        p.append(f"csv: {lines} lines for {len(want)} rows and {headers} headers")
    return p


def expected_ledger(con, q_min=0.45, bench_max_id=50, k_shared=5, tau=0.8) -> tuple[dict, set]:
    """The corpus build's stage counts and survivors re-derived with the
    registry's DuckDB oracles (exact dedup, Jaccard pairs, contamination,
    quality) over the same documents."""
    from etl_service_spark.operators import dedup, textops
    from etl_service_spark.plans.corpus_build import SPLIT_EXPR

    ids = lambda sql: {r[0] for r in con.execute(sql).fetchall()}  # noqa: E731
    n_input = _scalar(con, "SELECT COUNT(*) FROM documents")
    kept = ids(f"SELECT keeper_id FROM ({dedup.exact_dedup_sql()[1]})")
    n_exact = len(kept)
    kept -= _non_keepers(con.execute(
        f"SELECT doc_a, doc_b FROM ({dedup.ngram_jaccard_sql(tau=tau)[1]})").fetchall())
    n_near = len(kept)
    contaminated = ids(
        f"SELECT train_id FROM ({dedup.contamination_sql(k_shared, bench_max_id)[1]})"
    )
    kept = {d for d in kept if d >= bench_max_id} - contaminated
    n_decon = len(kept)
    good = ids(f"SELECT doc_id FROM ({textops.oracle_quality_score()}) WHERE quality >= {q_min}")
    kept &= good
    con.execute("CREATE OR REPLACE TEMP TABLE kept_ids (doc_id BIGINT)")
    con.executemany("INSERT INTO kept_ids VALUES (?)", [(d,) for d in sorted(kept)])
    splits = dict(con.execute(
        f"SELECT {SPLIT_EXPR} AS split, COUNT(*) FROM kept_ids GROUP BY 1"
    ).fetchall())
    ledger = {
        "n_input": n_input, "n_after_exact": n_exact, "n_after_neardup": n_near,
        "n_after_decontamination": n_decon, "n_after_quality": len(kept),
        "n_per_split": splits,
    }
    return ledger, kept


def _non_keepers(pairs) -> set:
    """Members of each Jaccard-pair component other than its minimum
    doc_id: the closure the dup_clusters oracle computes recursively,
    here by union-find."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


_STAGES = ("n_input", "n_after_exact", "n_after_neardup", "n_after_decontamination",
           "n_after_quality")


def _check_ledger(spark, con, facts) -> list[str]:
    from etl_service_spark.sources.snapshots import read_snapshot

    led = facts["ledger"]
    p = []
    counts = [led.get(k) for k in _STAGES]
    if None in counts or counts != sorted(counts, reverse=True):
        p.append(f"ledger not monotone: {counts}")
    snap = read_snapshot(spark, facts["corpus_dir"]).select("doc_id").toArrow()
    doc_ids = set(snap.column("doc_id").to_pylist())
    if not snap.num_rows == led.get("n_after_quality") == sum(led.get("n_per_split", {}).values()):
        p.append(f"snapshot has {snap.num_rows} rows; ledger {led}")
    if doc_ids and min(doc_ids) < 50:
        p.append("benchmark documents (doc_id < 50) reached the corpus")
    want, survivors = expected_ledger(con)
    got = {k: led.get(k) for k in want}
    if got != want:
        p.append(f"ledger {got} != oracle ledger {want}")
    if doc_ids != survivors:
        p.append(f"snapshot doc_ids differ from oracle survivors by {len(doc_ids ^ survivors)}")
    return p


def _watermark_ms(ckpt: str) -> int:
    """Event-time watermark of the last committed micro-batch."""
    last = max(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())
    with open(os.path.join(ckpt, "offsets", str(last))) as fh:
        return int(json.loads(fh.read().splitlines()[1])["batchWatermarkMs"])


def _check_streams(con, inp, facts) -> list[str]:
    """Each sink against the batch answer over every delivered row
    (re-deliveries included): windows and sessions closed by the final
    watermark, and one row per distinct event_id for dedup."""
    wd = facts["work_dir"]
    drops = "[" + ", ".join(f"'{d}'" for d in inp.drops) + "]"
    con.execute(f"CREATE OR REPLACE TEMP VIEW delivered AS SELECT * FROM read_parquet({drops})")
    sink = lambda s: f"read_parquet('{wd}/sink/{s}/*.parquet')"  # noqa: E731
    p = []
    w_ms = _watermark_ms(os.path.join(wd, "ckpt", "windows"))
    windows = f"""
        WITH all_windows AS (
          SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
          FROM delivered GROUP BY ALL),
        want AS (FROM all_windows WHERE ws + 3600000000 <= {w_ms} * 1000),
        got AS (SELECT epoch_us(window_start) AS ws, event_type, n_events AS n,
                       total_value AS v FROM {sink('windows')})
        SELECT (SELECT COUNT(*) FROM (FROM want EXCEPT ALL FROM got)),
               (SELECT COUNT(*) FROM (FROM got EXCEPT ALL FROM want)),
               (SELECT COUNT(*) FROM want)"""
    missing, extra, n = con.execute(windows).fetchone()
    if missing or extra or not n:
        p.append(f"windows sink: {missing} missing, {extra} extra of {n} closed windows")
    want = _scalar(con, "SELECT COUNT(DISTINCT event_id) FROM delivered")
    got, distinct = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT event_id) FROM {sink('dedup')}"
    ).fetchone()
    if not got == distinct == want:
        p.append(f"dedup sink: {got} rows, {distinct} distinct, expected {want}")
    w_ms = _watermark_ms(os.path.join(wd, "ckpt", "sessions"))
    sessions = f"""
        WITH d AS (SELECT user_id, epoch_us(ts) AS t FROM delivered),
        b AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER w > {GAP_US} THEN 1 ELSE 0 END AS brk
              FROM d WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        s AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
              RANGE UNBOUNDED PRECEDING) AS sid FROM b),  -- a re-sent copy joins its twin
        a AS (SELECT user_id, sid, COUNT(*) AS n, MIN(t) AS s, MAX(t) AS e FROM s GROUP BY ALL),
        want AS (SELECT user_id, n, s, e FROM a
                 QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id)
                      OR (e + {GAP_US}) // 1000 < {w_ms}),
        got AS (SELECT user_id, n_events AS n, session_start_us AS s, session_end_us AS e
                FROM {sink('sessions')})
        SELECT (SELECT COUNT(*) FROM (FROM want EXCEPT ALL FROM got)),
               (SELECT COUNT(*) FROM (FROM got EXCEPT ALL FROM want)),
               (SELECT COUNT(*) FROM want)"""
    missing, extra, n = con.execute(sessions).fetchone()
    if missing or extra or not n:
        p.append(f"sessions sink: {missing} missing, {extra} extra of {n} closed sessions")
    return p
