"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.spans import Span, self_times, union_length

POOL = ["q_a", "q_b", "q_c", "q_d"]


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(base, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 7, POOL)
    b = inputs.generate(str(tmp_path / "b"), 7, POOL)
    c = inputs.generate(str(tmp_path / "c"), 8, POOL)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert (a.query_order, a.repeat_order) == (b.query_order, b.repeat_order)
    assert sorted(a.query_order) == sorted(POOL) == sorted(a.repeat_order)
    # sizes do not depend on the seed, only values and order
    for t in inputs.TABLES:
        n = lambda inp: pq.ParquetFile(f"{inp.data_dir}/{t}.parquet").metadata.num_rows  # noqa: E731
        assert n(a) == n(c), t


def test_pool_is_a_proportional_draw_over_families():
    from collections import Counter

    names = [f"f{i % 7}_q{i}" for i in range(100)] + ["solo_a", "solo_b"]
    pool = inputs.draw_pool(names, size=20, seed=3)
    assert pool == inputs.draw_pool(names, size=20, seed=3)
    assert len(set(pool)) == 20 and set(pool) <= set(names)
    share = Counter(n.split("_")[0] for n in names)
    for fam, k in Counter(n.split("_")[0] for n in pool).items():
        assert abs(k - 20 * share[fam] / len(names)) <= 1, fam


def test_drops_are_disjoint_time_ordered_with_stated_redelivery(tmp_path):
    inp = inputs.generate(str(tmp_path), 3, POOL)
    events = pq.read_table(f"{inp.data_dir}/events.parquet")
    n_redeliver = round(inputs.REDELIVER_SHARE * inputs.DROP_ROWS)
    fresh_ids: list[set] = []
    prev_max_ts = None
    for k, path in enumerate(inp.drops):
        drop = pq.read_table(path)
        ids = drop.column("event_id").to_numpy()
        ts = drop.column("ts").cast("int64").to_numpy()
        fresh = set(range(k * inputs.DROP_ROWS, (k + 1) * inputs.DROP_ROWS))
        resent = [i for i in ids if i not in fresh]
        assert fresh <= set(ids.tolist())
        assert len(ids) == inputs.DROP_ROWS + (n_redeliver if k else 0)
        assert inp.drop_redelivered_rows[k] == len(resent) == (n_redeliver if k else 0)
        if k:
            # re-sent rows come from the previous drop's tail, unchanged
            assert set(resent) <= fresh_ids[-1]
            assert ts[: len(resent)].min() >= prev_max_ts - inputs.REDELIVER_WINDOW_US
            src = events.take(resent).column("ts").cast("int64").to_numpy()
            assert (src == ts[: len(resent)]).all()
        fresh_ts = ts[len(resent):]
        assert prev_max_ts is None or fresh_ts.min() >= prev_max_ts
        assert (np.diff(fresh_ts) >= 0).all()
        prev_max_ts = fresh_ts.max()
        fresh_ids.append(fresh)
    for i in range(len(fresh_ids)):
        for j in range(i + 1, len(fresh_ids)):
            assert not fresh_ids[i] & fresh_ids[j]


def _span(i, start, end, parent, name="x.s"):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0, None, "orchestrator.step"),
        # two overlapping children cover [1, 6]; a third covers [8, 9]
        _span(2, 1.0, 4.0, 1, "operators.copy"),
        _span(3, 3.0, 6.0, 1, "operators.copy"),
        _span(4, 8.0, 9.0, 1, "snapshots.commit"),
        # grandchild: counted against its parent only
        _span(5, 1.5, 2.5, 2, "spark.job"),
    ]
    st = self_times(spans)
    assert st["orchestrator"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["operators"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert st["snapshots"] == pytest.approx(1.0)
    assert st["spark"] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    st = self_times([_span(1, 0.0, 2.0, None, "a.p"), _span(2, 1.0, 5.0, 1, "b.c")])
    assert st["a"] == pytest.approx(1.0)


def test_union_length():
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def _write_sinks(wd, delivered, w_ms, drop_session=False):
    """Sink files and checkpoints as the three streaming queries leave
    them, computed here row by row from the delivered events."""
    import json
    from collections import defaultdict
    from decimal import Decimal

    import pyarrow as pa

    from perfbench.checks import GAP_US

    ts = delivered.column("ts").cast("int64").to_pylist()
    users = delivered.column("user_id").to_pylist()
    windows, per_user = defaultdict(lambda: [0, Decimal(0)]), defaultdict(list)
    for t, u, kind, v in zip(ts, users, delivered.column("event_type").to_pylist(),
                             delivered.column("value").to_pylist()):
        w = windows[(t // 3_600_000_000 * 3_600_000_000, kind)]
        w[0] += 1
        w[1] += Decimal(str(v)).quantize(Decimal("0.01"))
        per_user[u].append(t)
    closed = {k: w for k, w in windows.items() if k[0] + 3_600_000_000 <= w_ms * 1000}
    sessions = []
    for u, times in per_user.items():
        times.sort()
        runs = [[times[0]]]
        for t in times[1:]:
            (runs[-1].append(t) if t - runs[-1][-1] <= GAP_US else runs.append([t]))
        for i, r in enumerate(runs):
            if i < len(runs) - 1 or (r[-1] + GAP_US) // 1000 < w_ms:
                sessions.append((u, len(r), r[0], r[-1]))
    if drop_session:
        sessions.pop()
    ids = sorted(set(delivered.column("event_id").to_pylist()))
    tables = {
        "windows": pa.table({
            "window_start": pa.array([k[0] for k in closed], pa.timestamp("us")),
            "event_type": [k[1] for k in closed],
            "n_events": [w[0] for w in closed.values()],
            "total_value": [float(w[1]) for w in closed.values()],
        }),
        "dedup": pa.table({"event_id": ids}),
        "sessions": pa.table(dict(zip(
            ["user_id", "n_events", "session_start_us", "session_end_us"],
            map(list, zip(*sessions)) if sessions else [[], [], [], []]))),
    }
    for name, tbl in tables.items():
        os.makedirs(f"{wd}/sink/{name}", exist_ok=True)
        pq.write_table(tbl, f"{wd}/sink/{name}/part-0.parquet")
        for sub in ("commits", "offsets"):
            os.makedirs(f"{wd}/ckpt/{name}/{sub}", exist_ok=True)
        with open(f"{wd}/ckpt/{name}/commits/1", "w") as fh:
            fh.write("v1\n{}\n")
        with open(f"{wd}/ckpt/{name}/offsets/1", "w") as fh:
            fh.write("v1\n" + json.dumps({"batchWatermarkMs": w_ms}) + "\n{}\n")


def test_stream_checks_accept_the_batch_answer_and_catch_a_lost_session(tmp_path):
    import pyarrow as pa

    from perfbench import checks

    inp = inputs.generate(str(tmp_path), 5, POOL)
    delivered = pa.concat_tables([pq.read_table(p) for p in inp.drops])
    w_ms = int(delivered.column("ts").cast("int64").to_numpy().max()) // 1000 - 2 * 3600 * 1000
    con = checks.connect(inp.data_dir, str(tmp_path / "spill"))
    facts = {"work_dir": str(tmp_path / "run")}
    _write_sinks(facts["work_dir"], delivered, w_ms)
    assert checks._check_streams(con, inp, facts) == []
    _write_sinks(facts["work_dir"], delivered, w_ms, drop_session=True)
    assert [p for p in checks._check_streams(con, inp, facts) if p.startswith("sessions")]


def test_analyst_check_reports_a_wrong_first_touch(tmp_path):
    from etl_service_spark.plans.queries import registry

    from perfbench import checks

    name = "tpch_q1_pricing"
    inp = inputs.generate(str(tmp_path), 2, [name])
    con = checks.connect(inp.data_dir, str(tmp_path / "spill"))
    right = con.execute(registry()[name].oracle).fetch_arrow_table()
    assert right.num_rows > 1
    wrong = right.slice(0, right.num_rows - 1)
    assert checks.check_analyst(con, {("first", name): right, ("repeat", name): right}) == []
    problems = checks.check_analyst(con, {("first", name): wrong, ("repeat", name): right})
    assert problems and all(f"{name} (first)" in p for p in problems)


def test_end_children_waits_for_orphaned_grandchildren():
    import subprocess
    import sys

    # a child that leaves a grandchild behind and exits: only a process
    # that adopted its orphans can still see and end the grandchild
    script = """
import subprocess, sys, time
from perfbench import procs
procs.adopt_orphans()
subprocess.run(["sh", "-c", "sleep 120 & sleep 120 & exit 0"], check=True)
time.sleep(0.2)
orphans = procs.descendants()
left = procs.end_children(grace=0.5)
print(len(orphans), len(left), len(procs.descendants()))
"""
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", script], cwd=root, stdout=subprocess.PIPE,
                         text=True, check=True, timeout=60).stdout.split()
    assert out == ["2", "0", "0"]
