"""Tests for the benchmark's helpers.  No Spark session is started.

    python3 -m pytest layerbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import hostinfo  # noqa: E402
from spans import Span, self_times  # noqa: E402


# ---------------------------------------------------------------------------
# /proc parsers
# ---------------------------------------------------------------------------
def test_steal_from_cpu_ticks_sums_user_to_steal_only(monkeypatch):
    import io

    import bench

    # user nice system idle iowait irq softirq steal guest guest_nice
    readings = iter([
        "cpu  100 5 20 800 10 0 5 60 40 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n",
        "cpu  300 5 70 900 10 0 5 110 90 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n",
    ])
    monkeypatch.setattr(bench, "open", lambda path: io.StringIO(next(readings)), raising=False)
    t0, t1 = bench.cpu_ticks(), bench.cpu_ticks()
    assert t0 == (60, 100 + 5 + 20 + 800 + 10 + 0 + 5 + 60)  # guest is inside user
    # 50 stolen of the 400 user..steal ticks between the readings
    assert bench.steal_pct(t0, t1) == pytest.approx(12.5)
    assert bench.steal_pct(t1, t1) is None


def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields 3..17: state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime, then a few more
    return (f"{pid} ({comm}) S {ppid} {pid} {pid} 0 -1 4194560 100 0 0 0 "
            f"{utime} {stime} {cutime} {cstime} 20 0 1 0 12345 0 0\n")


def test_proc_stat_comm_with_spaces_and_parens():
    st = hostinfo.parse_proc_stat(_stat_line(42, "py (x) worker", 7, 250, 50, 100, 0))
    tck = hostinfo.CLK_TCK
    assert (st.pid, st.comm, st.ppid) == (42, "py (x) worker", 7)
    assert st.self_s == pytest.approx(300 / tck)
    assert st.children_s == pytest.approx(100 / tck)


def test_tree_cpu_splits_runner_jvm_and_workers():
    tck = hostinfo.CLK_TCK
    lines = [
        _stat_line(10, "python3", 1, 1 * tck, 0),  # the runner
        _stat_line(11, "java", 10, 20 * tck, 5 * tck, 2 * tck, 0),  # JVM, reaped a worker
        _stat_line(12, "python3", 11, 3 * tck, 0, 4 * tck, 0),  # pyspark daemon
        _stat_line(13, "python3", 12, 2 * tck, 0),  # a worker
        _stat_line(99, "java", 1, 500 * tck, 0),  # not ours
    ]
    procs = {p.pid: p for p in map(hostinfo.parse_proc_stat, lines)}
    cpu = hostinfo.tree_cpu(procs, 10)
    assert cpu.runner_s == pytest.approx(1.0)
    assert cpu.jvm_s == pytest.approx(27.0)
    assert cpu.pyworkers_s == pytest.approx(9.0)
    assert cpu.total_s == pytest.approx(37.0)
    assert (cpu - hostinfo.TreeCpu(0.5, 7.0, 1.0)).total_s == pytest.approx(28.5)


def test_read_tree_cpu_of_this_process():
    cpu = hostinfo.read_tree_cpu()
    assert cpu.runner_s > 0
    assert cpu.jvm_s == 0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),  # overlaps a: the union 1..6 counts once
        Span(3, "c", 8.0, 12.0, 0, 1),  # runs past the parent: clipped to 8..10
        Span(4, "a.child", 1.5, 2.0, 1, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_counts():
    from spans import Tracer

    tr = Tracer()
    with tr.op_span(3, "q"):
        with tr.span("outer"):
            with tr.span("inner"):
                pass
    names = {s.name: s for s in tr.spans}
    assert names["inner"].parent == names["outer"].id
    assert names["outer"].parent == names["op.q"].id
    assert all(s.op == 3 for s in tr.spans)
    assert tr.counters[3]["inner.calls"] == 1
    assert 0 <= self_times(tr.spans)[names["op.q"].id] <= names["op.q"].end - names["op.q"].start


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def _mix_with_result(tmp_path, got_rows):
    from workloads import Op, QueryMix

    mix = object.__new__(QueryMix)
    mix.queries = ("qx",)
    mix.sf_dir = str(tmp_path)
    mix.registry = {"qx": SimpleNamespace(oracle="SELECT 1 AS a UNION ALL SELECT 2 AS a")}
    mix._results = {"qx": (["a"], got_rows)}
    ops = [Op(0, "qx", False), Op(1, "qx", True), Op(2, "qy", True)]
    mix.loop = SimpleNamespace(timed=lambda: [o for o in ops if o.timed])
    return mix, ops


def test_wrong_fingerprint_fails_the_query_ops(tmp_path):
    mix, ops = _mix_with_result(tmp_path, [(1,), (3,)])
    problems = mix.check()
    assert len(problems) == 1 and problems[0].startswith("qx")
    assert [o.failed for o in ops] == [False, True, False]


def test_matching_fingerprint_passes(tmp_path):
    mix, ops = _mix_with_result(tmp_path, [(2,), (1,)])  # row order does not matter
    assert mix.check() == []
    assert not any(o.failed for o in ops)


def test_failed_warmup_result_fails_the_check(tmp_path):
    mix, ops = _mix_with_result(tmp_path, [])
    mix._results["qx"] = "RuntimeError: boom"
    assert mix.check()
    assert ops[1].failed


# ---------------------------------------------------------------------------
# inputs and the declared metrics
# ---------------------------------------------------------------------------
def test_document_stream_is_seeded_and_redelivers():
    from datagen import DocumentStream

    a, b = DocumentStream(5), DocumentStream(5)
    first = [a.next_batch() for _ in range(3)]
    assert all(x.equals(b.next_batch()) for x in first)
    assert first[0].num_rows == 50 and first[1].num_rows == 55
    fresh_ids = set(first[0].column("doc_id").to_pylist())
    redelivered = first[1].column("doc_id").to_pylist()[50:]
    assert set(redelivered) <= fresh_ids
    assert a.delivered().num_rows == 150
    assert not DocumentStream(6).next_batch().equals(first[0])


def test_job_count_drift_compares_timed_ops_only():
    import run
    from workloads import Op

    ops = [Op(0, "q", False, jobs=9), Op(1, "q", True, jobs=6), Op(2, "q", True, jobs=6),
           Op(3, "q", True, jobs=7)]
    assert run._drift(ops) == [{"op": 3, "kind": "q", "jobs": 7, "previous": 6}]


def test_benchmark_json_declares_what_the_runner_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer()
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_layer_metrics_cover_the_declared_list_without_spark():
    import run
    from hostinfo import TreeCpu
    from spans import Tracer
    from workloads import SCAN_HEAVY, Op

    tr = Tracer()
    ops = []
    for i, q in enumerate(SCAN_HEAVY):
        with tr.op_span(i, q):
            with tr.span("queries.build"):
                with tr.span("catalog.load_table"):
                    pass
            with tr.span("queries.action"):
                pass
        ops.append(Op(i, q, True, wall_s=1.0 + i, cpu=TreeCpu(0.1, 2.0, 0.0), jobs=4,
                      detail={"build_jobs": 1}))
        tr.counters[i]["spark.executor_run_s"] = 1.0
        tr.counters[i]["spark.gc_s"] = 0.1
    tr.add("session.get_spark.s", 9.0)
    loop = SimpleNamespace(timed=lambda: ops, ops=ops)
    host = {"steal_pct": 3.0, "loadavg_end": [1.5, 1.0, 1.0]}
    m = run._layer_metrics(loop, tr, host)
    assert set(m) == set(run._per_layer())
    assert m["spark.gc_s"] == pytest.approx(0.1)
    assert m["queries.action_jobs"] == 3
    assert [m[f"queries.{q}.s_p50"] for q in SCAN_HEAVY] == [1.0 + i for i in range(len(SCAN_HEAVY))]
    assert m["cpu.jvm_s"] == pytest.approx(2.0)
    assert m["catalog.load_table.calls"] == 1
    assert m["jobs.curate_batch.s"] == 0.0
