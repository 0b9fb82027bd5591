"""Run one benchmark workload against the engine and print its metrics.

    python3 layerbench/run.py --workload sensor_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Everything the run writes goes under
``.layerbench_work/`` there: the seeded inputs and the warehouse (removed
at exit) and the run report (kept, in ``reports/``).  The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  See README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".layerbench_work")

#: the end-to-end metrics BENCHMARK.json declares (and gates).  Both are
#: CPU readings of the process tree, which stay steady under the hypervisor
#: steal of a shared host where wall times do not: ``setup_s`` is the CPU
#: spent from just before the session starts to the first timed op (session
#: start and warm-up; the benchmark's own input generation is left out), and
#: ``cpu_s_per_result`` the CPU of the timed ops per result.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_result": "s",
}
#: measured and printed on every run, but not declared: wall time follows
#: CPU steal (0-30% on a shared 4-core host) so closely that its
#: run-to-run spread is wider than any bound a gate could use; and a
#: median over a mix of unlike queries jumps between queries
UNGATED = {
    "setup_wall_s": "s",
    "op_s_p50": "s",
    "op_cpu_s_p50": "s",
    "results_per_s": "1/s",
}


#: layer calls timed by a span; per-layer metrics give their count and
#: seconds per op
SPANNED = ("catalog.load_table", "catalog.table_rows", "catalog.spread",
           "storage.read", "storage.merge_upsert", "storage.merge_update")


def _per_layer() -> dict[str, str]:
    """The per-layer metrics and their units.  Per-op values are medians
    over the timed ops; a layer that a workload never calls reads 0 there."""
    from spans import JOB_STAGES
    from workloads import SCAN_HEAVY

    m = {"session.get_spark.s": "s"}
    m.update({f"spark.{k}": "count" for k in ("jobs", "stages", "tasks")})
    m.update({f"spark.{k}": "s" for k in ("executor_run_s", "executor_cpu_s", "gc_s")})
    m.update({"spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes"})
    m.update({f"cpu.{k}_s": "s" for k in ("jvm", "pyworkers", "runner")})
    m["jvm.jit_s"] = "s"
    m.update({"queries.build_s": "s", "queries.build_jobs": "count",
              "queries.action_s": "s", "queries.action_jobs": "count"})
    m.update({f"queries.{q}.s_p50": "s" for q in SCAN_HEAVY})
    for name in SPANNED:
        m.update({f"{name}.calls": "count", f"{name}.s": "s"})
    for st in JOB_STAGES:
        m.update({f"jobs.{st}.s": "s", f"jobs.{st}.spark_jobs": "count",
                  f"jobs.{st}.processed": "count"})
    m.update({"jobs.prefetch.spark_jobs": "count", "jobs.run_until_drained.rounds": "count"})
    m.update({"storage.read.memo_hit_ratio": "ratio", "storage.files": "count",
              "storage.bytes_per_user_byte": "ratio"})
    m.update({"streaming.merge_stream.s": "s", "streaming.batches": "count",
              "streaming.batch_s": "s"})
    m.update({"host.steal_pct": "%", "host.loadavg": "load",
              "trace.bookkeeping_pct": "%", "trace.unaccounted_pct": "%"})
    return m


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _prepare_env(run_dir: str) -> None:
    """The Python workers import ``briefly_spark`` from any cwd only if the
    checkout is on their PYTHONPATH, which they inherit from this process;
    temp files of Python and the JVM stay inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # PerfDisableSharedMem keeps the JVM's perf counters out of /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem" pyspark-shell'
    )
    sys.path.insert(0, ROOT)


def _descendants() -> dict[int, str]:
    from hostinfo import _read_all

    procs = _read_all()
    kids: dict[int, list[int]] = {}
    for st in procs.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    out, stack = {}, [os.getpid()]
    while stack:
        for k in kids.get(stack.pop(), ()):
            out[k] = procs[k].comm
            stack.append(k)
    return out


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def _stop(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the run
    started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    procs = _descendants()
    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and not all(_gone(p) for p in procs):
        time.sleep(0.1)
    for pid in procs:
        if not _gone(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _host_context(spark, ticks0, load0) -> dict:
    import pyspark

    from bench import cpu_ticks, steal_pct

    steal = steal_pct(ticks0, cpu_ticks())
    return {
        "steal_pct": 0.0 if steal is None else steal,
        "loadavg_start": list(load0),
        "loadavg_end": list(os.getloadavg()),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def _drift(ops) -> list[dict]:
    """Timed ops whose job count differs from the previous timed op of the
    same kind: a plan whose action count changes between passes (AQE), or
    a warm-up too short for the counts to settle."""
    prev: dict[str, int] = {}
    flagged = []
    for op in ops:
        if not op.timed:
            continue
        if op.kind in prev and prev[op.kind] != op.jobs:
            flagged.append({"op": op.i, "kind": op.kind, "jobs": op.jobs, "previous": prev[op.kind]})
        prev[op.kind] = op.jobs
    return flagged


def _layer_metrics(loop, tracer, host) -> dict[str, float]:
    from spans import JOB_STAGES
    from workloads import SCAN_HEAVY

    timed = loop.timed()
    c = tracer.counters

    def per_op(key):
        return _median(c[o.i].get(key, 0.0) for o in timed)

    m: dict[str, float] = {"session.get_spark.s": c[-1].get("session.get_spark.s", 0.0)}
    m["spark.jobs"] = _median(o.jobs for o in timed)
    m["spark.stages"] = _median(o.stages for o in timed)
    for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
              "spill_bytes"):
        m[f"spark.{k}"] = per_op(f"spark.{k}")
    for part in ("jvm", "pyworkers", "runner"):
        m[f"cpu.{part}_s"] = _median(getattr(o.cpu, f"{part}_s") for o in timed)
    m["jvm.jit_s"] = per_op("jvm.jit_s")
    m["queries.build_s"] = per_op("queries.build.s")
    m["queries.action_s"] = per_op("queries.action.s")
    queries = [o for o in timed if "build_jobs" in o.detail]
    m["queries.build_jobs"] = _median(o.detail["build_jobs"] for o in queries)
    m["queries.action_jobs"] = _median(o.jobs - o.detail["build_jobs"] for o in queries)
    for q in SCAN_HEAVY:
        m[f"queries.{q}.s_p50"] = _median(o.wall_s for o in timed if o.kind == q)
    for name in SPANNED:
        m[f"{name}.calls"] = per_op(f"{name}.calls")
        m[f"{name}.s"] = per_op(f"{name}.s")
    reads = sum(c[o.i].get("storage.read.calls", 0.0) for o in timed)
    hits = sum(c[o.i].get("storage.read.memo_hits", 0.0) for o in timed)
    m["storage.read.memo_hit_ratio"] = hits / reads if reads else 0.0
    for st in JOB_STAGES:
        m[f"jobs.{st}.s"] = per_op(f"jobs.{st}.s")
        m[f"jobs.{st}.spark_jobs"] = per_op(f"jobs.{st}.spark_jobs")
        m[f"jobs.{st}.processed"] = per_op(f"jobs.{st}.processed")
    m["jobs.prefetch.spark_jobs"] = per_op("jobs.prefetch.spark_jobs")
    m["jobs.run_until_drained.rounds"] = per_op("jobs.run_until_drained.rounds")
    last = c[timed[-1].i]
    m["storage.files"] = last.get("storage.files", 0.0)
    m["storage.bytes_per_user_byte"] = last.get("storage.bytes_per_user_byte", 0.0)
    m["streaming.merge_stream.s"] = per_op("streaming.merge_stream.s")
    m["streaming.batches"] = per_op("streaming.batches")
    m["streaming.batch_s"] = per_op("streaming.batch_s")
    m["host.steal_pct"] = host["steal_pct"]
    m["host.loadavg"] = host["loadavg_end"][0]
    all_wall = sum(o.wall_s for o in loop.ops)
    m["trace.bookkeeping_pct"] = 100.0 * tracer.bookkeeping_s / all_wall
    unaccounted = _unaccounted_pct(tracer)
    m["trace.unaccounted_pct"] = _median(unaccounted[o.i] for o in timed if o.i in unaccounted)
    return m


def _unaccounted_pct(tracer) -> dict[int, float]:
    """Per op: the share of its wall time that no layer span covers (the
    self time of the op's root span)."""
    from spans import self_times

    selfs = self_times(tracer.spans)
    return {
        s.op: 100.0 * selfs[s.id] / (s.end - s.start)
        for s in tracer.spans
        if s.name.startswith("op.") and s.end > s.start
    }


def _self_time_table(tracer, loop) -> dict[str, dict[str, float]]:
    """Per span name over the timed ops: calls, total and self seconds."""
    from spans import self_times

    timed = {o.i for o in loop.timed()}
    selfs = self_times(tracer.spans)
    table: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        if s.op in timed:
            row = table.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += selfs[s.id]
    return table


def run(args) -> tuple[dict, int]:
    import hostinfo
    import workloads

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    os.makedirs(run_dir)
    spark = None
    try:
        _prepare_env(run_dir)
        t0 = time.perf_counter()
        wl = workloads.make(args.workload, args.seed, run_dir)
        phases = {"inputs_s": time.perf_counter() - t0}

        # set-up starts here, after the benchmark's own input generation
        cpu_setup0, t_setup0 = hostinfo.read_tree_cpu(), time.perf_counter()
        from bench import cpu_ticks
        from briefly_spark.session import get_spark

        ticks0, load0 = cpu_ticks(), os.getloadavg()
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
        t0 = time.perf_counter()
        spark = get_spark("layerbench")
        session_s = time.perf_counter() - t0
        loop = workloads.Loop(spark, tracer)
        wl.start(spark, loop)
        after = None
        if tracer is not None:
            tracer.add("session.get_spark.s", session_s)
            after = _traced_after(spark, tracer, wl)

        for _ in range(wl.warmup_ops):
            wl.op(False, after)
        loop.timed_loop(args.seconds, lambda: wl.op(True, after), wl.round_ops)
        t_timed_end = time.perf_counter()
        problems = wl.check()
        phases["check_s"] = time.perf_counter() - t_timed_end
        host = _host_context(spark, ticks0, load0)
        timed = loop.timed()
        timed_wall = sum(o.wall_s for o in timed)
        # at least one: a run whose every op failed still reports a cost
        n_results = max(1, sum(wl.results(o) for o in timed))
        e2e = {
            "setup_s": (loop.first_timed_cpu0 - cpu_setup0).total_s,
            "setup_wall_s": loop.first_timed_t0 - t_setup0,
            "op_s_p50": _median(o.wall_s for o in timed),
            "op_cpu_s_p50": _median(o.cpu.total_s for o in timed),
            "results_per_s": n_results / timed_wall,
            "cpu_s_per_result": sum(o.cpu.total_s for o in timed) / n_results,
        }
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "session_s": session_s, "phases": phases, "host": host,
            "warmup_ops": wl.warmup_ops, "problems": problems,
            "job_count_drift": _drift(loop.ops),
            "ops": [_op_row(o) for o in loop.ops],
            "end_to_end": e2e,
        }
        if tracer is not None:
            report["per_layer"] = _layer_metrics(loop, tracer, host)
            report["self_time"] = _self_time_table(tracer, loop)
            report["per_op_counters"] = {str(k): dict(v) for k, v in tracer.counters.items()}
            unaccounted = _unaccounted_pct(tracer)
            for row in report["ops"]:
                row["unaccounted_pct"] = unaccounted.get(row["op"], 0.0)
            base = _read_report(reports, args, trace=0)
            if base:
                report["overhead_vs_untraced_pct"] = {
                    k: 100.0 * (e2e[k] / base["end_to_end"][k] - 1.0)
                    for k in ("op_s_p50", "cpu_s_per_result")
                }
            with open(os.path.join(reports, _report_name(args) + ".spans.json"), "w") as fh:
                json.dump(tracer.dump(), fh)
        with open(os.path.join(reports, _report_name(args) + ".json"), "w") as fh:
            json.dump(report, fh, indent=1)
        return report, sum(o.failed for o in timed)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _traced_after(spark, tracer, wl):
    """Per-op readings taken after the op's clock stops: the streaming
    listener's events, the status store, per-group job counts and the
    warehouse footprint."""
    from spans import StreamProgress, instrument, stage_metrics
    from workloads import Loop, SensorCycle

    instrument(tracer, spark)
    compilation = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    tracer.jit_clock = lambda: compilation.getTotalCompilationTime() / 1e3
    progress = StreamProgress(tracer)
    spark.streams.addListener(progress.listener)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def after(op):
        progress.settle()
        tracer.op = op.i
        job_ids = Loop.job_ids(op)
        for k, v in stage_metrics(sc, job_ids).items():
            if k != "stages":
                tracer.add(f"spark.{k}", v)
        if isinstance(wl, SensorCycle):
            prefetch = set(tracker.getJobIdsForGroup(f"op{op.i}")) & set(job_ids)
            tracer.add("jobs.prefetch.spark_jobs", len(prefetch))
            for o, stage, first, end in tracer.stage_windows:
                if o == op.i:
                    tracer.add(f"jobs.{stage}.spark_jobs",
                               sum(j not in prefetch for j in range(first, end)))
            files, size = wl.storage_footprint()
            tracer.add("storage.files", files)
            tracer.add("storage.bytes_per_user_byte", size / wl.user_bytes)

    return after


def _op_row(op) -> dict:
    return {
        "op": op.i, "kind": op.kind, "timed": op.timed, "wall_s": op.wall_s,
        "cpu_s": op.cpu.total_s, "cpu_jvm_s": op.cpu.jvm_s,
        "cpu_pyworkers_s": op.cpu.pyworkers_s, "cpu_runner_s": op.cpu.runner_s,
        "jobs": op.jobs, "stages": op.stages, "failed": op.failed, "error": op.error,
        **op.detail,
    }


def _report_name(args, trace=None) -> str:
    t = args.trace if trace is None else trace
    return f"{args.workload}-seed{args.seed}-trace{t}"


def _read_report(reports: str, args, trace: int) -> dict | None:
    try:
        with open(os.path.join(reports, _report_name(args, trace) + ".json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _print_report(report: dict) -> None:
    print(f"workload {report['workload']} seed {report['seed']} trace {report['trace']}: "
          f"{sum(o['timed'] for o in report['ops'])} timed ops after "
          f"{report['warmup_ops']} warm-up ops; session start {report['session_s']:.2f} s")
    traced = "unaccounted_pct" in report["ops"][0]
    print(f"{'op':>3} {'kind':<30} {'timed':<5} {'wall_s':>8} {'cpu_s':>8} {'jobs':>5} {'stages':>6} "
          + ("unaccounted% " if traced else "") + "failed")
    for o in report["ops"]:
        print(f"{o['op']:>3} {o['kind']:<30} {str(o['timed']):<5} {o['wall_s']:>8.3f} "
              f"{o['cpu_s']:>8.2f} {o['jobs']:>5} {o['stages']:>6} "
              + (f"{o['unaccounted_pct']:>12.2f} " if traced else "") + str(o["failed"])
              + (f"  {o['error']}" if o["error"] else ""))
    drift = report["job_count_drift"]
    print("job count drift: " + (json.dumps(drift) if drift else "none"))
    print("output check: " + ("ok" if not report["problems"] else "; ".join(report["problems"])))
    print("host: " + json.dumps(report["host"]))
    n_timed = sum(o["timed"] for o in report["ops"])
    for name, value in report["end_to_end"].items():
        extra = f" (n={n_timed} ops)" if name in ("op_s_p50", "op_cpu_s_p50") else ""
        unit = END_TO_END.get(name) or UNGATED[name]
        gated = "" if name in END_TO_END else " [not gated]"
        print(f"{name} = {value:.4f} {unit}{extra}{gated}")
    rate = report["end_to_end"]["results_per_s"]
    alias = "docs_per_s" if report["workload"] == "sensor_cycle" else "queries_per_s"
    print(f"{alias} = {rate:.4f} 1/s (reported as results_per_s)")
    if "per_layer" in report:
        units = _per_layer()
        for name, value in report["per_layer"].items():
            print(f"{name} = {value:.6g} {units.get(name, 's')}")
        for name, row in sorted(report["self_time"].items()):
            print(f"span {name}: calls={row['calls']} total_s={row['total_s']:.3f} self_s={row['self_s']:.3f}")
        if "overhead_vs_untraced_pct" in report:
            print("tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{v:+.1f}% on {k}" for k, v in report["overhead_vs_untraced_pct"].items()))
        else:
            print("tracing overhead vs untraced: no untraced report of this seed yet "
                  "(run --trace 0 first); trace.bookkeeping_pct is the tracer's own cost")


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir (finally
    # blocks run on SystemExit, not on the default SIGTERM action)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("briefly_spark/__init__.py", "bench.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"layerbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2

    report, failed = run(args)
    _print_report(report)
    names = _per_layer() if args.trace else END_TO_END
    values = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({
        "correct": not report["problems"],
        "attempted": sum(o["timed"] for o in report["ops"]),
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
