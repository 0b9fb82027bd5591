"""The workloads: closed loop, one client, one ``get_spark`` session.

Each workload prepares its seeded inputs, warms up with untimed ops,
then runs timed ops until ``seconds`` of timed wall have passed (at least
one op).  Every op runs under its own Spark job group so its jobs and
stages can be counted.  Output checks run after the last timed op, off
the clock and outside ``setup_s``.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from hostinfo import TreeCpu, read_tree_cpu

#: registered queries with the most Spark jobs per result at sf0.01
ACTION_HEAVY = ("q116_mmr_rerank", "q118_pq_ann", "q29_dedup_survivors", "q95_dup_graph_pagerank")
#: data-bound registered queries, run at sf0.1, one per session lever a
#: change that favours tiny jobs could move: scan + aggregate (codec,
#: shuffle partitions), star join with catalog probes (broadcast threshold,
#: probe memos) and a window over events (shuffle partitions).  q05, q12,
#: q13, q16, q17, q18 and q19 repeat these families; each query costs 2-6 s
#: of warm-up wall per run, which the benchmark's run budget cannot carry.
SCAN_HEAVY = (
    "q01_pricing_summary",
    "q03_revenue_by_nation",
    "q10_latest_events_per_user",
)
#: articles columns every drained article must have filled in
LIFECYCLE_COLUMNS = (
    "summary",
    "summary_status",
    "validation_score",
    "embedding_status",
    "related_ids",
    "related_ids_updated_at",
    "curated_content",
    "curated_status",
    "n_spans_trimmed",
    "male_audio_id",
    "female_audio_id",
)


@dataclass
class Op:
    i: int
    kind: str
    timed: bool
    wall_s: float = 0.0
    cpu: TreeCpu = TreeCpu(0.0, 0.0, 0.0)
    #: the op's Spark jobs are the ids ``first_job .. first_job + jobs - 1``
    first_job: int = 0
    jobs: int = 0
    stages: int = 0
    failed: bool = False
    error: str | None = None
    detail: dict = field(default_factory=dict)


class Loop:
    """Runs ops against one session and keeps their records.  With a
    tracer, each op also gets a root span and per-layer job groups."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.ops: list[Op] = []
        #: perf_counter and process-tree CPU at the first timed op's start
        self.first_timed_t0: float | None = None
        self.first_timed_cpu0: TreeCpu | None = None
        self._dag = self.sc._jsc.sc().dagScheduler()

    def group(self, op: Op) -> str:
        return f"op{op.i}"

    def next_job_id(self) -> int:
        """The id the next Spark job will get.  Jobs are numbered in
        submission order, so an op's jobs are the ids between two readings,
        whatever job group each ran under: a streaming query runs its
        micro-batches under a group of its own."""
        return self._dag.nextJobId()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def run(self, kind: str, timed: bool, call, prepare=None, after=None) -> Op:
        op = Op(len(self.ops), kind, timed)
        self.ops.append(op)
        if prepare is not None:
            prepare()
        self.sc.setJobGroup(self.group(op), kind)
        tr = self.tracer
        with tr.op_span(op.i, kind) if tr is not None else nullcontext():
            op.first_job = self.next_job_id()
            c0 = read_tree_cpu()
            t0 = time.perf_counter()
            if timed and self.first_timed_t0 is None:
                self.first_timed_t0, self.first_timed_cpu0 = t0, c0
            try:
                op.detail = call(op) or {}
            except Exception as e:  # noqa: BLE001 - a raised op is a failed op; the loop goes on
                op.failed, op.error = True, f"{type(e).__name__}: {e}"
            t1 = time.perf_counter()
            c1 = read_tree_cpu()
            op.jobs = self.next_job_id() - op.first_job
        op.wall_s, op.cpu = t1 - t0, c1 - c0
        self.sc.setJobGroup(f"idle{op.i}", "between ops")
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in self.job_ids(op):
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        op.stages = len(stage_ids)
        if after is not None:
            after(op)
        if tr is not None:
            tr.op = None
        return op

    @staticmethod
    def job_ids(op: Op) -> range:
        return range(op.first_job, op.first_job + op.jobs)

    def timed_loop(self, seconds: float, next_op, round_ops: int) -> None:
        """Run whole rounds of ``round_ops`` timed ops until ``seconds``
        have passed since the first one started.  Whole rounds keep the
        op mix of every run the same."""
        while True:
            for _ in range(round_ops):
                next_op()
            if time.perf_counter() - self.first_timed_t0 >= seconds:
                return

    def timed(self) -> list[Op]:
        return [o for o in self.ops if o.timed]


# ---------------------------------------------------------------------------
# sensor_cycle
# ---------------------------------------------------------------------------
class SensorCycle:
    """The hourly sensor sweep: a landing file of ~50 new documents (plus
    ~10% re-deliveries) closes, then one ``jobs.sensor_cycle`` call ingests
    it and drains curate -> summarize -> tts -> embed -> relate.  An op is
    timed from the file's close to the call's return."""

    name = "sensor_cycle"
    #: after one cycle the per-cycle job count stays at its steady value
    warmup_ops = 1
    round_ops = 1

    def __init__(self, seed: int, run_dir: str):
        from datagen import DocumentStream

        self.stream = DocumentStream(seed)
        self.run_dir = run_dir
        self.landing = os.path.join(run_dir, "landing")
        self.staging = os.path.join(run_dir, "staging")
        self.checkpoint = os.path.join(run_dir, "checkpoint")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.user_bytes = 0
        self._n_files = 0

    def start(self, spark, loop: Loop) -> None:
        from briefly_spark.storage import Warehouse

        self.spark, self.loop = spark, loop
        self.wh = Warehouse(spark, os.path.join(self.run_dir, "warehouse"))

    def _land_file(self) -> None:
        import pyarrow.parquet as pq

        from briefly_spark.jobs import MIN_CONTENT_CHARS

        batch = self.stream.next_batch()
        name = f"part-{self._n_files:05d}.parquet"
        self._n_files += 1
        staged = os.path.join(self.staging, name)
        pq.write_table(batch, staged)
        # a rename makes the file appear whole: the stream never sees it half-written
        os.rename(staged, os.path.join(self.landing, name))
        fresh = [t for t in batch.column("text")[: self.stream.BATCH_DOCS].to_pylist()
                 if len(t) >= MIN_CONTENT_CHARS]
        self.user_bytes += sum(len(t.encode()) for t in fresh)
        self._landed_docs = len(fresh)

    def _cycle(self, op: Op) -> dict:
        from briefly_spark import jobs

        results = jobs.sensor_cycle(
            self.wh, self.spark, self.landing, checkpoint=self.checkpoint, batch_size=200
        )
        processed: dict[str, int] = {}
        for r in results:
            processed[r.job] = processed.get(r.job, 0) + r.processed
        return {"docs": self._landed_docs, "processed": processed}

    def op(self, timed: bool, after=None) -> Op:
        return self.loop.run(self.name, timed, self._cycle, prepare=self._land_file, after=after)

    def results(self, op: Op) -> int:
        """New accepted documents the op's file carried; :meth:`check`
        verifies that every one of them ends fully enriched."""
        return 0 if op.failed else op.detail["docs"]

    def check(self) -> list[str]:
        """Problems with the warehouse after the last op (empty = correct)."""
        from pyspark.sql import functions as F

        from briefly_spark.jobs import MIN_CONTENT_CHARS

        delivered = self.stream.delivered()
        accepted = {
            f"https://ex/{d}"
            for d, t in zip(delivered.column("doc_id").to_pylist(), delivered.column("text").to_pylist())
            if len(t) >= MIN_CONTENT_CHARS
        }
        problems = []
        articles = self.wh.read("articles")
        urls = [r.url for r in articles.select("url").collect()]
        if len(urls) != len(set(urls)) or set(urls) != accepted:
            problems.append(
                f"articles hold {len(urls)} rows / {len(set(urls))} urls, "
                f"expected the {len(accepted)} distinct accepted docs"
            )
        null_any = F.lit(False)
        for c in LIFECYCLE_COLUMNS:
            null_any = null_any | F.col(c).isNull()
        n_null = articles.filter(null_any).count()
        if n_null:
            problems.append(f"{n_null} articles have a NULL lifecycle column")
        emb = {r.url for r in self.wh.read("embeddings").select("url").collect()}
        if emb != set(urls):
            problems.append(f"embeddings hold {len(emb)} urls, articles {len(set(urls))}")
        if problems:  # the state is cumulative: no op can be told correct
            for op in self.loop.timed():
                op.failed = True
        return problems

    def storage_footprint(self) -> tuple[int, int]:
        """(data files, bytes) under the warehouse root."""
        n = size = 0
        for dirpath, _dirs, files in os.walk(self.wh.root):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        return n, size


# ---------------------------------------------------------------------------
# query mixes
# ---------------------------------------------------------------------------
class QueryMix:
    """Round-robin over registered queries at one scale.  A timed op is
    ``fn(spark, sf_dir)`` (the build, with its eager actions) followed by a
    ``noop`` write (the action); ``clearCache`` runs off the clock.

    The warm-up is two passes over the mix at the timed scale and
    directory.  The catalog's memos are keyed on the table path: after one
    pass the per-query job counts stop changing.  The JIT takes one more:
    CPU per pass measured 38.6, 10.6, 6.9 and 6.2 s on a 4-core host, and
    with one warm pass the CPU per query of five seeds spread 0.53
    (quartile distance over median).  The first pass ends in ``collect``
    instead of the ``noop`` write, and :meth:`check` fingerprints those
    rows, so each query is run for the check without a pass of its own.

    A timed round is three passes: one query's CPU varies by a third from
    run to run on a shared host, and with one pass of three queries the CPU
    per result of ten seeds spread up to 0.25."""

    def __init__(self, name: str, queries: tuple[str, ...], sf: float, seed: int, run_dir: str):
        from datagen import star_schema, write_tables

        self.name, self.queries, self.sf = name, queries, sf
        self.sf_dir = os.path.join(run_dir, f"sf{sf:g}")
        write_tables(star_schema(seed, sf), self.sf_dir)
        self.round_ops = 3 * len(queries)
        self.warmup_ops = 2 * len(queries)
        self._next = 0
        self._results: dict[str, tuple[list[str], list[tuple]] | str] = {}

    def start(self, spark, loop: Loop) -> None:
        from briefly_spark.queries import load_registry

        self.spark, self.loop = spark, loop
        self.registry = load_registry()

    def _query(self, name: str, collect: bool):
        loop = self.loop

        def call(op: Op) -> dict:
            fn = self.registry[name].fn
            t0 = time.perf_counter()
            with loop.span("queries.build"):
                df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            build_jobs = loop.next_job_id() - op.first_job
            with loop.span("queries.action"):
                if collect:
                    self._results[name] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
            return {"build_s": t1 - t0, "action_s": time.perf_counter() - t1, "build_jobs": build_jobs}

        return call

    def op(self, timed: bool, after=None) -> Op:
        name = self.queries[self._next % len(self.queries)]
        collect = self._next < len(self.queries)
        self._next += 1

        def done(op: Op):
            self.spark.catalog.clearCache()
            if collect and op.failed:
                self._results[name] = op.error
            if after is not None:
                after(op)

        return self.loop.run(name, timed, self._query(name, collect), after=done)

    def results(self, op: Op) -> int:
        return 0 if op.failed else 1

    def check(self) -> list[str]:
        """Compare each query's warm-up result with its DuckDB oracle at the
        same scale; a mismatch fails every timed op of that query."""
        import duckdb

        from briefly_spark.catalog import TABLES, table_path
        from tools.check_oracle import table_fingerprint

        problems = []
        with duckdb.connect() as con:
            for t in TABLES:
                p = table_path(self.sf_dir, t)
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for name in self.queries:
                cur = con.execute(self.registry[name].oracle)
                want = table_fingerprint([d[0] for d in cur.description], cur.fetchall())
                got = self._results.get(name, "no warm-up result")
                if not isinstance(got, str):
                    got = table_fingerprint(*got)
                if got != want:
                    problems.append(f"{name}: spark {got} != oracle {want}")
                    for op in self.loop.timed():
                        if op.kind == name:
                            op.failed = True
        return problems


def make(name: str, seed: int, run_dir: str):
    if name == "sensor_cycle":
        return SensorCycle(seed, run_dir)
    if name == "scan_heavy_queries":
        return QueryMix(name, SCAN_HEAVY, 0.1, seed, run_dir)
    if name == "action_heavy_queries":
        return QueryMix(name, ACTION_HEAVY, 0.01, seed, run_dir)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("sensor_cycle", "action_heavy_queries", "scan_heavy_queries")
