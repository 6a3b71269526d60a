"""The benchmark's workloads.  Each is a closed loop driven by one client
thread: the next batch, serve call or query starts only after the previous
one returned.

- ``cascade_ingest``: each processing-time batch is appended to an
  append-only events table, then ``EventTimeSegmenter.process_batch`` runs
  with the batch's ``lower_bound`` cursor; ``compact_states`` runs every
  ``COMPACT_EVERY`` batches; latest-wins membership is served after every
  batch.  The first ``SETUP_BATCHES`` batches are set-up; a fixed number
  of batches after them is timed.
- ``query_mix``: a fixed number of whole passes over ``MIX`` through
  ``plans.all_queries()`` on a generated corpus.  The streaming twin of the
  cascade runs once untimed before set-up and, on traced runs, once more as
  an op of its own; it is in none of the mix's end-to-end figures.

Every served membership is checked against ``reference.segment_members``
over the batches delivered so far, every query result against its
registered DuckDB oracle; checks run outside the timed region.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb

from . import gen, reference
from .tracing import Tracer, catalyst_phases, spark_counts

COMPACT_EVERY = 3
# batches ingested untimed in set-up, before the timed ones; they pass the
# JVM's compile and JIT warm-up phase on the cascade that is then timed
SETUP_BATCHES = 4
# untimed passes over the mix before the timed ones, for the same reason
SETUP_PASSES = 2
# nominal seconds of one timed batch (ingest + serve) and of one pass over
# the mix on 4 cores: ``--seconds`` fixes the number of timed batches or
# passes through these, so every run times the same work however fast the
# program is
BATCH_S = 2.0
PASS_S = 4.0
THRESHOLD = 4
EVENT_TYPE = "click"
MIX_SF = 0.01
# six of bench.py's headline queries outside the segment_* family (those
# whose warm pass fits a run; jaccard/pii/dedup_paragraphs are three of the
# five text-family queries that regressed in BENCH_r18.json)
MIX = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "session_stats_per_user",
    "jaccard_near_dup_pairs",
    "pii_redacted_docs",
    "dedup_paragraphs_docs",
)
# the streaming twin of the event-time cascade: run once untimed before
# set-up and, on traced runs, once more as its own op; it is in none of the
# mix's end-to-end figures
STREAMING_TWIN = "segment_eventtime_members_streaming"
STATE_TABLES = ("events", "user_states", "updated_user_states", "segment_assignments")


def timed_count(seconds: float, nominal_s: float) -> int:
    """Number of timed ops a run of ``seconds`` makes: fixed by the
    arguments alone, never by how fast the ops go."""
    return max(1, round(seconds / nominal_s))


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond) of the highest of p99/p95/p90/p75
    that leaves at least ten samples beyond it; p75 when none does."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99, 95, 90, 75):
        beyond = n - -(-p * n // 100)  # n minus the nearest-rank position
        if beyond >= 10 or p == 75:
            return xs[max(0, n - beyond - 1)], p, beyond
    raise AssertionError("unreachable")


@dataclass
class Outcome:
    """What one run measured."""

    setup_s: float
    op_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    work: float = 0.0  # events ingested or queries completed
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(what)


class Probe:
    """Per-op tracing: on traced ops the layer wrappers are installed, a job
    group is set, and the ops' Spark jobs/stages/tasks are read afterwards.
    With ``trace`` on, every other op is traced; the untraced ones give the
    tracing overhead."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.tracer = Tracer()
        self.traced_ops: set[int] = set()
        self.counts: dict[str, list[dict[str, int]]] = {"op": [], "serve": [], "stream": []}
        self.catalyst: list[dict[str, float]] = []
        self.op_times: dict[int, float] = {}  # op id -> seconds, "op" kind only
        self._runs: list[str] = []
        self._group = ""
        self._runs_before = 0
        if trace:
            from pyspark.sql.streaming import StreamingQueryListener

            runs = self._runs

            class _Runs(StreamingQueryListener):
                # streaming jobs run in a job group named by the query run id
                def onQueryStarted(self, event):
                    runs.append(str(event.runId))

                def onQueryProgress(self, event):
                    pass

                def onQueryIdle(self, event):
                    pass

                def onQueryTerminated(self, event):
                    pass

            self._listener = _Runs()
            spark.streams.addListener(self._listener)

    def is_traced(self, op_id: int) -> bool:
        return self.trace and op_id % 2 == 0

    @staticmethod
    def group(kind: str, op_id: int) -> str:
        return f"perfbench-{kind}-{op_id}"

    def run(self, kind: str, op_id: int, fn):
        """Time ``fn()`` as one op; returns (seconds, result)."""
        traced = self.is_traced(op_id)
        if traced:
            group = self.group(kind, op_id)
            self.sc.setJobGroup(group, f"perfbench {kind} {op_id}")
            self._group, self._runs_before = group, len(self._runs)
            self.tracer.install()
            self.traced_ops.add(op_id)
            ctx = self.tracer.op(op_id, kind)
        else:
            ctx = contextlib.nullcontext()
        try:
            with ctx:
                t0 = time.perf_counter()
                result = fn()
                elapsed = time.perf_counter() - t0
        finally:
            if traced:
                self.tracer.uninstall()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        if traced:
            self.counts[kind].append(self.jobs_so_far())
        if kind == "op" and self.trace:
            self.op_times[op_id] = elapsed
        return elapsed, result

    def jobs_so_far(self) -> dict[str, int]:
        """Spark counts of the traced op in flight (or the last one): its job
        group plus the groups of streaming queries started since it began."""
        total = {"jobs": 0, "stages": 0, "tasks": 0}
        for g in [self._group] + self._runs[self._runs_before:]:
            for k, v in spark_counts(self.sc, g).items():
                total[k] += v
        return total

    def close(self) -> None:
        if self.trace:
            self.spark.streams.removeListener(self._listener)

    def overhead(self, same_kind) -> dict[str, float]:
        """Median untraced op, and traced minus untraced op time over pairs
        of ops that ``same_kind(a, b)`` says do the same work."""
        traced = [i for i in self.op_times if self.is_traced(i)]
        untraced = [i for i in self.op_times if not self.is_traced(i)]
        diffs = [
            self.op_times[t] - statistics.median(
                self.op_times[u] for u in untraced if same_kind(t, u)
            )
            for t in traced
            if any(same_kind(t, u) for u in untraced)
        ]
        if not (untraced and diffs):
            return {}
        return {
            "trace.op_p50_s": statistics.median(self.op_times[u] for u in untraced),
            "trace.overhead_s": statistics.median(diffs),
        }

    def span_metrics(self, ops: set[int], per: float = 1.0) -> dict[str, float]:
        """Span calls, busy and self seconds over ``ops``, divided by ``per``."""
        out: dict[str, float] = {}
        for name, t in self.tracer.totals(ops).items():
            out[f"{name}.calls"] = t["calls"] / per
            out[f"{name}.busy_s"] = t["busy_s"] / per
            out[f"{name}.self_s"] = t["self_s"] / per
        return out

    def layer_metrics(self, ops: set[int], ops_per_unit: int = 1) -> dict[str, float]:
        """Span totals over ``ops`` per unit of work (``ops_per_unit`` traced
        ops), Spark counts per op and Catalyst phases per returned DataFrame."""
        out = self.span_metrics(ops, max(1, len(ops)) / ops_per_unit)
        for kind, rows in self.counts.items():
            for c in ("jobs", "stages", "tasks"):
                if rows:
                    out[f"spark.{c}_per_{kind}"] = statistics.mean(r[c] for r in rows)
        for phase in ("analysis_s", "optimization_s", "planning_s"):
            if self.catalyst:
                out[f"catalyst.{phase}"] = statistics.mean(p[phase] for p in self.catalyst)
        out["trace.spans"] = len(self.tracer.spans)
        return out


# -- set-up helpers ------------------------------------------------------------


def stage_stream(seed: int, out_dir: str) -> tuple[list[str], list[dt.datetime]]:
    """Generate the seeded stream and stage one parquet file per batch."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    stream = gen.event_stream(seed)
    files = []
    for b, df in enumerate(stream.batches):
        path = os.path.join(out_dir, f"batch-{b:03d}.parquet")
        gen.write_parquet(df, path, gen.BATCH_SCHEMA)
        files.append(path)
    return files, stream.lower_bounds


def _spec_and_log():
    from clickhouse_segments_tutorial_spark.segmentation import SegmentSpec
    from clickhouse_segments_tutorial_spark.segmentation.spec import EventLog

    spec = SegmentSpec("heavy_clickers", EVENT_TYPE, threshold=THRESHOLD)
    log = EventLog(
        user="user_id", event="event_type", message="event_id",
        time="ts", processing_time="processing_time",
    )
    return spec, log


def _members(rows) -> set[tuple[int, int]]:
    return {(int(r["user_id"]), int(r["last_event_time"])) for r in rows}


def _data_files(workdir: str) -> dict[str, int]:
    """Path -> size of every parquet data file under ``workdir``."""
    out = {}
    for root, _, names in os.walk(workdir):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                out[path] = os.path.getsize(path)
    return out


def _history_stats(workdir: str) -> dict[str, float]:
    """State rows and assignment versions per user, and the share of
    re-finalized users whose latest value changed (a first version counts
    as changed only when it is true)."""
    out = {}
    with duckdb.connect() as con:
        for table, key in (
            ("user_states", "segmentation.state_rows_per_user"),
            ("segment_assignments", "segmentation.assignment_versions_per_user"),
        ):
            glob = os.path.join(workdir, table, "**", "*.parquet")
            out[key] = con.execute(
                f"SELECT count(*) / count(DISTINCT user_id) FROM read_parquet('{glob}')"
            ).fetchone()[0]
        glob = os.path.join(workdir, "segment_assignments", "**", "*.parquet")
        out["segmentation.refinalize_useful_ratio"] = con.execute(
            f"""
            SELECT avg(CASE WHEN value IS DISTINCT FROM
                                 coalesce(prev, false) THEN 1 ELSE 0 END)
            FROM (SELECT value, lag(value) OVER (PARTITION BY user_id
                                                 ORDER BY assigned_at) AS prev
                  FROM read_parquet('{glob}'))
            """
        ).fetchone()[0]
    return out


# -- cascade workloads ---------------------------------------------------------


class BatchCascade:
    """The event-time cascade driven batch by batch."""

    def __init__(self, spark, workdir: str):
        from clickhouse_segments_tutorial_spark.segmentation import EventTimeSegmenter

        self.spark = spark
        self.workdir = workdir
        self.seg = EventTimeSegmenter(spark, workdir, *_spec_and_log())
        self.events_path = os.path.join(workdir, "events")
        self.process_s: dict[int, float] = {}  # batch -> process_batch seconds

    def ingest(self, b: int, path: str, lower_bound: dt.datetime) -> None:
        from clickhouse_segments_tutorial_spark.sources.writers import append_clustered

        append_clustered(
            self.spark.read.parquet(path), self.events_path, cluster_by=["user_id"]
        )
        t0 = time.perf_counter()
        self.seg.process_batch(
            self.spark.read.parquet(self.events_path),
            lower_bound=lower_bound,
            now=lower_bound,
        )
        self.process_s[b] = time.perf_counter() - t0
        if (b + 1) % COMPACT_EVERY == 0:
            self.seg.compact_states()

    def serve(self):
        return self.seg.members_with_last_event_time()


def run_cascade(spark, work: str, seed: int, seconds: float, probe: Probe,
                *, plant_error: bool) -> Outcome:
    t0 = time.perf_counter()
    files, bounds = stage_stream(seed, os.path.join(work, "stream"))
    staging_s = time.perf_counter() - t0
    timed_batches = range(
        SETUP_BATCHES, min(len(files), SETUP_BATCHES + timed_count(seconds, BATCH_S))
    )
    cascade = BatchCascade(spark, os.path.join(work, "cascade"))
    # set-up: the first batches, each ingested and served, untimed
    t0 = time.perf_counter()
    for b in range(SETUP_BATCHES):
        cascade.ingest(b, files[b], bounds[b])
        cascade.serve().collect()
    out = Outcome(setup_s=time.perf_counter() - t0)
    out.layer["setup.staging_s"] = staging_s
    out.layer["setup.warmup_s"] = out.setup_s

    serve_build, serve_exec, written = [], [], []
    prev_files = _data_files(cascade.workdir) if probe.trace else {}
    for b in timed_batches:
        out.attempted += 1
        try:
            ingest_s, _ = probe.run("op", b, lambda: cascade.ingest(b, files[b], bounds[b]))
        except Exception as exc:  # a failed batch ends the loop: later state is undefined
            out.fail(f"batch {b}: {exc!r}")
            break
        out.op_s.append(ingest_s)
        out.work += _rows(files[b])
        if probe.trace:
            now_files = _data_files(cascade.workdir)
            if probe.is_traced(b):
                new = [s for p, s in now_files.items() if p not in prev_files]
                written.append((len(new), sum(new)))
            prev_files = now_files

        def serve():
            t0 = time.perf_counter()
            df = cascade.serve()
            build_s = time.perf_counter() - t0
            return df, [r.asDict() for r in df.collect()], build_s

        out.attempted += 1
        try:
            serve_s, (df, rows, build_s) = probe.run("serve", b, serve)
        except Exception as exc:
            out.fail(f"serve after batch {b}: {exc!r}")
            break
        out.read_s.append(serve_s)
        if probe.is_traced(b):
            serve_build.append(build_s)
            serve_exec.append(serve_s - build_s)
            probe.catalyst.append(catalyst_phases(df))
        got = _members(rows)
        if plant_error and b == timed_batches[0]:
            got ^= {(-1, 0)}
        want = reference.segment_members(files[: b + 1], EVENT_TYPE, THRESHOLD)
        problem = reference.diff_members(got, want)
        if problem:
            out.fail(f"membership after batch {b}: {problem}")

    if probe.trace and out.op_s:
        out.layer.update(probe.layer_metrics(probe.traced_ops))

        def compacts(b: int) -> bool:
            return (b + 1) % COMPACT_EVERY == 0

        out.layer.update(probe.overhead(lambda t, u: compacts(t) == compacts(u)))
        timed_process_s = [cascade.process_s[b] for b in timed_batches if b in cascade.process_s]
        _cascade_layers(out, cascade, timed_process_s, serve_build, serve_exec, written)
    return out


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _cascade_layers(out, cascade, process_s, serve_build, serve_exec, written) -> None:
    layer = out.layer
    files = _data_files(cascade.workdir)
    stored = 0
    for t in STATE_TABLES:
        sizes = [s for p, s in files.items() if p.startswith(os.path.join(cascade.workdir, t, ""))]
        layer[f"sources.table_files.{t}"] = len(sizes)
        stored += sum(sizes) if t != "events" else 0
    layer["sources.stored_bytes_per_event"] = stored / max(1.0, out.work)
    if written:
        layer["sources.files_written"] = statistics.mean(w[0] for w in written)
        layer["sources.bytes_written"] = statistics.mean(w[1] for w in written)
    if serve_build:
        layer["segmentation.members.build_s"] = statistics.median(serve_build)
        layer["segmentation.members.exec_s"] = statistics.median(serve_exec)
    layer["segmentation.serve_p50_s"] = statistics.median(out.read_s)
    layer["segmentation.serve_tail_s"] = tail(out.read_s)[0]
    # over the fixed range of timed batches: last quarter over first quarter
    q = max(1, len(process_s) // 4)
    layer["segmentation.process_batch.growth"] = statistics.median(
        process_s[-q:]
    ) / statistics.median(process_s[:q])
    layer["operators.accumulate_state.build_s"] = layer.get(
        "operators.accumulate_state.busy_s", 0.0
    )
    layer.update(_history_stats(cascade.workdir))


# -- query mix -----------------------------------------------------------------


def run_query_mix(spark, work: str, seed: int, seconds: float, probe: Probe,
                  *, plant_error: bool) -> Outcome:
    from clickhouse_segments_tutorial_spark.plans import all_queries

    specs = all_queries()
    missing = [q for q in MIX + (STREAMING_TWIN,) if q not in specs or specs[q].oracle is None]
    if missing:
        raise RuntimeError(f"mix queries missing or without an oracle: {missing}")
    t0 = time.perf_counter()
    corpus_dir = _write_corpus(seed, os.path.join(work, "corpus"))
    staging_s = time.perf_counter() - t0

    def cold_run(q: str) -> list[dict]:
        spark.catalog.clearCache()
        return [r.asDict() for r in specs[q].spark(spark, corpus_dir).collect()]

    # the streaming twin runs once cold, untimed; it goes first so that the
    # heap and JIT churn it leaves behind is gone before the timed passes
    twin_rows = cold_run(STREAMING_TWIN)
    # set-up: a pass compiles every query's code paths, and pass times still
    # fall through the next one; the last pass's results are checked after
    # the clock stops
    t0 = time.perf_counter()
    for _ in range(SETUP_PASSES):
        cold = {q: cold_run(q) for q in MIX}
    out = Outcome(setup_s=time.perf_counter() - t0)
    out.layer["setup.staging_s"] = staging_s
    out.layer["setup.warmup_s"] = out.setup_s
    cold[STREAMING_TWIN] = twin_rows

    oracle = reference.OracleCorpus(corpus_dir)
    per_query = {q: {"build_s": [], "exec_s": [], "jobs_in_build": []} for q in MIX + (STREAMING_TWIN,)}

    def check(q: str, rows) -> None:
        problem = oracle.diff(q, specs[q].oracle, rows)
        if problem:
            out.fail(f"{q}: {problem}")

    def run_one(kind: str, op_id: int, q: str):
        """One query as one op: (seconds, rows, build seconds), None if it raised."""
        spark.catalog.clearCache()
        out.attempted += 1
        traced = probe.is_traced(op_id)

        def query():
            t0 = time.perf_counter()
            df = specs[q].spark(spark, corpus_dir)
            build_s = time.perf_counter() - t0
            jobs = probe.jobs_so_far()["jobs"] if traced else 0
            return df, [r.asDict() for r in df.collect()], build_s, jobs

        try:
            lat, (df, rows, build_s, jobs_in_build) = probe.run(kind, op_id, query)
        except Exception as exc:
            out.fail(f"{q}: {exc!r}")
            return None
        if traced:
            per_query[q]["build_s"].append(build_s)
            per_query[q]["exec_s"].append(lat - build_s)
            per_query[q]["jobs_in_build"].append(jobs_in_build)
            if kind == "op":
                probe.catalyst.append(catalyst_phases(df))
        return lat, rows, build_s

    try:
        for q, rows in cold.items():
            out.attempted += 1
            check(q, rows)
        # one op is one query, one sample of op_p50_s is one whole pass; an
        # odd op-id stride per pass makes each query's runs alternate between
        # traced and untraced
        stride = len(MIX) | 1
        n_passes = timed_count(seconds, PASS_S)
        for p in range(n_passes):
            pass_s = read_s = 0.0
            for i, q in enumerate(MIX):
                op_id = p * stride + i
                res = run_one("op", op_id, q)
                if res is None:
                    continue
                lat, rows, build_s = res
                pass_s += lat
                read_s += lat - build_s
                out.work += 1
                if plant_error and op_id == 0:
                    rows = rows[1:]
                check(q, rows)
            out.op_s.append(pass_s)
            out.read_s.append(read_s)
        mix_ops = set(probe.traced_ops)
        twin_id = 2 * n_passes * stride  # even, so a traced run traces it
        if probe.trace:
            # the streaming twin: traced for its per-layer figures only
            res = run_one("stream", twin_id, STREAMING_TWIN)
            if res is not None:
                check(STREAMING_TWIN, res[1])
    finally:
        oracle.close()
    if probe.trace:
        out.layer.update(probe.layer_metrics(mix_ops, ops_per_unit=len(MIX)))
        out.layer.update(probe.overhead(lambda t, u: t % stride == u % stride))
        twin = probe.span_metrics({twin_id})
        out.layer.update({k: v for k, v in twin.items() if k.startswith("streaming.")})
        runs = twin.get("streaming.run_available_now.calls", 0.0)
        if runs:
            out.layer["streaming.batches_per_run"] = (
                twin.get("streaming.maintain.calls", 0.0) / runs
            )
        for q, m in per_query.items():
            for k, xs in m.items():
                if xs:
                    out.layer[f"plans.{q}.{k}"] = statistics.median(xs)
    return out


def _write_corpus(seed: int, out_dir: str) -> str:
    shutil.rmtree(out_dir, ignore_errors=True)
    gen.write_corpus(seed, MIX_SF, out_dir)
    return out_dir
