"""Reference-parity segmentation queries over the driver corpus.

The corpus `events` table maps onto the reference event log per FIXTURES.md
§2: event_type='click' is BUTTON_CLICK, event_id is the message_id dedup
key, ts is event time. Threshold 13 ≈ the median clicks/user at every SF,
so membership actually discriminates (~half the users in, half out).

Each query is the serve-path result of one reference variant
(/root/reference/src/{1,2,3,4}-*.test.ts); the oracle recomputes the same
answer directly in SQL. For the stateful variants the cascade runs for real
(two micro-batches split at the median ts, persisted state tables in a
scratch dir) and the oracle checks the *final* membership — valid because
the merged sketch state is exact at per-user cardinalities (< sparse-mode
promotion) and membership is a boolean threshold.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..segmentation import (
    EventTimeSegmenter,
    MicroBatchSegmenter,
    SegmentSpec,
    idempotent_assignments,
    naive_assignments,
    serve_segment,
)
from ..schemas import EVENTS
from ..segmentation.spec import CORPUS_EVENTS
from ..sources.catalog import load_table, read_parquet
from ..sources.writers import PARTITION_COL, append_clustered, apply_retention
from .registry import QuerySpec

SPEC = SegmentSpec(name="heavy_clickers", event_name="click", threshold=13)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def segment_naive_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 1 (1-naive.test.ts:72-95): exact count >= threshold, full
    recompute, latest-wins serve."""
    assignments = naive_assignments(_events(spark, sf_dir), SPEC, CORPUS_EVENTS)
    return serve_segment(assignments)


def segment_naive_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 1 assignment-write path: (user_id, value) for every user."""
    return naive_assignments(_events(spark, sf_dir), SPEC, CORPUS_EVENTS).select(
        "user_id", "value"
    )


def segment_idempotent_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 2 (2-idempotent.test.ts:84-107): distinct message_id count."""
    assignments = idempotent_assignments(_events(spark, sf_dir), SPEC, CORPUS_EVENTS)
    return serve_segment(assignments)


def _median_ts(events: DataFrame) -> dt.datetime:
    """~Median event time, used only to SPLIT the cascade harness into
    two batches — a boundary choice, not a result value, so the
    sketch-based percentile_approx (map-side partial agg, no global
    sort) replaces exact F.percentile (r14 verdict item 5: that was
    the one exact global sort left in the harness; any split point
    between the first and last event yields the same final cascade —
    asserted in test_segmentation)."""
    row = events.select(
        F.percentile_approx(
            F.unix_timestamp("ts"), F.lit(0.5), F.lit(10000)
        ).alias("m")
    ).collect()[0]
    # utcfromtimestamp is deprecated (3.12+); session tz is pinned UTC
    return dt.datetime.fromtimestamp(row.m, dt.timezone.utc).replace(tzinfo=None)


_SCRATCH: dict[str, str] = {}


def _scratch_dir(name: str) -> str:
    """One reusable scratch dir per query name per process, wiped at each
    invocation — repeated bench/oracle runs must not accumulate unbounded
    /tmp state (the result DataFrame is consumed lazily, so cleanup-after
    is impossible; cleanup-before is)."""
    import shutil

    path = _SCRATCH.get(name)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"q_{name}_")
        _SCRATCH[name] = path
    else:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
    return path


def segment_microbatch_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 3 (3-microBatch.test.ts:116-171): two incremental batches over
    persisted HLL state, changelog-driven finalization, latest-wins serve."""
    events = _events(spark, sf_dir)
    mid = _median_ts(events)
    t0 = dt.datetime(2000, 1, 1)
    seg = MicroBatchSegmenter(
        spark, _scratch_dir("microbatch"), SPEC, CORPUS_EVENTS
    )
    seg.process_batch(events.filter(F.col("ts") < F.lit(mid)), lower_bound=t0, now=t0)
    seg.process_batch(events.filter(F.col("ts") >= F.lit(mid)), lower_bound=mid, now=mid)
    return seg.members()


def segment_bucketed_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 3 over BUCKETED catalog tables — the zero-Exchange storage
    layout (sources/bucketed.py, the Spark analog of the reference's
    ORDER BY clustering, 3-microBatch.test.ts:21): states and assignments
    are bucketed on user_id at write time, so the finalize merge and the
    latest-wins serve read co-located sorted buckets with no shuffle
    (plan-asserted in tests/test_plans.py / test_segmentation.py). Same
    two-batch cascade and the same final membership as
    segment_microbatch_members, hence the shared oracle; the catalog
    tables live in a scratch-located database so repeated runs are
    idempotent and nothing touches the session warehouse."""
    from ..segmentation import BucketedMicroBatchSegmenter
    from ..sources.database import SegmentDatabase

    events = _events(spark, sf_dir)
    mid = _median_ts(events)
    t0 = dt.datetime(2000, 1, 1)
    workdir = _scratch_dir("bucketed_members")
    db = SegmentDatabase(spark, "drvq_bucketed").create(
        location=os.path.join(workdir, "db")
    )
    seg = BucketedMicroBatchSegmenter(
        spark, workdir, SPEC, CORPUS_EVENTS,
        namespace="heavy", buckets=8, database=db.name,
    )
    seg.drop_tables()  # catalog metadata survives _scratch_dir's file wipe
    seg.process_batch(events.filter(F.col("ts") < F.lit(mid)), lower_bound=t0, now=t0)
    seg.process_batch(events.filter(F.col("ts") >= F.lit(mid)), lower_bound=mid, now=mid)
    return seg.members()


def segment_eventtime_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 4 (4-eventTime.test.ts:129-193): adds maxMerge(last_event_time),
    served as unix seconds."""
    events = _events(spark, sf_dir)
    mid = _median_ts(events)
    t0 = dt.datetime(2000, 1, 1)
    seg = EventTimeSegmenter(
        spark, _scratch_dir("eventtime"), SPEC, CORPUS_EVENTS
    )
    seg.process_batch(events.filter(F.col("ts") < F.lit(mid)), lower_bound=t0, now=t0)
    seg.process_batch(events.filter(F.col("ts") >= F.lit(mid)), lower_bound=mid, now=mid)
    return seg.members_with_last_event_time().select("user_id", "last_event_time")


def segment_eventtime_members_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 4 run as an ACTUAL Structured Streaming job — the
    reference's incremental event-time cascade (4-eventTime.test.ts:129-193)
    with Spark-managed offsets playing the processing-time cursor.

    Two checkpointed ``availableNow`` runs over a file source split at the
    median ts replay the reference's "run the micro-batch job for the new
    window" loop; each foreachBatch appends mergeable HLL partial state
    (uniqState/maxState), finalizes only the batch's changed users, and
    appends latest-wins assignment versions
    (streaming/hll_cascade.py). The state table is interchangeable with
    the batch EventTimeSegmenter's, and the final membership is
    deterministic (merged sketches are exact at per-user cardinalities,
    order-independent merge), so this query SHARES the batch cascade's
    oracle — the driver now value-checks the streaming path too."""
    from ..streaming.hll_cascade import HllCascadeStreamingSegmenter

    events = _events(spark, sf_dir)
    mid = _median_ts(events)
    seg = HllCascadeStreamingSegmenter(
        spark,
        _scratch_dir("eventtime_streaming"),
        SPEC,
        CORPUS_EVENTS,
        schema=events.schema,
        compact_every=2,
    )
    events.filter(F.col("ts") < F.lit(mid)).write.mode("append").parquet(
        seg.events_dir
    )
    seg.run_available_now()
    events.filter(F.col("ts") >= F.lit(mid)).write.mode("append").parquet(
        seg.events_dir
    )
    seg.run_available_now()
    return seg.members_with_last_event_time().select("user_id", "last_event_time")


def segment_members_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant 1 through the SQL-text entry point with NAMED PARAMETERS —
    the reference's parameterized-query surface ({threshold:...} +
    query_params, 3-microBatch.test.ts:122-132 / SURVEY F14). Identical
    plan to the DataFrame form: Catalyst parses/optimizes both into the
    same filter + hash aggregate."""
    _events(spark, sf_dir).createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT user_id
        FROM events_v
        WHERE event_type = :event_type
        GROUP BY user_id
        HAVING count(*) >= :threshold
        """,
        args={"event_type": SPEC.event_name, "threshold": SPEC.threshold},
    )


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argMax serving primitive (F6, 1-naive.test.ts:85) on raw events:
    each user's most recent event type and value."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.max_by("event_type", "ts").alias("last_event_type"),
            F.max_by("value", "ts").alias("last_value"),
        )
    )


def retention_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (TTL ... + interval N day, 3-microBatch.test.ts:38) as a
    registered deterministic query: write the events day-partitioned,
    drop partitions older than 10 days against a FIXED fake clock
    (2024-01-31, just past the corpus range at every SF), then count the
    surviving rows per day. The retention job is a partition drop —
    O(partitions), no data rewrite — so the oracle is simply the same
    count with the cutoff as a WHERE clause."""
    events = _events(spark, sf_dir)
    path = os.path.join(_scratch_dir("retention"), "events_ttl")
    append_clustered(events, path, cluster_by=["user_id"], partition_ts="ts")
    dropped = apply_retention(
        path, keep_days=10, now=dt.datetime(2024, 1, 31, tzinfo=dt.timezone.utc)
    )
    if dropped <= 0:
        # not assert: the guard must survive `python -O`, or a mis-set clock
        # would let the query trivially match its oracle without exercising
        # the retention drop
        raise RuntimeError("fixed clock must actually expire partitions")
    return (
        read_parquet(spark, path)
        .groupBy(F.col(PARTITION_COL).cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_RETENTION_ORACLE = """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS day, count(*) AS n_events
FROM events
GROUP BY day
HAVING day >= '20240121'
"""


def jsoneachrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (INSERT ... FORMAT JSONEachRow, 1-naive.test.ts:49-69) as a
    registered query: serialize every event row to an NDJSON line and
    parse it back through the DECLARED schema (FAILFAST — a malformed row
    fails the query rather than nulling out silently). The oracle reads
    the original table, so a green row proves the round-trip is lossless.
    Timestamps compare at second precision per the registry rule (to_json
    emits millisecond precision)."""
    events = _events(spark, sf_dir)
    json_lines = events.select(
        F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias("json")
    )
    parsed = json_lines.select(
        F.from_json("json", EVENTS, {"mode": "FAILFAST"}).alias("row")
    ).select("row.*")
    return parsed.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_sec"),
        "value",
        "props",
    )


_JSONEACHROW_ORACLE = """
SELECT event_id, user_id, event_type,
       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec,
       value, props
FROM events
"""


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interchange: write the events table to ORC (Spark's
    built-in second columnar format; ClickHouse ingests/emits ORC through
    the same format-pluggable INSERT surface as S9) and read it back with
    the declared schema. ORC stores timestamps at nanosecond precision,
    so unlike the parquet source path no nanos workaround is needed; the
    round-trip is lossless and compares at second precision per the
    registry rule. A real write+read through the format, not a parser
    identity — stripe statistics ride along for predicate pushdown the
    same way parquet row-group stats back the minmax skip index (S7)."""
    events = _events(spark, sf_dir)
    path = os.path.join(_scratch_dir("orc_roundtrip"), "events_orc")
    events.write.mode("overwrite").orc(path)
    back = spark.read.schema(EVENTS).orc(path)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_sec"),
        "value",
        "props",
    )


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9's CSV-format sibling (the reference's INSERT path is
    format-pluggable; sources/csv_ingest.py): serialize every event row
    to one CSV line and parse it back through the DECLARED schema
    (FAILFAST). The quoted-field path is load-bearing — events.props is a
    JSON string with commas/quotes, so a green row proves RFC-4180
    quoting survives the round-trip byte-for-byte. Doubles re-parse
    exactly (shortest-round-trip formatting); timestamps compare at
    second precision per the registry rule. Shares the JSONEachRow
    oracle (both read back the original table)."""
    from ..sources.csv_ingest import csv_line, parse_csv_lines

    events = _events(spark, sf_dir)
    parsed = parse_csv_lines(csv_line(events), EVENTS)
    return parsed.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_sec"),
        "value",
        "props",
    )


_MEMBER_ORACLE = """
SELECT user_id
FROM events
WHERE event_type = 'click'
GROUP BY user_id
HAVING count(*) >= 13
"""

_DISTINCT_MEMBER_ORACLE = """
SELECT user_id
FROM events
WHERE event_type = 'click'
GROUP BY user_id
HAVING count(DISTINCT event_id) >= 13
"""

QUERIES = [
    QuerySpec("segment_naive_members", segment_naive_members, _MEMBER_ORACLE, headline=True),
    QuerySpec(
        "segment_naive_assignments",
        segment_naive_assignments,
        """
        SELECT user_id, count(*) >= 13 AS value
        FROM events WHERE event_type = 'click' GROUP BY user_id
        """,
    ),
    QuerySpec(
        "segment_idempotent_members",
        segment_idempotent_members,
        _DISTINCT_MEMBER_ORACLE,
        headline=True,
    ),
    QuerySpec(
        "segment_bucketed_members",
        segment_bucketed_members,
        _DISTINCT_MEMBER_ORACLE,
    ),
    QuerySpec(
        "segment_microbatch_members",
        segment_microbatch_members,
        _DISTINCT_MEMBER_ORACLE,
        headline=True,
    ),
    QuerySpec(
        "segment_eventtime_members",
        segment_eventtime_members,
        """
        SELECT user_id,
               CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS last_event_time
        FROM events
        WHERE event_type = 'click'
        GROUP BY user_id
        HAVING count(DISTINCT event_id) >= 13
        """,
        headline=True,
    ),
    QuerySpec(
        "segment_eventtime_members_streaming",
        segment_eventtime_members_streaming,
        """
        SELECT user_id,
               CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS last_event_time
        FROM events
        WHERE event_type = 'click'
        GROUP BY user_id
        HAVING count(DISTINCT event_id) >= 13
        """,
    ),
    QuerySpec("segment_members_sql", segment_members_sql, _MEMBER_ORACLE),
    QuerySpec("retention_event_counts", retention_event_counts, _RETENTION_ORACLE),
    QuerySpec("jsoneachrow_roundtrip", jsoneachrow_roundtrip, _JSONEACHROW_ORACLE),
    QuerySpec("csv_roundtrip", csv_roundtrip, _JSONEACHROW_ORACLE),
    QuerySpec("orc_roundtrip", orc_roundtrip, _JSONEACHROW_ORACLE),
    QuerySpec(
        "latest_event_per_user",
        latest_event_per_user,
        """
        SELECT user_id,
               arg_max(event_type, ts) AS last_event_type,
               arg_max(value, ts) AS last_value
        FROM events GROUP BY user_id
        """,
    ),
]
