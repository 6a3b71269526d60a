"""Structured Streaming twin of the micro-batch segmentation cascade.

The reference's variant 3/4 machinery maps 1:1 onto Structured Streaming
(SURVEY.md §2.4):

| reference                                   | here                             |
|---------------------------------------------|----------------------------------|
| processing-time lower_bound cursor          | source offsets + checkpoint      |
| AggregatingMergeTree uniqState/uniqMerge    | stateful groupBy aggregation     |
|   (persisted HLL partial state)             |   (state store, approx_count_distinct) |
| MV changelog of changed users per insert    | update-mode rows per micro-batch |
| ReplacingMergeTree + argMax serving         | foreachBatch append + max_by     |
| dedup-at-ingest state GC                    | dropDuplicatesWithinWatermark    |

Duplicate message_ids are neutralized exactly as the reference does it —
by counting *distinct* message ids (uniq ≈ approx_count_distinct) rather
than rows (/root/reference/src/2-idempotent.test.ts:87), so at-least-once
delivery needs no separate dedup operator in the stream.

Scale: the state store holds one HLL register set + one max per user —
the same O(users) footprint as the reference's state table. Note the
watermark does NOT evict this per-user aggregation state (a non-windowed
groupBy aggregates over all history by design, like the reference); it
only bounds the dropDuplicatesWithinWatermark dedup state and any
windowed aggregates. Each micro-batch shuffles only new events (partial
aggregates map-side), and the foreachBatch sink appends only updated
users — the changelog semantics, for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..segmentation.spec import EventLog, SegmentSpec
from ..operators.latest_wins import latest_value
from ..sources.catalog import read_parquet


class StreamingSegmenter:
    """File-source streaming cascade over a workdir.

    ``events_dir`` is the append-only ingest directory (parquet files appear
    over time, e.g. from an upstream writer); each ``run_available_now``
    drains whatever arrived since the checkpoint — exactly the reference's
    "run the micro-batch job for the new window" loop, with offsets managed
    by Spark instead of a hand-carried lower_bound.

    Watermark caveat: for the default non-windowed per-user aggregation
    Spark's watermark neither evicts per-user state nor drops late rows —
    state is O(users) and lives forever, and an arbitrarily late event
    still merges (which is the reference's variant-4 guarantee). The
    watermark only governs the ``drop_duplicates=True`` dedup-at-ingest
    state (``dropDuplicatesWithinWatermark``: a message_id re-delivered
    more than ``watermark`` behind the high-water mark can slip through
    dedup) and any windowed aggregates layered on the same source. For
    historical backfills through the dedup path, set ``watermark`` to at
    least the maximum event-time disorder in the replayed data.

    ``compact_every``: every N micro-batches the versioned assignments
    table is compacted to its latest row per user (the ReplacingMergeTree
    background merge — sources/writers.py:compact_latest_wins); without
    it the append-per-batch sink grows one file set per batch forever.
    Readers never depend on compaction having run (serving always
    resolves latest-wins), so any cadence is safe.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        spec: SegmentSpec,
        log: EventLog = EventLog(),
        *,
        schema,
        watermark: str = "10 minutes",
        drop_duplicates: bool = False,
        compact_every: int | None = None,
    ):
        self.spark = spark
        self.spec = spec
        self.log = log
        self.schema = schema
        self.watermark = watermark
        self.drop_duplicates = drop_duplicates
        if compact_every is not None and compact_every < 1:
            raise ValueError(f"compact_every must be >= 1, got {compact_every}")
        self.compact_every = compact_every
        self.events_dir = os.path.join(workdir, "events_in")
        self.checkpoint = os.path.join(workdir, "checkpoint")
        self.assignments_path = os.path.join(workdir, "segment_assignments")
        os.makedirs(self.events_dir, exist_ok=True)

    def _filtered(self) -> DataFrame:
        """Shared ingest head: file source -> segment filter -> watermark ->
        optional dedup-at-ingest. Both aggregation strategies build on this."""
        log = self.log
        events = (
            self.spark.readStream.schema(self.schema).parquet(self.events_dir)
        )
        filtered = events.filter(self.spec.event_filter(log)).withWatermark(
            log.time, self.watermark
        )
        if self.drop_duplicates:
            # T2's streaming-native idempotence: per-key dedup state evicted
            # once the watermark passes — a re-delivered message_id within
            # the watermark window is dropped at ingest, so the aggregate
            # can be a plain count. The default path instead neutralizes
            # duplicates the way the reference does, by counting distinct
            # ids (2-idempotent.test.ts:87).
            filtered = filtered.dropDuplicatesWithinWatermark([log.message])
        return filtered

    def _stream(self) -> DataFrame:
        log = self.log
        return (
            self._filtered().groupBy(F.col(log.user).alias("user_id"))
            .agg(
                (
                    F.count(F.lit(1))
                    if self.drop_duplicates
                    else F.approx_count_distinct(log.message)
                ).alias("n_distinct"),
                F.max(log.time).alias("last_event_time"),
            )
        )

    def _sink_select(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Projection of one update-mode batch into assignment versions.
        Subclasses whose stream already emits ``value`` override this."""
        return batch_df.select(
            "user_id",
            (F.col("n_distinct") >= self.spec.threshold).alias("value"),
            "last_event_time",
            F.lit(batch_id).alias("version"),
        )

    def _maintain(self, batch_id: int) -> None:
        """Post-batch maintenance on the configured cadence: compact the
        versioned assignments to one (latest) row per user. Runs inside
        foreachBatch, i.e. between micro-batches — the same spot ClickHouse
        slots its background merges relative to inserts."""
        if self.compact_every is None or (batch_id + 1) % self.compact_every:
            return
        from ..sources.writers import compact_latest_wins

        compact_latest_wins(
            self.spark, self.assignments_path, key="user_id", order_by="version"
        )

    def run_available_now(self) -> None:
        """Drain all new source files through one checkpointed run."""
        out_path = self.assignments_path

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # update-mode batch = exactly the users whose state changed
            # (the reference's changelog, 3-microBatch.test.ts:50-56);
            # append versioned assignments, reader resolves latest-wins.
            self._sink_select(batch_df, batch_id).write.mode("append").parquet(
                out_path
            )
            self._maintain(batch_id)

        q = (
            self._stream()
            .writeStream.outputMode("update")
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def members(self) -> DataFrame:
        from ..sources.writers import recover_rewrite

        recover_rewrite(self.assignments_path)  # heal an interrupted compaction
        if not os.path.exists(self.assignments_path):
            raise RuntimeError("no batches processed yet")
        assignments = read_parquet(self.spark, self.assignments_path)
        return (
            assignments.groupBy("user_id")
            .agg(latest_value("value", "version").alias("latest_value"))
            .filter(F.col("latest_value"))
            .select("user_id")
        )
