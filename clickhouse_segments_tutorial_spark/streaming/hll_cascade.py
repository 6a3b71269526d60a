"""Streaming variant-4 twin persisting MERGEABLE HLL SKETCH STATE — the
missing third leg next to the built-in approx aggregation
(stream_segment.py) and the exact set state (stateful.py).

The reference's event-time cascade (/root/reference/src/4-eventTime.test.ts:
129-193) persists ``AggregateFunction(uniq, ...)`` + ``AggregateFunction(max,
DateTime)`` partial states per batch and finalizes changed users by merging
all their state rows. Here the SAME cascade runs inside ``foreachBatch``:
Structured Streaming's checkpointed offsets play the processing-time
lower_bound cursor (4-eventTime.test.ts:138-140), and each micro-batch

1. appends per-user partial state rows — a Datasketches HLL sketch of
   message ids (uniqState) plus max(event_time) (maxState) — to a
   persisted, user-clustered state table (operators/hll_state.py);
2. takes the batch's own user set as the changelog (the MV trigger emits
   exactly the inserted block's users, 4-eventTime.test.ts:53-59);
3. finalizes ONLY those users: broadcast semi-join against the state
   table, hll_union_agg across all their state rows (uniqMerge), max
   across last_event_time partials (maxMerge), threshold to a boolean,
   append a new assignment version (4-eventTime.test.ts:150-169);
4. serves latest-wins membership with last_event_time as unix seconds
   (argMax + toUnixTimestamp, 4-eventTime.test.ts:171-185).

Why sketches and not the state store: the Spark-managed state store
(approx_count_distinct path) is opaque — it cannot be read, merged
offline, backfilled, or shared with the batch cascade. The sketch TABLE
is all of those: the batch EventTimeSegmenter and this streaming twin
produce interchangeable state (same binary format, same merge), so a
backfill job and the live stream can feed one table — the reason the
reference stores mergeable state instead of counters.

Scale: per batch, one shuffle of the new events (map-side partial
sketches), a broadcast semi-join on the changed-user set, and O(state
rows of changed users) merge work — the full history is never rescanned.
State rows grow by one per user per batch they appear in; ``_maintain``
(cadence ``compact_every``) collapses them to one merged row per user,
the AggregatingMergeTree background merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..operators.hll_state import hll_merge, hll_merge_estimate, hll_partial_state
from ..operators.latest_wins import latest_value
from ..sources.catalog import read_parquet
from ..sources.writers import append_clustered, recover_rewrite, rewrite_table
from .stream_segment import StreamingSegmenter


class HllCascadeStreamingSegmenter(StreamingSegmenter):
    """Streaming cascade over persisted mergeable HLL sketch state."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.states_path = os.path.join(
            os.path.dirname(self.checkpoint), "user_states"
        )

    # the stream is just the ingest head; all state lives in tables the
    # foreachBatch cascade owns, so no streaming aggregation is built here
    def _stream(self) -> DataFrame:
        return self._filtered()

    def run_available_now(self) -> None:
        log = self.log

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # stage 1 — uniqState + maxState partial rows for this batch
            state_rows = (
                batch_df.groupBy(F.col(log.user).alias("user_id"))
                .agg(
                    hll_partial_state(log.message).alias("event_count"),
                    F.max(log.time).alias("last_event_time"),
                )
                .withColumn("version", F.lit(batch_id))
                .persist()  # feeds the state append AND the changelog
            )
            try:
                recover_rewrite(self.states_path)
                append_clustered(
                    state_rows, self.states_path, cluster_by=["user_id"]
                )
                # stage 2 — changelog: the inserted block's users
                changed = state_rows.select("user_id")
                # stage 3 — finalize only changed users across ALL batches
                states = read_parquet(self.spark, self.states_path)
                finalized = (
                    states.join(F.broadcast(changed), "user_id", "left_semi")
                    .groupBy("user_id")
                    .agg(
                        (
                            hll_merge_estimate("event_count")
                            >= self.spec.threshold
                        ).alias("value"),
                        F.max("last_event_time").alias("last_event_time"),
                    )
                    .withColumn("version", F.lit(batch_id))
                )
                append_clustered(
                    finalized, self.assignments_path, cluster_by=["user_id"]
                )
                self._maintain(batch_id)
            finally:
                state_rows.unpersist()

        q = (
            self._stream()
            .writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def _maintain(self, batch_id: int) -> None:
        """Assignments latest-wins compaction (inherited cadence) plus the
        AggregatingMergeTree merge: collapse each user's sketch rows into
        one merged row. Readers never rely on either having run."""
        super()._maintain(batch_id)
        if self.compact_every is None or (batch_id + 1) % self.compact_every:
            return
        states = read_parquet(self.spark, self.states_path)
        merged = states.groupBy("user_id").agg(
            hll_merge("event_count").alias("event_count"),
            F.max("last_event_time").alias("last_event_time"),
            F.max("version").alias("version"),
        )
        rewrite_table(self.spark, merged, self.states_path, cluster_by=["user_id"])

    def members_with_last_event_time(self) -> DataFrame:
        """Serve query of 4-eventTime.test.ts:171-179: user_id + unix-seconds
        last_event_time for latest_value=true rows (second truncation per
        the golden assertion at :191)."""
        recover_rewrite(self.assignments_path)
        if not os.path.exists(self.assignments_path):
            raise RuntimeError("no batches processed yet")
        assignments = read_parquet(self.spark, self.assignments_path)
        return (
            assignments.groupBy("user_id")
            .agg(
                F.unix_timestamp(
                    latest_value("last_event_time", "version")
                ).alias("last_event_time"),
                latest_value("value", "version").alias("latest_value"),
            )
            .filter(F.col("latest_value"))
            .select("user_id", "last_event_time")
        )
