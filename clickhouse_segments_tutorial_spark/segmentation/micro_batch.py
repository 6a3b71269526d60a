"""Variant 3 — micro-batch incremental segmentation
(/root/reference/src/3-microBatch.test.ts).

The cascade, per batch:

1. state update — only events with cursor >= lower_bound are scanned;
   per-user mergeable HLL state rows are appended to the state table
   (uniqState, 3-microBatch.test.ts:117-133).
2. changelog — every state row synchronously emits (user_id, computed_at)
   into a day-partitioned changelog (the MATERIALIZED VIEW ... TO trigger,
   3-microBatch.test.ts:31-38,50-56). In Spark the micro-batch job itself
   *is* the trigger: it appends the same rows it just computed.
3. finalize — only users present in this batch's changelog window are
   re-finalized: semi-join changelog -> merge all their state rows
   (uniqMerge, 3-microBatch.test.ts:136-154) -> append new assignment
   versions.
4. serve — latest-wins over assignments (argMax, 3-microBatch.test.ts:156-169).

Scale design:
- Per-batch work is O(new events) + O(state rows of changed users); the
  full event history is never rescanned. That is the reference's entire
  point and it carries over 1:1.
- The changed-user set is usually tiny relative to the state table, so the
  semi-join build side is broadcast (`F.broadcast`) — no shuffle of the
  state table beyond the groupBy on user_id.
- The changelog filter lands on the yyyyMMdd partition column -> partition
  pruning; states/assignments are clustered on user_id at write time ->
  row-group pruning on the semi-join key.
- State rows per user grow by 1 per batch they appear in; `compact_states`
  merges them (ClickHouse's background AggregatingMergeTree merge).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.errors import AnalysisException

from .spec import EventLog, SegmentSpec
from ..operators.hll_state import accumulate_state, hll_merge, hll_merge_estimate
from ..sources.catalog import read_parquet
from ..sources.writers import (
    PARTITION_COL,
    append_clustered,
    apply_retention,
    recover_rewrite,
    rewrite_table,
)


def _as_utc(value) -> dt.datetime | None:
    """Coerce a batch clock (datetime or ISO string) to aware UTC for the
    retention cutoff; None when unparseable (retention then skips — never
    guess a clock)."""
    if isinstance(value, dt.datetime):
        return value if value.tzinfo else value.replace(tzinfo=dt.timezone.utc)
    if isinstance(value, str):
        try:
            parsed = dt.datetime.fromisoformat(value)
        except ValueError:
            return None
        return parsed if parsed.tzinfo else parsed.replace(tzinfo=dt.timezone.utc)
    return None
from .naive import serve_membership, serve_segment  # noqa: F401  (re-served here)


def _ts(value: dt.datetime | str) -> F.Column:
    if isinstance(value, dt.datetime):
        value = value.strftime("%Y-%m-%d %H:%M:%S.%f")
    return F.lit(value).cast("timestamp")


class MicroBatchSegmenter:
    """Persisted incremental segmentation over a workdir of parquet tables."""

    STATE_AGGS: dict[str, object] = {}

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        spec: SegmentSpec,
        log: EventLog = EventLog(),
        *,
        changelog_retention_days: int | None = 100,
    ):
        if changelog_retention_days is not None and changelog_retention_days < 1:
            raise ValueError(
                f"changelog_retention_days must be >= 1, got {changelog_retention_days}"
            )
        self.spark = spark
        self.workdir = workdir
        self.spec = spec
        self.log = log
        # TTL toStartOfDay(computed_at) + interval 100 day on the changelog
        # (/root/reference/src/3-microBatch.test.ts:38) — without it
        # updated_user_states grows one partition set per batch FOREVER.
        # Finalize only ever reads partitions >= the current batch day, so
        # dropping partitions older than the TTL can never lose a
        # finalization (the reference relies on the same invariant).
        self.changelog_retention_days = changelog_retention_days
        self.states_path = os.path.join(workdir, "user_states")
        self.changelog_path = os.path.join(workdir, "updated_user_states")
        self.assignments_path = os.path.join(workdir, "segment_assignments")

    # -- table access --------------------------------------------------------

    def _read(self, path: str) -> DataFrame | None:
        # a compaction crash between rewrite_table's two renames leaves
        # the data only under '<path>.rewrite.old' — restore it rather
        # than mistaking an interrupted swap for an empty table (which
        # would silently rebuild state from nothing)
        recover_rewrite(path)
        if not os.path.exists(path):
            return None
        try:
            return read_parquet(self.spark, path)
        except AnalysisException:
            # Directory exists but holds no data files (e.g. every partition
            # aged out via retention, or only empty-batch markers) — treat as
            # an empty table. Real I/O errors (corrupt footer, permissions)
            # are NOT caught: a silent empty-table there would complete the
            # batch while dropping finalization for its users.
            return None

    def states(self) -> DataFrame | None:
        return self._read(self.states_path)

    def assignments(self) -> DataFrame | None:
        return self._read(self.assignments_path)

    # -- cascade stages -------------------------------------------------------

    def _batch_state(self, events: DataFrame, lower_bound, now) -> DataFrame:
        """Stage 1: per-user partial state for events at/after the cursor."""
        batch = self.spec.matching(events, self.log).filter(
            F.col(self.log.cursor) >= _ts(lower_bound)
        )
        extra = {
            name: fn(self.log) for name, fn in self.STATE_AGGS.items()
        }
        return accumulate_state(
            batch.withColumnRenamed(self.log.user, "user_id"),
            key="user_id",
            distinct_col=self.log.message,
            computed_at=_ts(now),
            extra_aggs=extra,
        )

    # -- storage hooks (overridden by the bucketed variant) ------------------

    def _append_states(self, df: DataFrame) -> None:
        append_clustered(df, self.states_path, cluster_by=["user_id"])

    def _append_assignments(self, df: DataFrame) -> None:
        append_clustered(df, self.assignments_path, cluster_by=["user_id"])

    def process_batch(self, events: DataFrame, lower_bound, now) -> None:
        """Run one micro-batch: state update + changelog + finalize."""
        # The batch aggregate feeds two writes (states + changelog MV
        # analog) plus the finalize merge; persist so the event scan +
        # HLL build runs once. The STATES APPEND is the materializing
        # action (the write computes every partition and populates the
        # cache) — a separate eager count() was one whole Spark job per
        # batch of pure duplication.
        state_rows = self._batch_state(events, lower_bound, now).persist()
        try:
            self._append_states(state_rows)
            # The changelog append and the finalize merge are now
            # independent (finalize reads the states TABLE, whose append
            # just committed, plus the cached in-memory user set — never
            # the changelog it is concurrent with), so run them as
            # concurrent Spark jobs (one session, two submitting
            # threads; the scheduler back-fills the tail of one job with
            # the other's tasks — guide §2.6). This mirrors ClickHouse's
            # insert path: the MV trigger writes the changelog inside
            # the insert pipeline while the decoupled finalize cadence
            # owns assignments.
            #
            # Finalize here uses the inserted block's user set directly —
            # the MV trigger already holds it in memory, so re-reading
            # the changelog table would be a pure round-trip. The
            # changelog-driven path (finalize_pending) computes the same
            # set for any monotone batch clock and remains the
            # replay/recovery cadence (tested equivalent in
            # tests/test_segmentation.py).
            #
            # InheritableThread, not ThreadPoolExecutor: under PySpark's
            # default pinned-thread mode plain threads do NOT inherit local
            # properties, so job tags/cancellation scope would not reach the
            # writers (r5 ADVICE). Each writer carries a shared job tag; the
            # first failure cancels the sibling's jobs by tag, both threads
            # are always joined before re-raising, so the partial-failure
            # state is deterministic: no write is still in flight when the
            # caller sees the error.
            from pyspark import InheritableThread

            changelog_rows = state_rows.select("user_id", "computed_at")
            sc = state_rows.sparkSession.sparkContext
            tag = f"microbatch-dual-append-{id(state_rows)}"
            errs: list[BaseException] = []

            def _run(fn, *args, **kwargs):
                try:
                    fn(*args, **kwargs)
                except BaseException as exc:  # noqa: BLE001 — re-raised below
                    errs.append(exc)
                    try:
                        sc.cancelJobsWithTag(tag)
                    except Exception:
                        pass

            sc.addJobTag(tag)
            try:
                threads = [
                    InheritableThread(
                        target=_run,
                        args=(append_clustered, changelog_rows, self.changelog_path),
                        kwargs={"cluster_by": ["user_id"], "partition_ts": "computed_at"},
                    ),
                    InheritableThread(
                        target=_run,
                        kwargs={
                            "changed_since": now,
                            "assigned_at": now,
                            "changed": state_rows.select("user_id").distinct(),
                        },
                        args=(self._finalize,),
                    ),
                ]
                for t in threads:
                    t.start()
                for t in threads:
                    t.join()
            finally:
                sc.removeJobTag(tag)
            if errs:
                raise errs[0]
            # changelog TTL on the batch cadence (the reference's TTL is
            # background; between-batches is our equivalent slot, same as
            # compaction) — O(partitions) directory drops, no data rewrite
            if self.changelog_retention_days is not None:
                now_dt = _as_utc(now)
                if now_dt is not None:
                    apply_retention(
                        self.changelog_path,
                        keep_days=self.changelog_retention_days,
                        now=now_dt,
                    )
        finally:
            state_rows.unpersist()

    def _merged_aggs(self) -> list:
        return [(hll_merge_estimate("event_count") >= self.spec.threshold).alias("value")]

    def _finalize(self, changed_since, assigned_at, changed: DataFrame | None = None) -> None:
        """Stage 3: re-derive assignments for users changed since the cursor.

        Mirrors INSERT INTO segment_assignments SELECT user_id,
        uniqMerge(event_count) >= 2 FROM user_states WHERE user_id IN
        (SELECT user_id FROM updated_user_states WHERE computed_at >= lb)
        GROUP BY user_id (3-microBatch.test.ts:136-154).

        ``changed``: optional pre-computed changed-user set (one user_id
        column). ``process_batch`` passes its in-memory inserted block —
        identical to the changelog read below whenever the batch clock is
        monotone (every changelog row with computed_at >= now is this
        batch's own block). When omitted, the set comes from the
        day-partition-pruned changelog scan — the reference's decoupled
        finalize cadence.
        """
        states = self.states()
        if states is None:
            return
        if changed is None:
            changelog = self._read(self.changelog_path)  # keep the partition col
            if changelog is None:
                return
            # Filter the DAY PARTITION first (directory pruning — the reason
            # the changelog is day-partitioned), then the row-level cursor:
            # without the partition predicate every batch would rescan the
            # entire changelog history, O(batches ever run) instead of O(new).
            day = _ts(changed_since)
            changed = (
                changelog.filter(
                    F.col(PARTITION_COL) >= F.date_format(day, "yyyyMMdd")
                )
                .filter(F.col("computed_at") >= day)
                .select("user_id")
                .distinct()
            )
        finalized = (
            states.join(F.broadcast(changed), "user_id", "left_semi")
            .groupBy("user_id")
            .agg(*self._merged_aggs())
            .withColumn("assigned_at", _ts(assigned_at))
        )
        self._append_assignments(finalized)

    def finalize_pending(self, changed_since, assigned_at) -> None:
        """Changelog-driven finalization (the reference's periodic cadence,
        3-microBatch.test.ts:136-154): re-derive assignments for every user
        whose changelog cursor is at/after ``changed_since``, regardless of
        which batch produced the change. Use for replay/recovery or when
        finalize runs on a slower schedule than ingest."""
        self._finalize(changed_since=changed_since, assigned_at=assigned_at)

    # -- serving --------------------------------------------------------------

    def members(self) -> DataFrame:
        """Latest-wins segment membership (user_ids currently in-segment)."""
        assignments = self.assignments()
        if assignments is None:
            raise RuntimeError("no batches processed yet")
        return serve_segment(assignments)

    # -- maintenance ----------------------------------------------------------

    def _merged_states(self, states: DataFrame) -> DataFrame:
        """One merged sketch row per user (shared by both compaction
        storage layouts — the merge semantics must never diverge)."""
        return states.groupBy("user_id").agg(
            hll_merge("event_count").alias("event_count"),
            F.max("computed_at").alias("computed_at"),
            *[
                F.max(c).alias(c)
                for c in states.columns
                if c not in ("user_id", "event_count", "computed_at")
            ],
        )

    def compact_states(self) -> None:
        """AggregatingMergeTree background-merge analog: collapse each user's
        state rows into one merged sketch row, bounding read amplification."""
        states = self.states()
        if states is None:
            return
        # atomic swap + re-sort on user_id so the clustering invariant the
        # finalize semi-join prunes on survives compaction
        rewrite_table(
            self.spark, self._merged_states(states), self.states_path,
            cluster_by=["user_id"],
        )
