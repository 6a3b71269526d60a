"""Streaming exact dedup: continuous-ingestion dedup for a document feed.

The batch dedup family (operators/dedup.py) assumes the corpus sits still;
a training-data pipeline usually ingests continuously, and each new drop
must be deduped against EVERYTHING already accepted, not just its own
files. Structured Streaming's ``dropDuplicates`` state is exactly that
accumulator: one state row per distinct content fingerprint, checkpointed,
surviving across micro-batches and restarts.

Semantics and scale, honestly:

- state is O(distinct fingerprints) and never evicted — that is the
  nature of exact corpus dedup (you must remember every hash you ever
  accepted). Each state row is one 32-char md5 key; at 10B docs that is
  ~1 TB of state, which is RocksDB-state-store territory on a real
  cluster (``spark.sql.streaming.stateStore.providerClass``), not the
  default in-memory HDFS store — exercised, restart included, in
  tests/test_streaming.py::test_streaming_dedup_rocksdb_state_store. If the feed carries an event-time column,
  ``dropDuplicatesWithinWatermark`` bounds state by recency instead — the
  right tool when re-delivery (not re-occurrence) is the thing being
  suppressed. This class exposes both via ``watermark``.
- WITHIN a micro-batch the surviving row of a duplicate group is
  arbitrary (Spark keeps the first row it encounters per key);
  ACROSS batches the earlier-accepted doc always wins. The batch
  ``exact_dedup`` instead keeps min(id) deterministically — the streaming
  contract is first-ACCEPTED-wins, which is what an ingest gate means.
- per batch: one shuffle of the new docs on the fingerprint (map-side
  distinct first), one state-store lookup per new key. The accepted
  corpus is append-only parquet — downstream batch jobs read it as a
  normal table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.catalog import read_parquet


class StreamingDeduper:
    """File-source ingest gate: parquet docs appear in ``docs_dir``; each
    ``run_available_now`` drains new files, drops every doc whose md5(text)
    was already accepted (this run or any prior run — state is
    checkpointed), and appends survivors to ``accepted_path``."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        schema,
        text_col: str = "text",
        time_col: str | None = None,
        watermark: str | None = None,
    ):
        if (watermark is None) != (time_col is None):
            raise ValueError("watermark and time_col must be set together")
        self.spark = spark
        self.schema = schema
        self.text_col = text_col
        self.time_col = time_col
        self.watermark = watermark
        self.docs_dir = os.path.join(workdir, "docs_in")
        self.checkpoint = os.path.join(workdir, "checkpoint")
        self.accepted_path = os.path.join(workdir, "accepted")
        os.makedirs(self.docs_dir, exist_ok=True)

    def _deduped(self) -> DataFrame:
        stream = self.spark.readStream.schema(self.schema).parquet(self.docs_dir)
        fp = stream.withColumn("_fp", F.md5(F.col(self.text_col)))
        if self.watermark is not None:
            # bounded-state mode: suppress re-deliveries within the
            # watermark horizon; an exact re-occurrence older than the
            # horizon is accepted again (documented tradeoff)
            fp = fp.withWatermark(self.time_col, self.watermark)
            return fp.dropDuplicatesWithinWatermark(["_fp"]).drop("_fp")
        return fp.dropDuplicates(["_fp"]).drop("_fp")

    def run_available_now(self) -> None:
        q = (
            self._deduped()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", self.accepted_path)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def accepted(self) -> DataFrame:
        if not os.path.exists(self.accepted_path):
            raise RuntimeError("no batches processed yet")
        return read_parquet(self.spark, self.accepted_path)
