"""Wave-tagged associative count state — the shared chassis of every
"sufficient-statistic" incremental trainer in the engine.

Several operators train models whose ONLY input is a table of integer
counts keyed by something small (hashed term buckets for the Naive Bayes
quality classifier, the word-frequency dictionary for the BPE
tokenizer). Counts are associative: summing per-wave deltas in any order
reproduces the batch counts EXACTLY, so an incremental/streaming twin
needs no wave-order contract and its rebuilt model is bit-identical to
retraining from scratch. What those twins share — and what this module
implements ONCE — is the state mechanics:

- **Storage**: one bucketed catalog table (sources/bucketed.py) of rows
  ``(key, _w, value...)`` where ``_w`` tags the appending wave. Appends
  are bucket-aligned (one file per bucket per wave), so a later
  same-key aggregation or join reads co-located sorted files with no
  Exchange.
- **Replay safety** (the StreamingWaveGate crash contract): a wave
  replayed after a crash between the sink and the checkpoint commit
  re-appends BYTE-IDENTICAL rows under its original wave tag; every
  read first collapses duplicate ``(key, _w)`` rows with ``max()`` —
  a no-op on the duplicates, so double-appends can never double-count.
  This holds across compaction because compact PRESERVES the wave tags
  (one row per (key, _w) after folding).
- **Crash-mid-compact healing**: compact pins the full state before the
  non-atomic table overwrite; any read that finds the table missing
  restores it from the newest committed pin (bucketed.py's shared
  newest-valid-pin rule).
- **Resume numbering**: default wave ids continue from the highest
  ``wave_<k>`` audit directory carrying Spark's ``_SUCCESS`` marker
  (plans/curation._max_completed_wave_dir), so a re-attached process
  numbers new waves after the committed ones. Wave 0 is reserved as the
  "no completed wave" sentinel.

100 TB design: state size is (distinct keys) x (waves) rows regardless
of corpus size — a few-million-row table for hashed-bucket models, a
Heaps-law dictionary for word counts. The per-wave pass is one hash-agg
over the wave; model rebuild reads only the state. This is the
nightly-refresh-without-re-reading-history pattern.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.catalog import read_parquet


class WaveCountState:
    """Bucketed wave-tagged count table with replay-safe reads.

    ``value_cols`` are the long-typed count columns; ``key_col`` /
    ``key_type`` the single state key. Deltas handed to :meth:`append`
    must already be aggregated to one row per key (the max()-collapse
    replay story relies on a replayed wave producing byte-identical
    rows, which per-key aggregation guarantees for deterministic
    inputs)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        name: str,
        key_col: str,
        key_type: str,
        value_cols: list[str],
        state_buckets: int = 32,
    ):
        self.spark, self.workdir = spark, workdir
        self.key_col, self.key_type = key_col, key_type
        self.value_cols = list(value_cols)
        self.state_buckets = state_buckets
        from ..sources.bucketed import state_table_prefix

        self.table = state_table_prefix(workdir, name) + "_counts"
        self._wave = 0
        os.makedirs(workdir, exist_ok=True)

    @property
    def _schema(self) -> str:
        vals = ", ".join(f"{c} long" for c in self.value_cols)
        return f"{self.key_col} {self.key_type}, _w int, {vals}"

    def resolve_wave(self, wave_id: int | None) -> int:
        """Next wave number: explicit ``wave_id`` (a gate's restart-stable
        batch id), else previous+1, resuming after the highest committed
        ``wave_<k>`` audit pin on re-attach. Rejects waves < 1 — 0 is the
        no-completed-wave resume sentinel (r10 ADVICE item 3 rule)."""
        from ..plans.curation import _max_completed_wave_dir
        from ..sources.bucketed import resolve_wave_counter

        self._wave = resolve_wave_counter(
            self._wave, wave_id, lambda: _max_completed_wave_dir(self.workdir)
        )
        return self._wave

    def pin_audit(self, audit: DataFrame, wave: int) -> DataFrame:
        """Commit the wave's audit rows to ``wave_<k>`` BEFORE the state
        append (read-your-writes: a _SUCCESS-marked audit implies the
        resume probe may number past this wave) and return a reader."""
        res_path = os.path.join(self.workdir, f"wave_{wave}")
        audit.write.mode("overwrite").parquet(res_path)
        return read_parquet(self.spark, res_path)

    def append(self, delta: DataFrame, wave: int) -> None:
        """Append one wave's per-key delta rows under wave tag ``wave``."""
        from ..sources.bucketed import write_bucketed

        tagged = delta.withColumn("_w", F.lit(wave).cast("int")).select(
            self.key_col, "_w", *self.value_cols
        )
        write_bucketed(
            tagged,
            self.table,
            key=self.key_col,
            buckets=self.state_buckets,
            mode="append" if self.spark.catalog.tableExists(self.table) else "overwrite",
            align=True,
        )
        self.spark.catalog.refreshTable(self.table)

    def _heal(self) -> None:
        from ..sources.bucketed import heal_bucketed_from_pins

        heal_bucketed_from_pins(
            self.spark,
            self.table,
            os.path.join(self.workdir, "tmp", "compact_w*"),
            key=self.key_col,
            buckets=self.state_buckets,
        )

    def read(self) -> DataFrame:
        """Accumulated state with replay duplicates collapsed: one row per
        (key, _w) via max() — a no-op on the byte-identical rows a crashed
        wave's re-run appends."""
        self._heal()
        if self.spark.catalog.tableExists(self.table):
            return (
                self.spark.table(self.table)
                .groupBy(self.key_col, "_w")
                .agg(*[F.max(c).alias(c) for c in self.value_cols])
            )
        return self.spark.createDataFrame([], self._schema)

    def compact(self, wave: int) -> None:
        """Fold appended files to one per bucket, PRESERVING wave tags so
        replays of already-compacted waves still collapse."""
        from ..sources.bucketed import compact_bucketed

        self._heal()
        if not self.spark.catalog.tableExists(self.table):
            return
        compact_bucketed(
            self.spark,
            self.read(),
            self.table,
            os.path.join(self.workdir, "tmp", f"compact_w{wave}"),
            os.path.join(self.workdir, "tmp", "compact_w*"),
            key=self.key_col,
            buckets=self.state_buckets,
        )

    def reset(self) -> None:
        """Drop persisted state (table + pins) but keep the workdir."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        shutil.rmtree(os.path.join(self.workdir, "tmp"), ignore_errors=True)
        self._wave = 0

    def drop(self) -> None:
        """Drop state AND the workdir (audit pins included)."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        shutil.rmtree(self.workdir, ignore_errors=True)
