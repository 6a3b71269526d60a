"""Streaming ingest-gate twins for the wave-state curation operators —
the third leg of the batch / incremental / streaming triangle that the
per-source quota already has (plans/curation.py module docstring).

One generic gate: a Structured Streaming file source drained by
``foreachBatch``, each micro-batch handed to a wave-state incremental
operator (``IncrementalNoveltyScorer`` / ``IncrementalSemanticDeduper``)
— the hll_cascade.py pattern, where the stream is just the ingest head
(checkpointed offsets = the processed-wave cursor) and ALL state lives
in the operator's bucketed catalog tables. Nothing is recomputed across
batches: per batch the operator does O(wave + co-located state lookups)
work, exactly its incremental contract.

Wave contract (inherited from the incremental operators): batches must
arrive in ascending id order across batches. A file source provides
this with ordered wave files + ``maxFilesPerTrigger=1`` (each file
becomes its own micro-batch, processed in discovery order) — the same
production note as the quota gate's ordering contract (README).

Crash/restart story:
- stream offsets: checkpointed — a restarted gate (same workdir) skips
  already-processed files;
- operator state: the bucketed catalog tables persist across gate
  objects;
- batch RESULTS are written to ``results/batch_<id>`` with overwrite —
  batch ids are stable across restarts, so a replayed batch overwrites
  its own output instead of duplicating rows.

Replay idempotence is the INGESTOR's property, not the gate's — a batch
can replay after a crash between the sink and the checkpoint commit.
The gate hands ingestors that accept it the restart-stable ``wave_id``
(its batch id), which is what each one keys its replay story on:
- IncrementalNoveltyScorer / IncrementalSemanticDeduper: replay-safe by
  construction — re-appended state rows are exact duplicates their
  min()/distinct reads collapse; wave_id only stabilizes the
  wave-result path.
- IncrementalCorpusCurator: replay-safe via WAVE-TAGGED state (the r10
  self-review finding 2 fix): its left_anti-consumed dedup state would
  otherwise drop a replayed wave's documents against its own partial
  appends, so state rows carry the appending wave id and every lookup
  excludes the current wave's rows; the wave's curated output
  overwrites its own subdirectory.
- IncrementalCorpusBuilder: NOT replay-safe (its mixture/packing
  counters are plain appends a replay would double-count) — batch and
  incremental use only; documented on its ingest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import read_parquet


class StreamingWaveGate:
    """File-source ingest gate driving a wave-state incremental operator.

    ``ingestor`` must expose ``ingest(df) -> DataFrame`` (one wave in,
    that wave's output rows back) and ``reset()`` (drop persisted state)
    — the IncrementalNoveltyScorer / IncrementalSemanticDeduper
    protocol. Its state workdir should live UNDER ``workdir`` so the
    registered queries' scratch wipe clears stream and state together.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        schema,
        ingestor,
        select_cols: list[str] | None = None,
        compact_every: int | None = None,
    ):
        """``compact_every``: run the ingestor's ``compact()`` after every
        N batches (when it has one) — the measured cadence from
        BASELINE.md r10: bucketed state accumulates one file per bucket
        per wave, and at 16 waves uncompacted state scans ran ~+39% on
        the late waves; folding every ~4 waves kept per-wave wall flat.
        Compaction is result-identical (tested on every stateful class),
        so the cadence is purely an IO/latency knob. A batch REPLAYED
        after a crash can skip its compaction (batch ids replay but the
        modulo re-fires — harmless: compact is idempotent on compacted
        state). A crash DURING compact's non-atomic table overwrite is
        healed on the next state read: every stateful class restores the
        missing table from its pinned pre-compact copy
        (_heal_from_compact_pin; r10 second-review finding 3)."""
        self.spark = spark
        self.schema = schema
        self.ingestor = ingestor
        self.select_cols = select_cols
        self.compact_every = compact_every
        self.in_dir = os.path.join(workdir, "stream_in")
        self.checkpoint = os.path.join(workdir, "checkpoint")
        self.results_dir = os.path.join(workdir, "results")
        import inspect

        self._pass_wave_id = "wave_id" in inspect.signature(
            ingestor.ingest
        ).parameters
        os.makedirs(self.in_dir, exist_ok=True)

    def reset_state(self) -> None:
        """Drop the operator's persisted catalog state. The registered
        queries call this once up front when their scratch helper REUSES
        a workdir across invocations: the wipe clears the directory
        (stream files + checkpoint) but cannot see the warehouse tables
        (the IncrementalNoveltyScorer.reset story). Ingestors built on a
        fresh unique workdir per call (IncrementalCorpusCurator via
        session.scratch_dir) have nothing to reset and may omit the
        method."""
        reset = getattr(self.ingestor, "reset", None)
        if reset is not None:
            reset()

    def run_available_now(self) -> None:
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if self.select_cols:
                batch_df = batch_df.select(*self.select_cols)
            # hand the restart-stable batch id to ingestors that key their
            # state/replay isolation on it (the curator's wave tags; the
            # scorers use it for stable wave-result paths). batch ids are
            # 0-based but wave ids are 1-based — 0 is the universal
            # "no completed wave" sentinel in the resume probes, so a
            # completed wave 0 would be indistinguishable from an empty
            # workdir and break default-numbering re-attach (r10 ADVICE
            # item 3)
            if self._pass_wave_id:
                out = self.ingestor.ingest(batch_df, wave_id=batch_id + 1)
            else:
                out = self.ingestor.ingest(batch_df)
            # overwrite keyed by the (restart-stable) batch id: replays
            # rewrite their own output, never duplicate it
            out.write.mode("overwrite").parquet(
                os.path.join(self.results_dir, f"batch_{batch_id}")
            )
            compact = getattr(self.ingestor, "compact", None)
            if (
                self.compact_every
                and compact is not None
                and (batch_id + 1) % self.compact_every == 0
            ):
                compact()

        q = (
            self.spark.readStream.schema(self.schema)
            # one file per micro-batch: the wave contract requires batch
            # boundaries to respect ascending-id file boundaries
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
            .writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def results(self) -> DataFrame:
        """Union of all COMMITTED batches' outputs (lazy readers).

        A crash between Spark's task-commit and job-commit leaves a
        partial ``batch_*`` directory without ``_SUCCESS``; re-running
        the gate overwrites it, but a direct results() read must not
        surface the partial rows, mirroring the pin-validity rule in
        the state heal (r10 ADVICE item 2)."""
        if not os.path.isdir(self.results_dir):
            raise RuntimeError("no batches processed yet")
        parts = sorted(
            os.path.join(self.results_dir, d)
            for d in os.listdir(self.results_dir)
            if d.startswith("batch_")
            and os.path.exists(os.path.join(self.results_dir, d, "_SUCCESS"))
        )
        if not parts:
            raise RuntimeError("no batches processed yet")
        return read_parquet(self.spark, *parts)


class ContinuousWaveGate(StreamingWaveGate):
    """CONTINUOUS-TRIGGER operation of the wave gate with wave-id
    watermarking (r11 verdict item 3; README's "once a real ordered
    source replaces the file-manifest stand-in" note): a processingTime
    stream where wave files may be DISCOVERED OUT OF ORDER, while the
    incremental operators' contract still requires strictly ascending
    admission. ``availableNow`` via :class:`StreamingWaveGate` remains
    the oracle-checked mode for every registered query; this gate is
    the long-running-producer form, its semantics pinned by the e2e
    test (tests/test_streaming.py).

    Waves are identified by a mandatory ``_wave`` LONG column (one wave
    per file + ``maxFilesPerTrigger=1``, so each micro-batch is one
    wave). The ADMISSION CONTRACT, in place of event-time watermarks
    (which Spark applies to stateful aggregations, not foreachBatch
    sinks — the ordering layer is necessarily the gate's own):

    1. a cursor tracks the highest ADMITTED wave (persisted under the
       workdir, restart-safe);
    2. the in-order wave (cursor + 1) is admitted immediately, then the
       buffered ready prefix drains in the same micro-batch;
    3. an EARLY wave (> cursor + 1) is buffered on disk, at most
       ``max_ahead`` distinct waves — the out-of-orderness bound; a
       wave OVERFLOWING the bound is parked in quarantine with a
       ``buffer-full`` audit row but is NOT lost: its committed rows
       re-enter the stream the moment it becomes the next in-order
       wave (drain checks quarantine/wave_{next}_buffer-full after the
       buffer proper — r12 ADVICE item 1);
    4. a LATE wave (<= cursor) is QUARANTINED with an audit row, never
       ingested (admitting it would violate the ascending contract).
       This also covers the crash-replay window: a batch replayed after
       its sink completed but before the checkpoint commit finds its
       wave already <= cursor — safe, because the prior completion
       already materialized its results and state;
    5. WATERMARK EXPIRY: if a gap wave fails to arrive while
       ``lateness_batches`` further batches land beyond it, the gap is
       declared LOST (audit row), the cursor advances past it, and the
       buffer drains — bounding buffer memory and end-to-end latency
       under producer loss, exactly what an event-time watermark bounds
       for a windowed aggregation. A lost wave that shows up later is
       late by rule 4.

    Audit rows (quarantine/) carry (wave, reason, n_rows); buffered
    waves live under buffered/ until admitted or expired."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        schema,
        ingestor,
        select_cols: list[str] | None = None,
        compact_every: int | None = None,
        max_ahead: int = 8,
        lateness_batches: int = 3,
    ):
        super().__init__(
            spark, workdir, schema=schema, ingestor=ingestor,
            select_cols=select_cols, compact_every=compact_every,
        )
        self.max_ahead = max_ahead
        self.lateness_batches = lateness_batches
        self.buffer_dir = os.path.join(workdir, "buffered")
        self.quarantine_dir = os.path.join(workdir, "quarantine")
        self._cursor_path = os.path.join(workdir, "cursor.json")
        os.makedirs(self.buffer_dir, exist_ok=True)
        os.makedirs(self.quarantine_dir, exist_ok=True)
        # crash-mid-drain recovery: a crash between _admit and the
        # dir rmtree leaves an ALREADY-ADMITTED wave's buffered (or
        # buffer-full-quarantined) dir at or below the cursor, where
        # drain (which starts at cursor + 1) would never reap it —
        # stranding it forever / leaving a false buffer-full audit row
        # for ingested data (r12 ADVICE item 2; r13 review finding)
        import shutil

        cursor = self._load_cursor()["cursor"]
        for w in self._buffered_waves():
            if w <= cursor:
                shutil.rmtree(
                    os.path.join(self.buffer_dir, f"wave_{w}"), ignore_errors=True
                )
        for d in os.listdir(self.quarantine_dir):
            if d.startswith("wave_") and d.endswith("_buffer-full"):
                if int(d.split("_")[1]) <= cursor:
                    shutil.rmtree(
                        os.path.join(self.quarantine_dir, d), ignore_errors=True
                    )
            # legacy sidecar migration: pre-r13 audit rows were named
            # audit.json, which (a) quarantined() no longer reads and
            # (b) breaks a buffer-full re-admission's parquet read —
            # rename in place on attach
            legacy = os.path.join(self.quarantine_dir, d, "audit.json")
            if os.path.exists(legacy):
                os.replace(
                    legacy, os.path.join(self.quarantine_dir, d, "_audit.json")
                )

    # --- tiny driver-side persistence (foreachBatch runs on the driver) ---

    def _load_cursor(self) -> dict:
        import json

        if os.path.exists(self._cursor_path):
            with open(self._cursor_path) as f:
                return json.load(f)
        return {"cursor": 0, "waiting": {}}

    def _save_cursor(self, st: dict) -> None:
        import json

        tmp = self._cursor_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._cursor_path)

    def _buffered_waves(self) -> list[int]:
        return sorted(
            int(d.split("_", 1)[1])
            for d in os.listdir(self.buffer_dir)
            if d.startswith("wave_")
            and os.path.exists(os.path.join(self.buffer_dir, d, "_SUCCESS"))
        )

    def _quarantine(self, wave: int, df: DataFrame, reason: str) -> None:
        # path keyed by (wave, reason): a gap-expired marker and a later
        # REAL late arrival of the same wave are distinct audit events;
        # a re-quarantine of the same (wave, reason) overwrites itself
        # (idempotent under crash replay)
        path = os.path.join(self.quarantine_dir, f"wave_{wave}_{reason}")
        df.write.mode("overwrite").parquet(path)
        import json

        # "_"-prefixed so a later spark.read.parquet of the directory
        # (buffer-full re-admission) ignores the sidecar
        with open(os.path.join(path, "_audit.json"), "w") as f:
            json.dump({"wave": wave, "reason": reason, "n_rows": df.count()}, f)

    def quarantined(self) -> list[dict]:
        """The quarantine audit rows, oldest wave first."""
        import json

        out = []
        for d in sorted(os.listdir(self.quarantine_dir)):
            p = os.path.join(self.quarantine_dir, d, "_audit.json")
            if os.path.exists(p):
                with open(p) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda a: a["wave"])

    def _admit(self, wave: int, df: DataFrame) -> None:
        """Hand one wave to the ingestor and pin its output under its
        WAVE id (not the micro-batch id — buffered waves are admitted
        in a later batch than the one that received them, and wave ids
        are the stable, contract-bearing key here)."""
        out = (
            self.ingestor.ingest(df, wave_id=wave)
            if self._pass_wave_id
            else self.ingestor.ingest(df)
        )
        out.write.mode("overwrite").parquet(
            os.path.join(self.results_dir, f"batch_{wave - 1}")
        )
        compact = getattr(self.ingestor, "compact", None)
        if self.compact_every and compact is not None and wave % self.compact_every == 0:
            compact()

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.select_cols:
            batch_df = batch_df.select(*self.select_cols, "_wave")
        waves = [r["_wave"] for r in batch_df.select("_wave").distinct().collect()]
        if not waves:
            return  # idle/empty micro-batch
        if len(waves) != 1:
            raise ValueError(
                f"one wave per file is the gate's contract; batch {batch_id} "
                f"carries waves {sorted(waves)}"
            )
        wid = int(waves[0])
        data = batch_df.drop("_wave")
        self._ingest_wave(wid, data)

    def _ingest_wave(self, wid: int, data: DataFrame) -> None:
        """The ADMISSION CONTRACT for one arriving wave (class
        docstring rules 1-5) — shared by the file-source sink (one wave
        per micro-batch) and the rate-source driver (several waves can
        arrive inside one micro-batch, processed in event order)."""
        st = self._load_cursor()
        # drain BEFORE classifying the incoming wave: a crash between a
        # drained wave's _admit and its _save_cursor (or a foreachBatch
        # replay mid-drain) leaves the ingested wave's buffered dir as
        # the apparent gap — counting subsequent arrivals toward a FALSE
        # expiry of data that is already in state. Draining first
        # re-admits it (ingest is idempotent per wave id, the same
        # contract crash-replayed micro-batches rely on), advances the
        # cursor, and only then classifies the new wave (r12 ADVICE
        # item 2).
        self._drain_buffer(st)
        cursor = st["cursor"]
        if wid <= cursor:
            self._quarantine(wid, data, "late-or-duplicate")
            self._save_cursor(st)
            return
        if wid > cursor + 1:
            buffered = self._buffered_waves()
            if wid not in buffered and len(buffered) >= self.max_ahead:
                self._quarantine(wid, data, "buffer-full")
            else:
                data.write.mode("overwrite").parquet(
                    os.path.join(self.buffer_dir, f"wave_{wid}")
                )
            # watermark bookkeeping: EVERY wave landing beyond the gap
            # counts toward its expiry — buffered or buffer-full-
            # quarantined alike (otherwise a full buffer with
            # lateness_batches > max_ahead deadlocks: the counter can
            # never reach the threshold and the cursor never advances —
            # r12 review finding 1). The count is a SET of contributing
            # wave ids, not an integer, so a crash-REPLAYED early wave
            # re-adds its own id and cannot double-count toward expiry
            # (r12 review finding 2).
            gap = str(cursor + 1)
            seen = set(st["waiting"].get(gap, []))
            seen.add(wid)
            st["waiting"][gap] = sorted(seen)
            if len(seen) >= self.lateness_batches:
                self._expire_gap(st, data.schema)
            self._save_cursor(st)
            return
        # wid == cursor + 1: admit, then drain the ready buffered prefix
        self._admit(wid, data)
        st["cursor"] = wid
        st["waiting"] = {}
        self._save_cursor(st)
        self._drain_buffer(st)

    def _expire_gap(self, st: dict, schema) -> None:
        """Declare the current gap (cursor + 1) LOST: audit row, cursor
        advance, buffer drain. One gap expires per lateness window — a
        chain of lost waves expires one per threshold's worth of
        subsequent arrivals (or all at once via expire_stalled_gaps)."""
        self._quarantine(
            st["cursor"] + 1, self.spark.createDataFrame([], schema), "gap-expired"
        )
        st["cursor"] = st["cursor"] + 1
        st["waiting"] = {}
        self._save_cursor(st)
        self._drain_buffer(st)

    def expire_stalled_gaps(self) -> None:
        """OPERATOR CONTROL for a stalled producer: declare every gap
        below the highest buffered wave lost and drain the buffer —
        the manual watermark advance for end-of-stream, where the
        arrival-driven expiry can never fire again because no further
        batches arrive (r12 review finding 5). Call after the stream is
        stopped (or idle); each expiry writes its audit row."""
        from pyspark.sql.types import StructType

        st = self._load_cursor()
        schema = StructType([f for f in self.schema.fields if f.name != "_wave"])
        while True:
            pending = self._buffered_waves() + self._overflow_waves(st["cursor"])
            if not pending or max(pending) <= st["cursor"]:
                return
            self._expire_gap(st, schema)

    def _overflow_waves(self, cursor: int) -> list[int]:
        """Buffer-full-quarantined waves still AHEAD of the cursor:
        their rows are committed on disk and they re-enter the stream
        when they become next-in-order (``_drain_buffer``) — unlike
        late/gap-expired quarantine rows, which are terminal."""
        out = []
        for d in os.listdir(self.quarantine_dir):
            if not (d.startswith("wave_") and d.endswith("_buffer-full")):
                continue
            w = int(d.split("_")[1])
            if w > cursor and os.path.exists(
                os.path.join(self.quarantine_dir, d, "_SUCCESS")
            ):
                out.append(w)
        return sorted(out)

    def _drain_buffer(self, st: dict) -> None:
        import shutil

        while True:
            nxt = st["cursor"] + 1
            path = os.path.join(self.buffer_dir, f"wave_{nxt}")
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                # a wave quarantined as buffer-full is NOT lost: its rows
                # are committed on disk, and once the gap before it fills
                # (or expires) it is the next in-order wave — re-admit it
                # rather than leaving valid data silently excluded behind
                # a clean drain (r12 ADVICE item 1)
                qpath = os.path.join(
                    self.quarantine_dir, f"wave_{nxt}_buffer-full"
                )
                if not os.path.exists(os.path.join(qpath, "_SUCCESS")):
                    return
                path = qpath
            self._admit(nxt, read_parquet(self.spark, path))
            # persist the cursor BEFORE deleting the buffered files: a
            # crash between rmtree and a later save would otherwise
            # leave an admitted wave looking like a gap — expired with a
            # false audit row and its redelivery quarantined as a
            # duplicate (r12 review finding 4)
            st["cursor"] = nxt
            st["waiting"] = {}
            self._save_cursor(st)
            # reap BOTH homes of the admitted wave: a wave can sit in
            # the buffer AND in buffer-full quarantine at once (e.g. a
            # crash-replay redelivered it into a buffer with room after
            # an earlier copy overflowed) — reaping only the admitted
            # copy would leave a permanent false 'buffer-full' audit
            # row for ingested data (r13 review finding)
            for stale in (
                os.path.join(self.buffer_dir, f"wave_{nxt}"),
                os.path.join(self.quarantine_dir, f"wave_{nxt}_buffer-full"),
            ):
                shutil.rmtree(stale, ignore_errors=True)

    def start_processing_time(self, interval: str = "500 milliseconds"):
        """Start the continuous gate; returns the StreamingQuery (the
        caller owns stop())."""
        return (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
            .writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(self._sink)
            .trigger(processingTime=interval)
            .start()
        )

    def run_until_drained(
        self, *, timeout_s: float = 120.0, allow_buffered: bool = False
    ) -> None:
        """Drive the processingTime stream until it reports two
        consecutive IDLE ticks (no input rows), then stop — the e2e
        test loop. Idle-tick detection is restart-agnostic: a resumed
        checkpoint skips already-committed files, so counting in_dir
        entries would never converge after a restart. A production
        deployment would just leave start_processing_time() running.

        By default raises if buffered waves remain after the stream
        idles — "drained" must not silently mean "data is sitting in
        the buffer behind a gap that can no longer expire" (r12 review
        finding 5); pass ``allow_buffered=True`` for a deliberate
        mid-stream pause, or call :meth:`expire_stalled_gaps` to
        declare the gaps lost and flush."""
        import time

        q = self.start_processing_time()
        try:
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                rp = q.recentProgress
                if len(rp) >= 2 and all(
                    p.get("numInputRows", 1) == 0 for p in rp[-2:]
                ):
                    break
                time.sleep(0.3)
            else:
                raise TimeoutError(
                    f"continuous gate still processing after {timeout_s}s"
                )
        finally:
            q.stop()
            q.awaitTermination()
        cursor = self._load_cursor()["cursor"]
        stranded = sorted(
            set(self._buffered_waves()) | set(self._overflow_waves(cursor))
        )
        if stranded and not allow_buffered:
            raise RuntimeError(
                f"stream idled with waves {stranded} stranded (buffered or "
                f"buffer-full-quarantined) behind gap {cursor + 1}; redeliver "
                "the gap, or call expire_stalled_gaps() to declare it lost"
            )

    def run_rate_source(
        self,
        wave_of_event,
        data_of_wave,
        n_events: int,
        *,
        rows_per_second: int = 20,
        timeout_s: float = 120.0,
    ) -> None:
        """Drive the gate from a GENUINELY UNORDERED streaming source
        (r12 verdict item 4): Spark's ``rate`` source emits a monotone
        event sequence 0..n_events-1, and ``wave_of_event`` maps each
        event to the wave id it delivers — a shuffled permutation makes
        the ARRIVAL order truly out of order, with none of the file
        manifest's monotone naming to lean on. ``data_of_wave`` supplies
        the wave's rows (the event is the delivery notification; a
        production source would carry a payload pointer the same way).

        Unlike the file path's one-wave-per-micro-batch contract, a
        rate micro-batch can carry SEVERAL events at once — concurrent
        arrival — and they are processed in EVENT order (the rate
        ``value``), each through the same per-wave admission contract
        (:meth:`_ingest_wave`), exercising the buffered-reorder path
        under multi-wave batches. Events beyond ``n_events`` carry no
        wave; the stream stops once the HIGH-WATER event value reaches
        n_events - 1 — restart-safe, unlike a this-run event counter: a
        resumed checkpoint skips committed batches, so a counter could
        never reach n_events on a healthy re-run, while the monotone
        rate value proves every earlier event was processed either by a
        prior run (committed) or by this one (r13 review finding).
        Crash-replayed events redeliver their wave: late -> quarantined,
        buffered -> overwritten idempotently, like the file path."""
        import time

        seen = {"max": -1}

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            values = sorted(r.value for r in batch_df.select("value").collect())
            for v in values:
                if v >= n_events:
                    continue
                wid = int(wave_of_event(int(v)))
                self._ingest_wave(wid, data_of_wave(wid))
            if values:
                seen["max"] = max(seen["max"], int(values[-1]))

        q = (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(self.checkpoint, "rate"))
            .foreachBatch(sink)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if seen["max"] >= n_events - 1:
                    break
                time.sleep(0.3)
            else:
                raise TimeoutError(
                    f"rate-source gate high-water event {seen['max']} < "
                    f"{n_events - 1} after {timeout_s}s"
                )
        finally:
            q.stop()
            q.awaitTermination()
