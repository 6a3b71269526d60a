"""Incremental corpus curation: the reference's micro-batch philosophy
applied to the LLM-pipeline pillar.

The batch `corpus_pipeline` (plans/pipeline.py) recomputes the whole chain
per run — correct, but at 100 TB you cannot re-dedup the full corpus for
every new drop. The reference exists to demonstrate the alternative for
segmentation (`3-microBatch.test.ts:116-154`: persisted partial state +
per-batch work bounded by NEW data); this module is the same design for
corpus curation. Per ingested wave, the work is O(wave + state lookups):

- **paragraph-hash state** (`para_hashes/`): every paragraph md5 ever
  seen. A wave's paragraphs anti-join it (CCNet first-occurrence
  semantics across the whole ingest history), then dedup within the wave
  by the same groupBy(md5).agg(min(struct(id, pos, p))) partial-agg shape
  as the batch operator.
- **text-fingerprint state** (`text_fps/`): md5 of every nonempty
  normalized text ever seen — the streaming-exact-dedup accumulator
  (`streaming/stream_dedup.py` holds the same state inside a Spark state
  store; here it is an explicit parquet table the batch planner can
  prune).
- **LSH index state** (`exd_bands/` + `exd_shingles/`): the banded
  MinHash keys and shingle sets of every exact-dedup survivor —
  *exactly* the "write this to storage instead; it is the reusable
  index" note on `minhash_lsh_pairs`. New waves band-join against it, so
  candidate generation is new-vs-all, never all-vs-all.
- **fixed eval-gram set**: decontamination state. Incremental curation
  FORCES the honest eval contract the batch pipeline can only document:
  the benchmark suite must exist before ingestion (a fractional holdout
  of a corpus that hasn't fully arrived is unknowable), and retroactive
  revocation is impossible — an accepted doc stays accepted.

Semantics are **first-ACCEPTED-wins** (the ingest-gate contract of
`StreamingDeduper`), with one documented divergence from the batch
pipeline: a later *bridge* doc that is near-dup of two previously
accepted groups is simply rejected — it cannot retroactively merge the
groups or revoke their representatives, where a batch recompute would
merge them and keep only the global-min id. Near-dup decisions within a
wave use connected components with *anchor-drop*: a component any member
of which verifies (exact Jaccard >= threshold) against ANY prior
exact-dedup survivor is dropped whole — its docs are duplicates of
already-ingested content transitively.

Every per-wave step materializes to the state directory before the state
it read from is appended (the same write-then-advance discipline as the
micro-batch segmenter), so a crashed ingest can be re-run.

The registered query `corpus_curated_incremental` replays a two-wave
ingest (wave = doc_id parity — deterministic and scale-free) and is
VALUE-ORACLED: the DuckDB oracle replays the incremental semantics
themselves (min(wave)-owns-the-hash for both paragraph and text state,
per-wave components with cross-wave anchor-drop, fixed eval grams), not
the batch chain — so the first-accepted-wins contract is what the
correctness gate checks.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.components import connected_components
from ..operators.dedup import banded_minhash_keys, shingled_docs
from ..operators.exploding import select_exploded
from ..operators.text import normalize_text, quality_score, token_count
from ..sources import (
    compact_bucketed,
    heal_bucketed_from_pins,
    load_table,
    read_parquet,
    resolve_wave_counter,
    state_table_prefix,
    write_bucketed,
)
from .pipeline import _LINE_WS, _normalize, _shingles, _toks
from .registry import QuerySpec

_STATE_SCHEMAS = {
    # dedup state rows carry the wave id (_w) that appended them: every
    # lookup filters `_w < current wave`, so a crash-REPLAYED wave never
    # sees its own prior (partial) appends — the left_anti consumers
    # would otherwise drop the replayed wave's documents (r10 self-review
    # finding 2). Re-appended duplicate rows from a replay share the
    # same _w and are harmless to later waves (left_anti / distinct
    # consumers).
    "para_hashes": "_h string, _w int",
    "text_fps": "_fp string, _w int",
    "exd_bands": "_id long, band int, bucket long, _w int",
    "exd_shingles": "_id long, _sh array<bigint>, _w int",
    "curated": "doc_id long, lang string, text string, n_tokens int",
    "mix_counts": "lang string, _n long",
    "pack_seq": "shard int, _n long",
    "packed": (
        "doc_id long, wave int, epoch int, chunk_idx int, "
        "n_chunk_tokens int, shard int, seq_id int"
    ),
}

# The join-consumed dedup state lives in BUCKETED catalog tables keyed on
# exactly the column(s) each wave joins on: the per-wave anti-joins /
# band-join then read the bucketing metadata and skip the Exchange on the
# state side entirely — the wave shuffles (O(wave)), the history does NOT
# (it is scanned co-located, never reshuffled). Plain parquet appends here
# would reshuffle the FULL history every wave: O(corpus) shuffle bytes per
# wave at 100 TB, defeating the module's O(wave + state lookups) contract.
# This is the same pay-once physical design as the reference's
# `ORDER BY (user_id, ...)` clustering (1-naive.test.ts:19) and the
# engine's bucketed segmenter (sources/bucketed.py).
#
# Output tables (curated/, packed/) and the broadcast-sized counters
# (mix_counts O(#langs), pack_seq O(#shards)) stay plain appends: nothing
# ever joins large against them.
_STATE_BUCKET_KEYS: dict[str, tuple[str, ...]] = {
    "para_hashes": ("_h",),
    "text_fps": ("_fp",),
    "exd_bands": ("band", "bucket"),
    "exd_shingles": ("_id",),
}

# Builder defaults, shared with the DuckDB oracle SQL so the two cannot
# drift independently (round-8 ADVICE): the oracle formats these values in.
CHUNK_TOKENS = 128
STRIDE = 64
CAPACITY = 512
SHARDS = 8


class IncrementalCorpusCurator:
    """Stateful micro-batch corpus curation (module docstring).

    ``eval_grams``: DataFrame of xxhash64'd word 5-grams (column ``_g``)
    of the NORMALIZED benchmark texts — the fixed decontamination set,
    written into the state dir at construction."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        eval_grams: DataFrame,
        *,
        n: int = 3,
        k: int = 64,
        bands: int = 32,
        threshold: float = 0.8,
        contamination_n: int = 5,
        quality_min: float = 0.5,
        min_tokens: int = 10,
        max_tokens: int = 5000,
        state_buckets: int = 32,
    ):
        self.spark = spark
        self.workdir = workdir
        self.n, self.k, self.bands, self.threshold = n, k, bands, threshold
        self.contamination_n = contamination_n
        self.quality_min = quality_min
        self.min_tokens, self.max_tokens = min_tokens, max_tokens
        # bucket count must be sized so one bucket of the LARGEST state
        # table (para_hashes at corpus scale) fits an executor comfortably:
        # thousands at 100 TB. All waves of one curator must agree (the
        # bucketing spec is fixed at table creation).
        self.state_buckets = state_buckets
        # catalog tables need a per-curator namespace (shared mangle —
        # sources/bucketed.state_table_prefix has the rationale)
        self._tbl_prefix = state_table_prefix(workdir, "incstate")
        self._wave = 0
        os.makedirs(workdir, exist_ok=True)
        eval_path = os.path.join(workdir, "eval_grams")
        if not os.path.exists(eval_path):
            eval_grams.select("_g").distinct().write.parquet(eval_path)
        self.eval_grams = read_parquet(spark, eval_path)

    # -- state plumbing --------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _table(self, name: str) -> str:
        return f"{self._tbl_prefix}_{name}"

    def _heal_from_compact_pin(self, name: str, keys: tuple[str, ...]) -> None:
        """Crash-mid-compact recovery: compact()'s overwrite is not
        atomic, and a read that finds the table missing would silently
        see EMPTY dedup state (re-admitting the whole history's
        duplicates). Restore from the newest VALID pinned pre-compact
        copy in the workdir tmp dir (shared validity/recency rule —
        sources/bucketed.py); drop_dedup_state removes pins together with
        the tables, so deliberate drops cannot resurrect."""
        heal_bucketed_from_pins(
            self.spark,
            self._table(name),
            os.path.join(self.workdir, "tmp", f"w*_compact_{name}"),
            key=keys,
            buckets=self.state_buckets,
        )

    def _read(self, name: str, *, before_wave: int | None = None) -> DataFrame:
        keys = _STATE_BUCKET_KEYS.get(name)
        if keys is not None:
            self._heal_from_compact_pin(name, keys)
            if self.spark.catalog.tableExists(self._table(name)):
                df = self.spark.table(self._table(name))
            else:
                df = self.spark.createDataFrame([], _STATE_SCHEMAS[name])
            if before_wave is not None:
                # replay isolation: exclude rows the CURRENT wave may have
                # appended in a crashed earlier attempt (schema comment on
                # _STATE_SCHEMAS). A plain scan predicate — bucketing
                # co-location of the join is untouched.
                df = df.filter(F.col("_w") < before_wave)
            return df
        if before_wave is not None:
            raise ValueError(f"{name} is not wave-tagged state")
        p = self._path(name)
        if os.path.exists(p):
            return read_parquet(self.spark, p)
        return self.spark.createDataFrame([], _STATE_SCHEMAS[name])

    def _append(self, df: DataFrame, name: str, *, wave: int | None = None) -> None:
        keys = _STATE_BUCKET_KEYS.get(name)
        if keys is not None:
            if wave is None:
                raise ValueError(f"{name} appends must carry their wave id")
            df = df.withColumn("_w", F.lit(int(wave)))
            # align=True: one file per bucket per wave (not tasks×buckets);
            # compact() folds the per-wave files back to one per bucket
            write_bucketed(
                df,
                self._table(name),
                key=keys,
                buckets=self.state_buckets,
                mode="append",
                align=True,
            )
            # cross-session write visibility: when ingest runs inside a
            # foreachBatch sink (streaming/stream_curation.py), the append
            # executes through the micro-batch's cloned session and does
            # NOT invalidate THIS session's cached file listing for the
            # table — a later wave would read a stale state snapshot
            # (the 3-wave bug caught in the novelty gate tests).
            self.spark.catalog.refreshTable(self._table(name))
        else:
            df.write.mode("append").parquet(self._path(name))

    def compact(self) -> None:
        """Rewrite each bucketed state table to ONE sorted file per bucket.

        Appends accumulate one file per bucket per wave; over long ingest
        histories that degrades the state scan (many small files, and
        Spark only reports per-bucket sort order with a single file per
        bucket, so the co-located joins re-sort). Run between waves —
        after every N waves, or when per-bucket file counts hurt — ingest
        results are identical before/after (tests/test_incremental.py
        asserts this). Rewrites via a pinned copy in the workdir tmp dir:
        an overwrite whose plan scans the target table would be a
        read-your-writes hazard. Successful compaction prunes that
        table's pins (compact_bucketed)."""
        for name, keys in _STATE_BUCKET_KEYS.items():
            self._heal_from_compact_pin(name, keys)
            if not self.spark.catalog.tableExists(self._table(name)):
                continue
            compact_bucketed(
                self.spark,
                self.spark.table(self._table(name)),
                self._table(name),
                os.path.join(self.workdir, "tmp", f"w{self._wave}_compact_{name}"),
                os.path.join(self.workdir, "tmp", f"w*_compact_{name}"),
                key=keys,
                buckets=self.state_buckets,
            )

    def drop_dedup_state(self) -> None:
        """Free the (corpus-proportional) dedup state: the bucketed catalog
        tables, the per-wave pins, and the eval-gram set. The output
        tables (curated/, packed/) survive — callers hold lazy plans over
        them."""
        import shutil

        for name in _STATE_BUCKET_KEYS:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._table(name)}")
        for name in ("tmp", "eval_grams"):
            shutil.rmtree(os.path.join(self.workdir, name), ignore_errors=True)

    def _max_persisted_wave(self) -> int:
        """Highest COMPLETED wave in this workdir — the resume point for
        default numbering on re-attach (ingest's docstring). Completed =
        a curated/w<k> subdirectory with Spark's _SUCCESS commit marker:
        ingest writes curated/w<k> unconditionally at the END of the wave
        (even when zero docs are accepted), so its presence is the
        completion record. State-table max(_w) must NOT count (r10
        third-review finding 2): a wave that crashed after its state
        appends but before its curated write would resume PAST itself,
        and the re-fed batch would anti-join against its own partial
        appends — every document silently dropped. Resuming to the last
        curated wave instead makes the re-feed the crashed wave's number,
        which the `_w < wid` replay isolation handles.

        Guard: a curated-empty workdir whose state tables already hold
        rows means the workdir was wiped (or never written) while the
        catalog tables — keyed on the workdir PATH — survived. Default
        numbering would restart at 1 and wave 2+ lookups (`_w < 2`)
        would dedup against the orphaned history. That is never safe to
        guess through: raise, directing the caller to explicit wave_ids
        or drop_dedup_state()."""
        best = 0
        curated_base = self._path("curated")
        if os.path.isdir(curated_base):
            for d in os.listdir(curated_base):
                m = re.fullmatch(r"w(\d+)", d)
                if m and os.path.exists(os.path.join(curated_base, d, "_SUCCESS")):
                    best = max(best, int(m.group(1)))
        if best == 0:
            for name, keys in _STATE_BUCKET_KEYS.items():
                self._heal_from_compact_pin(name, keys)
                if (
                    self.spark.catalog.tableExists(self._table(name))
                    and self.spark.table(self._table(name)).first() is not None
                ):
                    raise RuntimeError(
                        f"workdir {self.workdir!r} has no completed curated "
                        f"wave but state table {self._table(name)!r} is "
                        "non-empty — a wiped workdir re-attached to orphaned "
                        "state, or a first wave that crashed mid-ingest. "
                        "Re-feed the crashed wave with an explicit wave_id, "
                        "or call drop_dedup_state() for a fresh start."
                    )
        return best

    def _materialize(self, df: DataFrame, name: str) -> DataFrame:
        """Write a per-wave intermediate and read it back: stages that
        consume state MUST be pinned to files before that state is
        appended, or lazy lineage would re-read the grown state."""
        p = os.path.join(self.workdir, "tmp", f"w{self._wave}_{name}")
        df.write.mode("overwrite").parquet(p)
        return read_parquet(self.spark, p)

    # -- ingest ----------------------------------------------------------

    def ingest(self, wave: DataFrame, *, wave_id: int | None = None) -> DataFrame:
        """Curate one wave of raw docs (doc_id, lang, text) against all
        prior state; returns the accepted rows (also written under
        ``curated/w<wave_id>``).

        ``wave_id`` (default: previous + 1) must be >= 1 and strictly
        increasing across waves; pass a restart-stable id (the streaming
        gate passes batch id + 1) to make a crash-REPLAYED wave idempotent — state
        lookups exclude rows tagged with the current wave id, and the
        wave's curated output overwrites its own subdirectory, so the
        replay reproduces the original result instead of dropping its
        documents against its own partial appends.

        Default numbering RESUMES from the last COMPLETED wave on
        re-attach (curated/w<k> completion markers — see
        _max_persisted_wave): the in-memory counter restarts at 0 per
        process, and without the probe a new process continuing an
        existing workdir would number its first wave 1 — excluding the
        ENTIRE history from every `_w < wid` lookup and overwriting
        curated/w1 (r10 second-review finding 2). A wave that crashed
        mid-ingest resumes AS ITSELF (its curated marker never landed),
        so the re-feed is replay-isolated rather than dropped against
        its own partial state appends (r10 third-review finding 2)."""
        wid = resolve_wave_counter(self._wave, wave_id, self._max_persisted_wave)
        self._wave = wid
        ws = "[ \\t\\x0B\\f\\r]+"
        paras = F.filter(
            F.transform(
                F.split(F.col("text"), "\n"),
                lambda p: F.regexp_replace(p, f"^{ws}|{ws}$", ""),
            ),
            lambda p: p != "",
        )
        exploded = wave.select(
            F.col("doc_id").alias("_id"), F.posexplode(paras).alias("_pos", "_p")
        ).withColumn("_h", F.md5("_p"))

        # 1. paragraph dedup: drop history-seen hashes, then within-wave
        # first occurrence (same partial-agg shape as dedup_paragraphs)
        fresh = exploded.join(self._read("para_hashes", before_wave=wid), "_h", "left_anti")
        kept_paras = (
            fresh.groupBy("_h")
            .agg(F.min(F.struct("_id", "_pos", "_p")).alias("_f"))
            .select(
                F.col("_f._id").alias("_id"),
                F.col("_f._pos").alias("_pos"),
                F.col("_f._p").alias("_p"),
            )
        )
        rebuilt = kept_paras.groupBy("_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_p"))),
                    lambda s: s["_p"],
                ),
                "\n",
            ).alias("_clean")
        )
        # 2-3. normalize, drop emptied docs, re-attach lang
        norm = (
            rebuilt.select(F.col("_id").alias("doc_id"), normalize_text("_clean").alias("text"))
            .filter(F.length("text") > 0)
            .join(wave.select("doc_id", "lang"), "doc_id")
        )
        norm = self._materialize(norm, "norm")
        # state advance AFTER the consumer is pinned; every paragraph of
        # the wave enters state (batch parity: rejected docs' boilerplate
        # still counts as seen). The delta is materialized FIRST — an
        # append whose plan also scans the target dir is a read-your-
        # writes hazard.
        new_h = self._materialize(
            exploded.select("_h").distinct().join(
                self._read("para_hashes", before_wave=wid), "_h", "left_anti"
            ),
            "new_para_hashes",
        )
        self._append(new_h, "para_hashes", wave=wid)

        # 4. exact dedup: history fps, then within-wave min id
        fp = norm.withColumn("_fp", F.md5("text"))
        fp_new = fp.join(self._read("text_fps", before_wave=wid), "_fp", "left_anti")
        exd_new = (
            fp_new.groupBy("_fp")
            .agg(F.min(F.struct("doc_id", "lang", "text")).alias("_f"))
            .select("_f.doc_id", "_f.lang", "_f.text")
        )
        exd_new = self._materialize(exd_new, "exd")
        new_fp = self._materialize(
            fp.select("_fp").distinct().join(
                self._read("text_fps", before_wave=wid), "_fp", "left_anti"
            ),
            "new_text_fps",
        )
        self._append(new_fp, "text_fps", wave=wid)

        # 5. near-dup: band-join the wave against the persisted LSH index
        # (new-vs-all candidates only), CC within the wave, anchor-drop
        sh_new = shingled_docs(exd_new, n=self.n).persist()
        # persist=False: the caller's own persist below is the barrier;
        # the operator-internal one would leak per wave (r11 review
        # finding 6 — this loop is long-lived).
        bands_new = banded_minhash_keys(
            sh_new, k=self.k, bands=self.bands, persist=False
        ).persist()
        old_bands = self._read("exd_bands", before_wave=wid)
        old_sh = self._read("exd_shingles", before_wave=wid)
        cand_old = (
            bands_new.alias("a")
            .join(
                old_bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket")),
            )
            .select(F.col("a._id").alias("_new"), F.col("b._id").alias("_old"))
            .distinct()
        )
        anchored = (
            cand_old.join(sh_new.select(F.col("_id").alias("_new"), F.col("_sh").alias("_sa")), "_new")
            .join(old_sh.select(F.col("_id").alias("_old"), F.col("_sh").alias("_sb")), "_old")
            .filter(
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb"))
                >= self.threshold
            )
            .select(F.col("_new").alias("node"))
            .distinct()
        )
        cand_new = (
            bands_new.alias("a")
            .join(
                bands_new.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .distinct()
        )
        pairs = (
            cand_new.join(sh_new.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sa")), "id_a")
            .join(sh_new.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sb")), "id_b")
            .filter(
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb"))
                >= self.threshold
            )
            .select("id_a", "id_b")
        )
        comps = connected_components(pairs)  # (node, component)
        anchored_comps = comps.join(anchored, "node").select("component").distinct()
        drops = (
            anchored.select(F.col("node").alias("doc_id"))
            .union(
                comps.join(anchored_comps, "component").select(
                    F.col("node").alias("doc_id")
                )
            )
            .union(
                comps.filter(F.col("node") != F.col("component")).select(
                    F.col("node").alias("doc_id")
                )
            )
            .distinct()
        )
        kept = exd_new.join(drops, "doc_id", "left_anti")
        kept = self._materialize(kept, "kept")
        self._append(bands_new, "exd_bands", wave=wid)
        self._append(sh_new.select("_id", "_sh"), "exd_shingles", wave=wid)
        sh_new.unpersist()
        bands_new.unpersist()

        # 6. decontamination vs the FIXED eval-gram state
        contaminated = (
            select_exploded(
                shingled_docs(kept, n=self.contamination_n),
                F.col("_id").alias("doc_id"),
                arr="_sh",
                alias="_g",
            )
            .join(self.eval_grams, "_g", "left_semi")
            .select("doc_id")
            .distinct()
        )
        clean = kept.join(contaminated, "doc_id", "left_anti")
        # 7. quality gate
        accepted = clean.filter(
            (quality_score("text") >= self.quality_min)
            & token_count("text").between(self.min_tokens, self.max_tokens)
        ).select(
            "doc_id", "lang", "text", token_count("text").cast("int").alias("n_tokens")
        )
        # the wave's curated output lives in its OWN subdirectory with
        # overwrite (replay-idempotent, unlike an append) and doubles as
        # the pinned materialization the old tmp copy provided; the
        # returned reader survives drop_dedup_state (curated/ is kept)
        out_path = os.path.join(self._path("curated"), f"w{wid}")
        accepted.write.mode("overwrite").parquet(out_path)
        return read_parquet(self.spark, out_path)

    def delete(self, docs: DataFrame) -> None:
        """Retract docs from the CURATED OUTPUT — the takedown
        obligation (r13 verdict item 1's protocol, applied to the
        pipeline's serving table): commit the ids as tombstones;
        curated() (and the builder's packed(), at whole-sequence
        granularity) excludes them from every read. Deliberately
        OUTPUT-ONLY: the dedup state here is content-keyed aggregates
        (paragraph-hash -> min wave, fingerprint sets, LSH bands)
        without per-doc attribution, so a deleted doc's CLAIMS cannot
        be safely released — a hash shared with a surviving doc must
        stay claimed, and the mapping isn't stored. That is also the
        correct takedown reading: content removed for licensing must
        not re-enter via a later re-ingest of identical text (the
        first-accepted-wins claim now acts as the tombstone the
        ReplacingMergeTree design uses). A pipeline that needs claims
        RELEASED re-curates from the filtered source — the documented
        rebuild boundary, same as the ANN index's."""
        from ..sources.bucketed import append_tombstones

        append_tombstones(docs.select("doc_id"), self.workdir)

    def _tombs(self) -> DataFrame | None:
        from ..sources.bucketed import read_tombstones

        return read_tombstones(self.spark, self.workdir, "doc_id long")

    def curated(self) -> DataFrame:
        base = self._path("curated")
        if not os.path.exists(base):
            return self.spark.createDataFrame([], _STATE_SCHEMAS["curated"])
        # per-wave subdirectories (see ingest's replay note)
        out = self.spark.read.option("recursiveFileLookup", "true").parquet(base)
        tombs = self._tombs()
        if tombs is not None:
            # takedown filter (see delete): broadcast anti-join, zero
            # plan nodes when nothing was deleted; re-select the
            # original order (USING joins move keys to the front)
            out = out.join(F.broadcast(tombs), "doc_id", "left_anti").select(
                *out.columns
            )
        return out


class IncrementalCorpusBuilder(IncrementalCorpusCurator):
    """Incremental curation extended through mixture -> chunk -> pack:
    every ingested wave appends PACKED TRAINING SEQUENCES, with the
    mixture and packing positions maintained as persisted
    partial-aggregate state (the reference's AggregatingMergeTree design,
    `3-microBatch.test.ts:23-29`, applied one stage deeper than
    :class:`IncrementalCorpusCurator`).

    Per-wave semantics, and the append-only contract they exist to keep:

    - **mixture = rate-at-acceptance.** Per-language rates for wave w are
      computed from the CUMULATIVE accepted counts through wave w
      (persisted ``mix_counts/`` counters + the wave's own docs) — the
      best estimate of corpus composition available at wave time. A doc's
      epoch copies (0..n_copies-1, the same content-hash draw as
      ``mix_corpus``) are emitted ONCE, in its acceptance wave, and never
      retro-adjusted as later waves shift the composition. This is the
      documented divergence from the batch pipeline (which mixes against
      FINAL composition) — the packed analog of the curator's
      bridge-doc divergence. (doc_id, epoch) stays unique corpus-wide
      because acceptance is first-wins.
    - **epoch renumbering: none, by construction.** Epochs are local to
      the doc (0..n_copies-1) and a doc is packed exactly once, so no
      cross-wave renumbering event exists to define.
    - **seq_id = per-shard monotone across waves.** Packing within a wave
      is the same greedy ``pack_chunks`` (capacity tokens, order
      (doc_id, epoch, chunk_idx), doc_id % shards); the persisted
      ``pack_seq/`` counters offset each wave's relative seq_ids so
      (shard, seq_id) is unique over the whole ingest history. Every
      wave CLOSES its final partial sequence — a sealed sequence is
      never reopened by a later wave (reopening would retroactively
      rewrite already-emitted training data). Cost: at most one
      under-filled sequence per shard per wave, the price of the
      append-only contract.

    Scale: the mixture state is O(#languages), the packing state
    O(#shards) — both broadcast-sized; per-wave work stays O(wave +
    state lookups) like the curator's."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        eval_grams: DataFrame,
        *,
        mix_weights: dict[str, float],
        chunk_tokens: int = CHUNK_TOKENS,
        stride: int = STRIDE,
        capacity: int = CAPACITY,
        shards: int = SHARDS,
        **kwargs,
    ):
        super().__init__(spark, workdir, eval_grams, **kwargs)
        if not mix_weights or sum(mix_weights.values()) <= 0:
            raise ValueError("mix_weights must be non-empty with positive sum")
        self.mix_weights = dict(mix_weights)
        self.chunk_tokens, self.stride = chunk_tokens, stride
        self.capacity, self.shards = capacity, shards

    def ingest(self, wave: DataFrame, *, wave_id: int | None = None) -> DataFrame:
        """NOTE: unlike the curator's dedup state, the builder's OWN
        counters (mix_counts, pack_seq) and packed output are plain
        appends — a crash-replayed wave would double-count them, so the
        builder keeps the batch crash contract (deterministic re-run
        from fresh state), not the gate's replay idempotence."""
        accepted = super().ingest(wave, wave_id=wave_id)
        self._pack_wave(accepted)
        return accepted

    def _pack_wave(self, accepted: DataFrame) -> None:
        from ..operators.packing import pack_chunks
        from ..operators.sampling import hash_draw
        from ..operators.text import chunk_documents

        F_ = F  # local alias keeps the expressions below compact
        # 1. cumulative per-language counts (state + this wave) -> rates.
        # Join-shaped, not collected: rates is O(#languages) rows and
        # rides a broadcast — the curator module bans driver collects.
        wave_counts = accepted.groupBy("lang").agg(F_.count(F_.lit(1)).alias("_n"))
        cum = (
            self._read("mix_counts")
            .unionByName(wave_counts)
            .groupBy("lang")
            .agg(F_.sum("_n").alias("_n"))
        )
        wsum = float(sum(self.mix_weights.values()))
        wdf = self.spark.createDataFrame(
            [(s, float(w)) for s, w in self.mix_weights.items()],
            "lang string, _wt double",
        )
        in_mix = cum.join(F_.broadcast(wdf), "lang")
        total = in_mix.agg(F_.sum("_n").cast("double").alias("_t"))
        rates = in_mix.crossJoin(F_.broadcast(total)).select(
            "lang",
            ((F_.col("_t") * F_.col("_wt") / F_.lit(wsum)) / F_.col("_n")).alias(
                "_rate"
            ),
        )
        # 2. epoch copies: floor(rate) full epochs + one more with
        # probability frac(rate), drawn on (doc_id, lang) — mix_corpus's
        # exact content-hash draw, with rate as a joined column
        frac = F_.col("_rate") - F_.floor("_rate")
        frac_hex = F_.lpad(
            F_.lower(F_.hex(F_.floor(frac * F_.lit(float(1 << 32))).cast("long"))),
            8,
            "0",
        )
        extra = F_.when(
            hash_draw(F_.concat_ws(":", F_.col("doc_id").cast("string"), F_.col("lang")))
            < frac_hex,
            1,
        ).otherwise(0)
        epochs = (
            accepted.join(F_.broadcast(rates), "lang")
            .withColumn("_nc", (F_.floor("_rate").cast("int") + extra))
            .filter(F_.col("_nc") >= 1)
            .select(
                "doc_id",
                # _nc is int, so the sequence elements (and the exploded
                # epoch) are already int — a cast around explode() would
                # wrap the generator and fail analysis
                F_.explode(F_.sequence(F_.lit(0), F_.col("_nc") - 1)).alias("epoch"),
            )
        )
        # 3. chunk once per doc, replicate per epoch with a thin join
        chunks = chunk_documents(
            accepted,
            text_col="text",
            id_col="doc_id",
            chunk_tokens=self.chunk_tokens,
            stride=self.stride,
        )
        echunks = chunks.join(epochs, "doc_id").select(
            "doc_id", "epoch", "chunk_idx", "n_chunk_tokens"
        )
        # 4. greedy pack within the wave, then shift by the persisted
        # per-shard sequence counters
        packed_rel = pack_chunks(
            echunks,
            capacity=self.capacity,
            key_col="doc_id",
            order_cols=("doc_id", "epoch", "chunk_idx"),
            shards=self.shards,
        )
        offs = self._read("pack_seq").groupBy("shard").agg(
            F_.sum("_n").alias("_off")
        )
        packed_abs = packed_rel.join(F_.broadcast(offs), "shard", "left").select(
            "doc_id",
            F_.lit(int(self._wave)).cast("int").alias("wave"),
            "epoch",
            "chunk_idx",
            "n_chunk_tokens",
            F_.col("shard").cast("int").alias("shard"),
            (F_.col("seq_id") + F_.coalesce("_off", F_.lit(0)))
            .cast("int")
            .alias("seq_id"),
        )
        # write-then-advance: pin everything that READ state before any
        # state dir is appended (the curator's crash discipline)
        packed_abs = self._materialize(packed_abs, "packed_abs")
        new_seqs = self._materialize(
            packed_rel.groupBy(F_.col("shard").cast("int").alias("shard")).agg(
                (F_.max("seq_id") + 1).cast("long").alias("_n")
            ),
            "new_pack_seq",
        )
        mix_delta = self._materialize(wave_counts, "new_mix_counts")
        # counters advance BEFORE the packed rows land (round-8 ADVICE): a
        # crash between the two then leaves a harmless seq-id gap / rate
        # skew on re-run, never a (shard, seq_id) collision that silently
        # aliases already-emitted training sequences
        self._append(new_seqs, "pack_seq")
        self._append(mix_delta, "mix_counts")
        self._append(packed_abs, "packed")

    def packed(self) -> DataFrame:
        """Packed training sequences, takedown-filtered at WHOLE-SEQUENCE
        granularity: a sequence containing any deleted doc's chunks is
        dropped entirely (a training sequence is the serving unit — a
        hole where removed content sat is not a valid sequence), the
        standard takedown treatment for packed corpora. One broadcast
        semi-join to find the affected (shard, seq_id) pairs, one
        anti-join to drop them; zero plan nodes with no deletions."""
        out = self._read("packed")
        tombs = self._tombs()
        if tombs is None:
            return out
        hit = (
            out.join(F.broadcast(tombs), "doc_id", "left_semi")
            .select("shard", "seq_id")
            .distinct()
        )
        # re-select the original order: the USING-style anti join moves
        # its keys to the front, and packed() is a sealed-schema surface
        return out.join(
            F.broadcast(hit), ["shard", "seq_id"], "left_anti"
        ).select(*out.columns)


def eval_grams_from_docs(
    eval_docs: DataFrame, *, n: int = 5, text_col: str = "text"
) -> DataFrame:
    """The fixed decontamination set: distinct xxhash64'd word n-grams of
    the NORMALIZED benchmark texts (normalization only — benchmark docs
    are external, they don't go through paragraph dedup)."""
    normed = eval_docs.select(
        F.col("doc_id"), normalize_text(text_col).alias("text")
    )
    return (
        select_exploded(shingled_docs(normed, n=n), arr="_sh", alias="_g")
        .distinct()
    )


def corpus_curated_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-wave incremental curation of the documents table: the
    hash-test split is the fixed benchmark suite, the train side arrives
    as two waves (doc_id parity), each curated against all prior state.
    Returns the curated corpus as (doc_id, lang, text_fp, n_tokens) —
    the md5 keeps the compared surface byte-exact without hashing whole
    documents through the driver.

    The result is a LAZY DataFrame over the ``curated/`` state table,
    which lives in the session-scoped scratch warehouse (atexit-cleaned,
    see :func:`session.scratch_dir`) — NEVER a ``.collect()`` of
    corpus-proportional rows through the driver (at 1B docs even thin
    (id, lang, md5, int) rows are tens of GB). Only the wave-state
    tables (LSH index, fingerprint sets, per-wave pins) are dropped
    eagerly once ingest completes."""
    from ..session import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < "19999999"
    evals = docs.filter(is_eval)
    feed = docs.filter(~is_eval).select("doc_id", "lang", "text")
    workdir = scratch_dir("inc-curator")
    cur = IncrementalCorpusCurator(spark, workdir, eval_grams_from_docs(evals))
    cur.ingest(feed.filter(F.col("doc_id") % 2 == 0))
    cur.ingest(feed.filter(F.col("doc_id") % 2 == 1))
    # the replay is one-shot: free the (corpus-sized) dedup state now;
    # curated/ stays on disk until the warehouse atexit cleanup so the
    # returned plan stays valid for the caller's whole session
    cur.drop_dedup_state()
    return cur.curated().select(
        "doc_id", "lang", F.md5("text").alias("text_fp"), "n_tokens"
    )


def corpus_curated_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated corpus's TAKEDOWN lane: the two-wave incremental
    curation of corpus_curated_incremental, then a tombstone retraction
    of every doc_id % 7 == 1 (IncrementalCorpusCurator.delete) — the
    curated() read excludes the retracted docs via one broadcast
    anti-join. Deliberately OUTPUT-ONLY semantics (see delete's
    docstring): the deleted docs' dedup claims persist — removed
    content must not re-enter via a later identical re-ingest — so the
    oracle is the incremental replay minus the retracted ids, exactly
    what a takedown obligation requires of the serving table."""
    from ..session import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < "19999999"
    evals = docs.filter(is_eval)
    feed = docs.filter(~is_eval).select("doc_id", "lang", "text")
    workdir = scratch_dir("inc-curator-deleted")
    cur = IncrementalCorpusCurator(spark, workdir, eval_grams_from_docs(evals))
    cur.ingest(feed.filter(F.col("doc_id") % 2 == 0))
    cur.ingest(feed.filter(F.col("doc_id") % 2 == 1))
    cur.delete(docs.filter(F.col("doc_id") % 7 == 1).select("doc_id"))
    cur.drop_dedup_state()
    return cur.curated().select(
        "doc_id", "lang", F.md5("text").alias("text_fp"), "n_tokens"
    )


_DEFAULT_WAVES: tuple[str, ...] = ("doc_id % 2 = 0", "doc_id % 2 = 1")


def _incremental_ctes(waves: tuple[str, ...] = _DEFAULT_WAVES) -> str:
    """DuckDB replay of the N-wave INCREMENTAL semantics (not the batch
    chain): min(wave) owns each paragraph hash and text fingerprint;
    near-dup components are per wave with cross-wave anchor-drop against
    every earlier exact-dedup survivor; eval grams are the fixed
    benchmark set (normalized test-split texts). Ends with the ``acc``
    CTE (wave-labelled accepted docs + token arrays) so the curated and
    packed finals replay the identical chain.

    ``waves`` is an ordered tuple of SQL predicates over the documents
    table; wave i+1 = the docs matching predicate i. The per-wave
    component/anchor CTEs are GENERATED over the predicate list, so one
    recurrence oracles any ingest schedule — the registered query is the
    two-wave default instance; tests replay >=4 uneven waves including an
    empty one against the same generator (cross-wave drift in pack_seq
    offsets or mix_counts cumulative rates cannot hide behind a
    wave-count-2 special case)."""
    wave_case = " ".join(f"WHEN {p} THEN {i + 1}" for i, p in enumerate(waves))
    any_wave = " OR ".join(f"({p})" for p in waves)
    per_wave = "".join(
        f"""-- wave {w}: components among wave-{w} exd docs; anchor-drop any
-- component with a verified pair into an EARLIER wave's exd survivor
anchors{w} AS (
  SELECT DISTINCT CASE WHEN wave_a = {w} THEN id_a ELSE id_b END AS doc_id
  FROM g_pairs
  WHERE (wave_a = {w} AND wave_b < {w}) OR (wave_b = {w} AND wave_a < {w})
),
e{w} AS (
  SELECT id_a AS u, id_b AS v FROM g_pairs WHERE wave_a = {w} AND wave_b = {w}
  UNION SELECT id_b, id_a FROM g_pairs WHERE wave_a = {w} AND wave_b = {w}
),
reach{w}(node, r) AS (
  SELECT doc_id, doc_id FROM exd WHERE wave = {w}
  UNION
  SELECT reach{w}.node, e.v FROM reach{w} JOIN e{w} e ON reach{w}.r = e.u
),
comp{w} AS MATERIALIZED (SELECT node, min(r) AS component FROM reach{w} GROUP BY node),
bad{w} AS (
  SELECT DISTINCT c.component FROM comp{w} c JOIN anchors{w} a ON c.node = a.doc_id
),
keep{w} AS (
  SELECT node AS doc_id FROM comp{w}
  WHERE node = component AND component NOT IN (SELECT component FROM bad{w})
),
"""
        for w in range(1, len(waves) + 1)
    )
    keep_union = " UNION ALL ".join(
        f"SELECT * FROM keep{w}" for w in range(1, len(waves) + 1)
    )
    q = r"""
WITH RECURSIVE
sp AS (
  SELECT *, substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999' AS is_eval
  FROM documents
),
feed AS (
  SELECT doc_id, lang, text, CASE {WAVE_CASE} END AS wave
  FROM sp WHERE NOT is_eval AND ({ANY_WAVE})
),
ev_tok AS (
  SELECT {TOKS_NORM_TEXT} AS t FROM sp WHERE is_eval
),
ev_grams AS (SELECT DISTINCT unnest({SH5_T}) AS g FROM ev_tok),
-- paragraph state: min(wave) owns the hash; first (id, pos) within it
p_tok AS (
  SELECT doc_id, wave,
         list_filter(
           list_transform(string_split(text, chr(10)),
                          x -> regexp_replace(x, '^{LINE_WS}+|{LINE_WS}+$', '', 'g')),
           x -> x != '') AS l
  FROM feed
),
p_paras AS (
  SELECT doc_id, wave, unnest(range(1, len(l) + 1)) - 1 AS pos, unnest(l) AS p
  FROM p_tok
),
p_kept AS MATERIALIZED (
  SELECT doc_id, pos, p FROM (
    SELECT doc_id, wave, pos, p,
           min(wave) OVER (PARTITION BY md5(p)) AS fw,
           row_number() OVER (PARTITION BY md5(p), wave ORDER BY doc_id, pos) AS rn
    FROM p_paras)
  WHERE wave = fw AND rn = 1
),
p_rebuilt AS MATERIALIZED (
  SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS clean_text
  FROM p_kept GROUP BY doc_id
),
nz AS MATERIALIZED (
  SELECT f.doc_id, f.wave, f.lang, {NORM_CLEAN} AS text
  FROM feed f JOIN p_rebuilt r USING (doc_id)
  WHERE {NORM_CLEAN} != ''
),
-- text-fp state: min(wave) owns the fingerprint; min id within it
exd AS MATERIALIZED (
  SELECT doc_id, wave, lang, text FROM (
    SELECT *, min(wave) OVER (PARTITION BY md5(text)) AS fw,
           row_number() OVER (PARTITION BY md5(text), wave ORDER BY doc_id) AS rn
    FROM nz)
  WHERE wave = fw AND rn = 1
),
-- near-dup: exact-Jaccard pair graph over all exd (the LSH index finds
-- exactly these pairs: banding recall is 1 at J >= 0.8 on this corpus)
g_sh AS MATERIALIZED (SELECT doc_id, wave, {SH3_TOKS} AS sh FROM exd),
g_post AS (SELECT doc_id, wave, len(sh) AS n, unnest(sh) AS g FROM g_sh),
g_pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, a.wave AS wave_a, b.doc_id AS id_b, b.wave AS wave_b
  FROM g_post a JOIN g_post b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4, a.n, b.n
  HAVING CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) >= 0.8
),
{PER_WAVE}kept AS MATERIALIZED (
  SELECT e.* FROM exd e JOIN ({KEEP_UNION}) k
  USING (doc_id)
),
-- decontamination vs the FIXED benchmark grams
c_sh AS (SELECT doc_id, {SH5_TOKS} AS sh FROM kept),
c_bad AS (
  SELECT DISTINCT p.doc_id
  FROM (SELECT doc_id, unnest(sh) AS g FROM c_sh) p
  JOIN ev_grams e ON p.g = e.g
),
clean AS (
  SELECT doc_id, wave, lang, text FROM kept
  WHERE doc_id NOT IN (SELECT doc_id FROM c_bad)
),
q AS (SELECT doc_id, wave, lang, text, {TOKS_TEXT} AS t FROM clean),
acc AS MATERIALIZED (
  SELECT doc_id, wave, lang, text, t, CAST(len(t) AS INT) AS n_tokens
  FROM q
  WHERE len(t) BETWEEN 10 AND 5000
    AND round((least(CAST(len(t) AS DOUBLE) / 50.0, 1.0)
         + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(text) - length(regexp_replace(text, '{PUNCT}', '', 'g')) AS DOUBLE)
                     / length(text) END) * 5, 1.0))
         + least((CASE WHEN len(t) = 0 THEN 0.0
                ELSE CAST(len(list_filter(t, x -> lower(x) IN
                       ('the','and','of','to','is','you','that','it'))) AS DOUBLE)
                     / len(t) END) * 4, 1.0)) / 3.0, 6) >= 0.5
)"""
    ws = r"[ \t\n\x0B\f\r]"
    return (
        q.replace("{WAVE_CASE}", wave_case)
        .replace("{ANY_WAVE}", any_wave)
        .replace("{PER_WAVE}", per_wave)
        .replace("{KEEP_UNION}", keep_union)
        .replace("{TOKS_NORM_TEXT}", _toks(_normalize("text")))
        .replace("{NORM_CLEAN}", _normalize("r.clean_text"))
        .replace("{SH5_T}", _shingles("t", 5))
        .replace("{SH3_TOKS}", _shingles(_toks("text"), 3))
        .replace("{SH5_TOKS}", _shingles(_toks("text"), 5))
        .replace("{TOKS_TEXT}", _toks("text"))
        .replace("{LINE_WS}", _LINE_WS)
        .replace("{PUNCT}", "[^\\w" + ws[1:])
    )


def _incremental_oracle(waves: tuple[str, ...] = _DEFAULT_WAVES) -> str:
    return _incremental_ctes(waves) + """
SELECT doc_id, lang, md5(text) AS text_fp, n_tokens FROM acc
"""


def corpus_packed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-wave incremental corpus BUILD (curation + mixture + chunk +
    pack, :class:`IncrementalCorpusBuilder`): same split/waves as
    `corpus_curated_incremental`, returning the appended packed training
    sequences (doc_id, wave, epoch, chunk_idx, n_chunk_tokens, shard,
    seq_id). Lazy over the ``packed/`` state table in the session
    scratch warehouse — same no-driver-collect contract as the curated
    wrapper."""
    import shutil

    from ..session import scratch_dir
    from .llm import _MIX_WEIGHTS

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < "19999999"
    evals = docs.filter(is_eval)
    feed = docs.filter(~is_eval).select("doc_id", "lang", "text")
    workdir = scratch_dir("inc-builder")
    bld = IncrementalCorpusBuilder(
        spark, workdir, eval_grams_from_docs(evals), mix_weights=_MIX_WEIGHTS
    )
    bld.ingest(feed.filter(F.col("doc_id") % 2 == 0))
    bld.ingest(feed.filter(F.col("doc_id") % 2 == 1))
    bld.drop_dedup_state()
    for name in ("curated", "mix_counts", "pack_seq"):
        shutil.rmtree(os.path.join(workdir, name), ignore_errors=True)
    return bld.packed()


def _packed_incremental_oracle(waves: tuple[str, ...] = _DEFAULT_WAVES) -> str:
    """The packed final: per-wave mixture at CUMULATIVE rates, chunking,
    and per-(wave, shard) greedy packing with cross-wave seq offsets —
    the DuckDB recurrence replaying IncrementalCorpusBuilder's
    rate-at-acceptance + sealed-sequence contract. The post-``acc`` CTEs
    are wave-generic (cum/tot/irates aggregate ``a.wave <= w.wave``;
    ioffs sums earlier waves' seq counts), so the N-wave generalization
    rides ``_incremental_ctes(waves)`` unchanged."""
    from .llm import _MIX_WEIGHTS

    mix_values = ",\n".join(f"  ('{s}', {w!r})" for s, w in _MIX_WEIGHTS.items())
    wsum = repr(sum(_MIX_WEIGHTS.values()))
    return _incremental_ctes(waves) + f""",
mw(s, wt) AS (VALUES
{mix_values}
),
-- cumulative per-language counts THROUGH each wave (the mix_counts state)
cum AS (
  SELECT w.wave, a.lang, count(*) AS n
  FROM (SELECT DISTINCT wave FROM acc) w
  JOIN acc a ON a.wave <= w.wave
  GROUP BY 1, 2
),
tot AS (
  SELECT c.wave, CAST(sum(c.n) AS DOUBLE) AS t
  FROM cum c JOIN mw ON c.lang = mw.s GROUP BY 1
),
irates AS (
  SELECT c.wave, c.lang, (tot.t * mw.wt / {wsum}) / c.n AS rate
  FROM cum c JOIN mw ON c.lang = mw.s JOIN tot ON tot.wave = c.wave
),
m_exp AS (
  SELECT a.doc_id, a.wave, a.t,
         CAST(floor(r.rate) AS INT)
         + CASE WHEN substring(md5(CAST(a.doc_id AS VARCHAR) || ':' || a.lang), 1, 8)
                     < lpad(lower(hex(CAST(floor((r.rate - floor(r.rate)) * 4294967296.0) AS BIGINT))), 8, '0')
                THEN 1 ELSE 0 END AS n_copies
  FROM acc a JOIN irates r ON r.wave = a.wave AND r.lang = a.lang
),
iepochs AS MATERIALIZED (
  SELECT doc_id, wave, CAST(unnest(range(0, n_copies)) AS INT) AS epoch
  FROM m_exp WHERE n_copies >= 1
),
ichunks AS (
  SELECT doc_id, wave, CAST(s // {STRIDE} AS INTEGER) AS chunk_idx,
         CAST(len(t[s + 1 : s + {CHUNK_TOKENS}]) AS INTEGER) AS n_chunk_tokens
  FROM (SELECT doc_id, wave, t, unnest(range(0, len(t), {STRIDE})) AS s
        FROM acc WHERE len(t) > 0)
),
iechunks AS (
  SELECT c.doc_id, c.wave, e.epoch, c.chunk_idx, c.n_chunk_tokens,
         CAST(c.doc_id % {SHARDS} AS INTEGER) AS shard
  FROM ichunks c JOIN iepochs e ON c.doc_id = e.doc_id AND c.wave = e.wave
),
iord AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY wave, shard
                               ORDER BY doc_id, epoch, chunk_idx) AS rn
  FROM iechunks
),
ipack(wave, shard, rn, doc_id, epoch, chunk_idx, n_chunk_tokens, seq, fill) AS (
  SELECT wave, shard, rn, doc_id, epoch, chunk_idx, n_chunk_tokens, 0, n_chunk_tokens
  FROM iord WHERE rn = 1
  UNION ALL
  SELECT c.wave, c.shard, c.rn, c.doc_id, c.epoch, c.chunk_idx, c.n_chunk_tokens,
         CASE WHEN p.fill + c.n_chunk_tokens > {CAPACITY}
              THEN p.seq + 1 ELSE p.seq END,
         CASE WHEN p.fill + c.n_chunk_tokens > {CAPACITY}
              THEN c.n_chunk_tokens ELSE p.fill + c.n_chunk_tokens END
  FROM ipack p JOIN iord c ON c.wave = p.wave AND c.shard = p.shard AND c.rn = p.rn + 1
),
wseq AS (SELECT wave, shard, max(seq) + 1 AS n_seqs FROM ipack GROUP BY 1, 2),
ioffs AS (
  SELECT d.wave, d.shard,
         coalesce((SELECT sum(w2.n_seqs) FROM wseq w2
                   WHERE w2.shard = d.shard AND w2.wave < d.wave), 0) AS off
  FROM (SELECT DISTINCT wave, shard FROM ipack) d
)
SELECT p.doc_id, CAST(p.wave AS INT) AS wave, p.epoch, p.chunk_idx,
       p.n_chunk_tokens, p.shard, CAST(p.seq + o.off AS INT) AS seq_id
FROM ipack p JOIN ioffs o ON o.wave = p.wave AND o.shard = p.shard
"""


def corpus_curated_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE incremental curation pipeline (paragraph dedup ->
    normalize -> exact dedup -> LSH near-dup vs persisted index ->
    decontaminate -> quality gate) run as a Structured Streaming ingest
    gate: foreachBatch drives IncrementalCorpusCurator over a
    checkpointed file stream (streaming/stream_curation.py), one
    parity-wave file per micro-batch — the SAME wave schedule as
    corpus_curated_incremental, whose oracle this SHARES (the oracle
    replays the incremental semantics over the ordered wave predicates,
    and micro-batch order preserves file order under
    maxFilesPerTrigger=1). Completes the batch/incremental/streaming
    triangle for the flagship pipeline itself. Per-batch results are
    pinned by the gate (restart-stable batch ids), so the corpus-sized
    dedup state can be dropped before returning.

    Replay: the gate passes its restart-stable batch id as the curator's
    wave id, and the curator's state rows are wave-tagged with lookups
    excluding the current wave — a crash-replayed batch reproduces its
    original output instead of dropping its documents against its own
    partial appends (see streaming/stream_curation.py's
    replay-idempotence note; tested via a direct double-ingest)."""
    from ..session import scratch_dir
    from ..streaming.stream_curation import StreamingWaveGate

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < "19999999"
    evals = docs.filter(is_eval)
    feed = docs.filter(~is_eval).select("doc_id", "lang", "text")
    workdir = scratch_dir("stream-curator")
    cur = IncrementalCorpusCurator(
        spark, os.path.join(workdir, "state"), eval_grams_from_docs(evals)
    )
    gate = StreamingWaveGate(spark, workdir, schema=feed.schema, ingestor=cur)
    for pred in (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1):
        feed.filter(pred).coalesce(1).write.mode("append").parquet(gate.in_dir)
        gate.run_available_now()
    out = gate.results()
    # results/batch_* are materialized independently of the state dirs,
    # so the corpus-sized dedup state frees eagerly (the
    # corpus_curated_incremental pattern)
    cur.drop_dedup_state()
    return out.select(
        "doc_id", "lang", F.md5("text").alias("text_fp"), "n_tokens"
    )


QUERIES = [
    QuerySpec(
        "corpus_curated_incremental", corpus_curated_incremental, _incremental_oracle()
    ),
    QuerySpec(
        "corpus_curated_deleted",
        corpus_curated_deleted,
        _incremental_ctes()
        + """
SELECT doc_id, lang, md5(text) AS text_fp, n_tokens FROM acc
WHERE doc_id % 7 != 1
""",
    ),
    QuerySpec(
        "corpus_packed_incremental",
        corpus_packed_incremental,
        _packed_incremental_oracle(),
    ),
    QuerySpec(
        "corpus_curated_streaming", corpus_curated_streaming, _incremental_oracle()
    ),
]
