"""Corpus-curation queries beyond pairwise dedup: novelty scoring,
per-source token quotas, deterministic training-order shuffle, semantic
(embedding-space) dedup, and temperature-based language rebalancing.

This is the "assemble the training mix" stage of an LLM data pipeline —
after cleaning/dedup (operators.dedup / operators.text) and before
chunk/pack (operators.packing): score what's genuinely new
(ngram_novelty), cap any one source's contribution (quota_by_group),
drop semantic near-dups that lexical dedup can't see (semantic_dedup),
rebalance the language mix (temperature_weights -> mix_corpus), and emit
a reproducible shuffled read order for the dataloader
(deterministic_shuffle). Novelty, quota, and semantic dedup each run in
ALL THREE modes — batch, incremental (bucketed wave-state twins
IncrementalNoveltyScorer / IncrementalSemanticDeduper, the
plans/incremental.py physical design), and Structured Streaming ingest
gate (streaming/stream_quota.py for quota's O(#sources) stateful gate;
streaming/stream_curation.py's foreachBatch wave gate for novelty and
semantic dedup) — every mode sharing its batch query's oracle.

Reference parity: the reference engine (dittofeed/clickhouse-segments-
tutorial) has no LLM-pipeline surface; this module extends the engine
per the driver's training-data-pipeline mandate. Oracle conventions
follow plans/registry.py's module docstring (md5 keys, round-6 floats,
integer-exact windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.corpus_stats import ngram_novelty
from ..operators.sampling import deterministic_shuffle, quota_by_group
from ..operators.similarity import semantic_dedup
from ..operators.text import chunk_documents, token_count
from ..sources.catalog import load_table, read_parquet
from .llm import (
    _COS_PAIRS_LSH_ORACLE,
    _JACCARD_ORACLE,
    MH_BANDS,
    MH_K,
    MH_SHINGLE_N,
    MH_THRESHOLD,
    SEM_NEAR_DUP_THRESHOLD,
    SEM_SRP_MAX_HAMMING,
    SEM_SRP_PLANES,
)
from .registry import QuerySpec

# Shared tokenizer CTE — identical to plans/llm.py's convention (explicit
# whitespace class; see operators.text.normalize_text for why not \\s).
_TOKENS_CTE = """
base AS (
  SELECT doc_id, source,
         CASE WHEN regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g') = ''
              THEN []::VARCHAR[]
              ELSE string_split_regex(
                     regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')
         END AS t
  FROM documents
)
"""


def novelty_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct 3-gram shingles first seen in that doc
    (first-seen attributed to the lowest doc_id). The 'is this content
    new' curation signal — catches recombined boilerplate that pairwise
    near-dup misses."""
    return ngram_novelty(load_table(spark, sf_dir, "documents"), n=3)


def _max_completed_wave_dir(workdir: str) -> int:
    """Highest wave number among this workdir's COMPLETED wave_<k>
    result directories (completed = carries Spark's _SUCCESS job-commit
    marker; a crash mid-result-write leaves the dir without one and the
    wave must be re-fed, not skipped past). Shared resume probe for the
    wave-state classes' default numbering on re-attach."""
    import glob
    import os
    import re

    best = 0
    for p in glob.glob(os.path.join(workdir, "wave_*")):
        m = re.fullmatch(r"wave_(\d+)", os.path.basename(p))
        if m and os.path.exists(os.path.join(p, "_SUCCESS")):
            best = max(best, int(m.group(1)))
    return best


class IncrementalNoveltyScorer:
    """Wave-state twin of :func:`operators.corpus_stats.ngram_novelty` —
    the micro-batch philosophy (reference variants 3/4) applied to
    novelty scoring: per-wave work is O(wave grams + state lookups), not
    O(corpus).

    State = ONE table mapping gram md5 -> first-seen doc_id, persisted
    BUCKETED on the gram key (sources/bucketed.py) so each wave's
    first-seen join reads the history co-located — zero Exchange above
    the state scan, the same physical design as the incremental curator's
    dedup state (r8 verdict item 1). Appends are align=True (one file per
    bucket per wave); run :meth:`compact` between waves when per-bucket
    file counts grow.

    Wave contract (shared with plans/incremental.py): waves arrive in
    ascending doc_id order (every doc_id in wave k+1 exceeds every doc_id
    in wave k). Under that contract the union of per-wave outputs is
    byte-identical to the batch operator over the concatenated corpus —
    historical first-seen always beats the wave's (smaller doc_id), and
    within a wave min(doc_id) attribution is the batch rule — so the
    registered incremental query SHARES the batch oracle. Crash
    re-runnability: the wave result is pinned to the workdir BEFORE the
    state append (re-running a wave re-reads inputs, recomputes, and
    re-appends; gram re-appends are harmless duplicates resolved by the
    min() in _state)."""

    def __init__(self, spark: SparkSession, workdir: str, *, n: int = 3,
                 state_buckets: int = 32):
        import os

        from ..sources.bucketed import state_table_prefix

        self.spark, self.workdir, self.n = spark, workdir, n
        self.state_buckets = state_buckets
        self._tbl = state_table_prefix(workdir, "novstate") + "_grams"
        self._wave = 0
        os.makedirs(workdir, exist_ok=True)

    def _heal_from_compact_pin(self) -> None:
        """compact()'s table overwrite is not atomic: a crash mid-rewrite
        can leave the catalog table missing while the pinned pre-compact
        copy survives under workdir tmp (r10 second-review finding 3).
        Restore from the newest VALID pin (shared recency/validity rule —
        sources/bucketed.py) before any read that would otherwise
        silently see empty state. reset()/drop_state clear the pins, so
        a healed table can never resurrect deliberately dropped state."""
        import os

        from ..sources.bucketed import heal_bucketed_from_pins

        heal_bucketed_from_pins(
            self.spark,
            self._tbl,
            os.path.join(self.workdir, "tmp", "compact_w*"),
            key="_g",
            buckets=self.state_buckets,
        )

    def _tombs(self) -> DataFrame | None:
        """Distinct RETRACTED doc ids (committed by :meth:`delete`), or
        None when nothing was deleted (the common case pays zero plan
        nodes). Schema-pinned read: an empty or crash-interrupted
        tombstone append reads as zero rows, never a schema-inference
        failure (sources.bucketed.read_tombstones)."""
        from ..sources.bucketed import read_tombstones

        return read_tombstones(self.spark, self.workdir, "doc_id long")

    def _state(self) -> DataFrame:
        self._heal_from_compact_pin()
        if self.spark.catalog.tableExists(self._tbl):
            rows = self.spark.table(self._tbl)
            tombs = self._tombs()
            if tombs is not None:
                # retraction filter BEFORE the min fold: a gram whose
                # recorded owner was deleted must vanish from state (so
                # the next wave that re-sees it becomes its new first),
                # and a post-delete re-append must not be shadowed by
                # the tombstoned older row's smaller doc_id. Broadcast
                # anti-join above the bucketed scan: the streamed side
                # keeps its bucketing, so downstream joins stay
                # Exchange-free on the state side.
                rows = rows.join(
                    F.broadcast(tombs.withColumnRenamed("doc_id", "_first")),
                    "_first",
                    "left_anti",
                )
            # min() collapses the (harmless) duplicate appends a crashed
            # wave re-run leaves; first-seen is min by construction anyway
            return rows.groupBy("_g").agg(F.min("_first").alias("_first"))
        return self.spark.createDataFrame([], "_g string, _first long")

    def delete(self, docs: DataFrame) -> None:
        """Retract previously ingested documents from the gram state —
        the takedown lane (r13 verdict item 1), the same
        logical-tombstone-then-compact-reap protocol as the ANN index
        (operators/ann_index.py): commit the doc ids to a tombstone
        directory; every state read drops grams OWNED by a deleted doc
        (first-seen transfers forward to the next wave that re-sees the
        gram — the documented approximation: intermediate sightings by
        surviving docs are not recorded in state, so ownership cannot be
        reassigned retroactively without a corpus re-scan); compact()
        physically reaps the rows. Already-emitted wave results are
        per-wave historical facts — the caller retracts the deleted
        docs' OUTPUT rows (an anti-join on its curated table), exactly
        like ReplacingMergeTree supersedence retracts served rows.
        Retried deletes are idempotent (tombstones are a set). Scale:
        takedown-size id lists (KB–MB), broadcast into the state reads."""
        from ..sources.bucketed import append_tombstones

        append_tombstones(docs.select("doc_id"), self.workdir)

    def _max_persisted_wave(self) -> int:
        """Highest COMPLETED wave recorded in this workdir (wave_<k>
        result dirs carrying a _SUCCESS commit marker) — the resume point
        for default numbering on re-attach. The in-memory counter
        restarts at 0 per process; without the probe a new process
        continuing an existing workdir would number its first wave 1,
        overwriting wave_1's historical result (r10 third-review
        finding 1). Gram STATE is order-safe either way (duplicate
        appends collapse under the min() read); re-feed a crashed wave
        with its explicit wave_id, as the streaming gate does."""
        return _max_completed_wave_dir(self.workdir)

    def ingest(self, docs: DataFrame, *, wave_id: int | None = None) -> DataFrame:
        """Score one wave; returns (doc_id, n_grams, n_novel, novelty) for
        the wave's non-empty docs, pinned to the workdir (lazy reader).
        ``wave_id`` (default previous+1, resuming from persisted wave
        results on re-attach — see _max_persisted_wave): a restart-stable
        id makes the wave-result path stable across gate replays; the
        gram state itself is replay-safe regardless (duplicate appends
        collapse under the min() read)."""
        import os

        from ..operators.corpus_stats import doc_gram_keys, novelty_from_firsts
        from ..sources.bucketed import resolve_wave_counter, write_bucketed

        self._wave = resolve_wave_counter(
            self._wave, wave_id, self._max_persisted_wave
        )
        sh = doc_gram_keys(docs, n=self.n)
        first_in_wave = sh.groupBy("_g").agg(F.min("doc_id").alias("_wf"))
        state = self._state()
        # bucketed state side: co-located, zero Exchange above its scan
        firsts = first_in_wave.join(state, "_g", "left").select(
            "_g",
            F.col("_wf"),
            F.coalesce("_first", "_wf").alias("_first"),
        )
        out = novelty_from_firsts(sh, firsts)
        # pin the wave result BEFORE touching state (read-your-writes:
        # a lazy plan over spark.table would see the post-append rows)
        res_path = os.path.join(self.workdir, f"wave_{self._wave}")
        out.write.mode("overwrite").parquet(res_path)
        new_grams = first_in_wave.join(state, "_g", "left_anti").select(
            "_g", F.col("_wf").alias("_first")
        )
        write_bucketed(
            new_grams,
            self._tbl,
            key="_g",
            buckets=self.state_buckets,
            mode="append" if self.spark.catalog.tableExists(self._tbl) else "overwrite",
            align=True,
        )
        # invalidate THIS session's cached file listing for the state
        # table: under foreachBatch the append executes through the
        # micro-batch's cloned session, which does not invalidate the
        # outer session's table-relation cache — without the refresh,
        # wave k+2 reads wave k's file list and misses wave k+1's grams
        # (caught by the 3-wave streaming gate test).
        self.spark.catalog.refreshTable(self._tbl)
        return read_parquet(self.spark, res_path)

    def compact(self) -> None:
        """Fold the per-wave appended files back to ONE sorted file per
        bucket (the IncrementalCorpusCurator.compact contract): long
        ingest histories otherwise degrade the state scan, and Spark
        only reports per-bucket sort order with a single file per
        bucket. Run between waves; ingest results are identical
        before/after (tested). Also collapses any duplicate gram rows a
        crashed re-run appended (the min() _state reads through) and
        physically REAPS tombstoned grams (_state is already the
        retraction-filtered view; the tombstone dir is cleared after the
        fold commits — a crash in between just leaves a no-op filter).
        Successful compaction prunes ALL pins (compact_bucketed)."""
        import os

        from ..sources.bucketed import clear_tombstones, compact_bucketed

        self._heal_from_compact_pin()
        if not self.spark.catalog.tableExists(self._tbl):
            return
        compact_bucketed(
            self.spark,
            self._state(),
            self._tbl,
            os.path.join(self.workdir, "tmp", f"compact_w{self._wave}"),
            os.path.join(self.workdir, "tmp", "compact_w*"),
            key="_g",
            buckets=self.state_buckets,
        )
        clear_tombstones(self.workdir)

    def reset(self) -> None:
        """Fresh start on a reused workdir: drop the catalog state table
        (it outlives a wiped workdir — the bucketing spec lives in the
        scratch warehouse, not under workdir), remove compact pins (a
        surviving pin would let _heal_from_compact_pin resurrect the
        dropped state), and rewind the wave counter. The registered
        query calls this because its scratch helper wipes the DIRECTORY
        between invocations but cannot see the table."""
        import os
        import shutil

        from ..sources.bucketed import clear_tombstones

        self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl}")
        shutil.rmtree(os.path.join(self.workdir, "tmp"), ignore_errors=True)
        clear_tombstones(self.workdir)
        self._wave = 0

    def drop_state(self) -> None:
        import shutil

        self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl}")
        shutil.rmtree(self.workdir, ignore_errors=True)


def novelty_ngram_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The novelty scorer run INCREMENTALLY over two doc_id-ordered waves
    with bucketed gram-state between them (IncrementalNoveltyScorer);
    the union of wave outputs is byte-identical to the batch operator, so
    this SHARES novelty_ngram_docs' oracle — the driver value-checks the
    wave path against the batch semantics."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    scorer = IncrementalNoveltyScorer(spark, _stream_scratch("novelty_incremental"))
    scorer.reset()
    out1 = scorer.ingest(docs.filter(F.col("doc_id") < mid))
    out2 = scorer.ingest(docs.filter(F.col("doc_id") >= mid))
    return out1.unionByName(out2)


def novelty_ngram_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The novelty gram-state's DELETION lane (r13 verdict item 1):
    ingest wave 1 (doc_id < count/2), tombstone-retract every wave-1 doc
    with doc_id % 5 == 2 (IncrementalNoveltyScorer.delete — grams OWNED
    by a deleted doc leave the state, so first-seen transfers forward to
    the next wave that re-sees them), then ingest wave 2. Wave-1 scores
    stay historical (computed before the delete); the deleted docs' own
    output rows are retracted by the caller's anti-join. The oracle
    replays exactly that: wave-1 novelty against all wave-1 firsts,
    minus the deleted docs; wave-2 novelty against the PRUNED state
    (first-seen entries owned by deleted docs removed) coalesced with
    within-wave firsts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.count() // 2
    scorer = IncrementalNoveltyScorer(spark, _stream_scratch("novelty_deleted"))
    scorer.reset()
    out1 = scorer.ingest(docs.filter(F.col("doc_id") < mid))
    deleted = docs.filter(
        (F.col("doc_id") % 5 == 2) & (F.col("doc_id") < mid)
    ).select("doc_id")
    scorer.delete(deleted)
    out2 = scorer.ingest(docs.filter(F.col("doc_id") >= mid))
    return out1.join(deleted, "doc_id", "left_anti").unionByName(out2)


_NOVELTY_DELETED_ORACLE = f"""
WITH {_TOKENS_CTE},
sh AS (
  SELECT DISTINCT doc_id, md5(g) AS g FROM (
    SELECT doc_id,
           unnest(
             CASE WHEN len(t) = 0 THEN []::VARCHAR[]
                  WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
             END
           ) AS g
    FROM base)
),
k AS (SELECT count(*) // 2 AS mid FROM documents),
del AS (
  SELECT doc_id FROM documents, k WHERE doc_id % 5 = 2 AND doc_id < mid
),
f1 AS (
  SELECT g, min(doc_id) AS first FROM sh, k WHERE doc_id < mid GROUP BY g
),
-- the post-delete state: first-seen entries OWNED by a deleted doc are
-- gone (ownership transfers forward; sightings by surviving docs are
-- not recorded in state, the documented approximation)
state AS (
  SELECT g, first FROM f1 WHERE first NOT IN (SELECT doc_id FROM del)
),
f2 AS (
  SELECT g, min(doc_id) AS wf FROM sh, k WHERE doc_id >= mid GROUP BY g
),
eff AS (
  SELECT f2.g, coalesce(state.first, f2.wf) AS first
  FROM f2 LEFT JOIN state USING (g)
)
SELECT s.doc_id,
       CAST(count(*) AS INTEGER) AS n_grams,
       CAST(sum(CASE WHEN f.first = s.doc_id THEN 1 ELSE 0 END) AS INTEGER) AS n_novel,
       round(CAST(sum(CASE WHEN f.first = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh s JOIN f1 f USING (g), k
WHERE s.doc_id < k.mid AND s.doc_id NOT IN (SELECT doc_id FROM del)
GROUP BY s.doc_id
UNION ALL
SELECT s.doc_id,
       CAST(count(*) AS INTEGER) AS n_grams,
       CAST(sum(CASE WHEN f.first = s.doc_id THEN 1 ELSE 0 END) AS INTEGER) AS n_novel,
       round(CAST(sum(CASE WHEN f.first = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh s JOIN eff f USING (g), k
WHERE s.doc_id >= k.mid
GROUP BY s.doc_id
"""


def novelty_ngram_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The novelty scorer run as an ACTUAL Structured Streaming ingest
    gate (streaming/stream_curation.py): a file stream drained by
    foreachBatch into IncrementalNoveltyScorer, one wave file per
    micro-batch, bucketed gram-state carrying across checkpointed runs.
    Batch boundaries follow the ascending-doc_id wave contract, so the
    union of per-batch outputs is byte-identical to the batch operator
    — this SHARES novelty_ngram_docs' oracle (the
    source_quota_streaming pattern)."""
    from ..streaming.stream_curation import StreamingWaveGate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    workdir = _stream_scratch("novelty_streaming")
    gate = StreamingWaveGate(
        spark,
        workdir,
        schema=docs.schema,
        ingestor=IncrementalNoveltyScorer(spark, f"{workdir}/state"),
    )
    gate.reset_state()
    # one file per wave (cross-batch contract), one run per wave — the
    # quota-gate harness shape; a single run over both files with
    # maxFilesPerTrigger=1 is equivalent and restart-tested in pytest
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    return gate.results()


_NOVELTY_ORACLE = f"""
WITH {_TOKENS_CTE},
sh AS (
  SELECT DISTINCT doc_id, md5(g) AS g FROM (
    SELECT doc_id,
           unnest(
             CASE WHEN len(t) = 0 THEN []::VARCHAR[]
                  WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
             END
           ) AS g
    FROM base)
),
first_seen AS (SELECT g, min(doc_id) AS first FROM sh GROUP BY g)
SELECT s.doc_id,
       CAST(count(*) AS INTEGER) AS n_grams,
       CAST(sum(CASE WHEN f.first = s.doc_id THEN 1 ELSE 0 END) AS INTEGER) AS n_novel,
       round(CAST(sum(CASE WHEN f.first = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh s JOIN first_seen f USING (g)
GROUP BY s.doc_id
"""


# 800 tokens keeps roughly the first half of every source at any SF (the
# generator emits ~1.4k tokens per source at every scale) — a real cut,
# not a no-op, in both the sf0.001 pytest oracle and the sf0.01 driver run.
_QUOTA_TOKENS = 800


def source_quota_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget: each source keeps its doc_id-ordered prefix
    up to 800 tokens (inclusive boundary) — the per-domain contribution
    cap of a web-corpus mixture."""
    docs = load_table(spark, sf_dir, "documents")
    return quota_by_group(
        docs.select("source", "doc_id", token_count("text").alias("n_tokens")),
        group_col="source",
        order_col="doc_id",
        weight_col="n_tokens",
        budget=_QUOTA_TOKENS,
    ).select(
        "source", "doc_id", "n_tokens", F.col("cum_weight").cast("long").alias("cum_tokens")
    )


_QUOTA_ORACLE = f"""
WITH {_TOKENS_CTE},
cum AS (
  SELECT source, doc_id, len(t) AS n_tokens,
         sum(len(t)) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM base
)
SELECT source, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens <= {_QUOTA_TOKENS}
"""


def source_quota_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quota cap run as an ACTUAL Structured Streaming ingest gate
    (streaming/stream_quota.py): two checkpointed availableNow runs over
    a file source split at the median doc_id; per-source cumulative token
    state carries across runs. Admission follows the batch window
    semantics exactly (the running total includes rejected docs), so this
    SHARES source_quota_docs' oracle — the driver value-checks the
    streaming path too (the segment_eventtime_members_streaming
    pattern)."""
    from ..streaming.stream_quota import StreamingQuotaGate

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    workdir = _stream_scratch("source_quota_streaming")
    gate = StreamingQuotaGate(
        spark,
        workdir,
        schema=docs.select("source", "doc_id", "text").schema,
        budget=_QUOTA_TOKENS,
    )
    waves = docs.select("source", "doc_id", "text")
    gate.ingest_wave(waves.filter(F.col("doc_id") < mid))
    gate.ingest_wave(waves.filter(F.col("doc_id") >= mid))
    return gate.accepted().select("source", "doc_id", "n_tokens", "cum_tokens")


def _stream_scratch(name: str) -> str:
    """Per-process reusable scratch dir, wiped per invocation — the shared
    registry in segmentation_queries (bench/oracle reruns must not
    accumulate checkpoints, and a stale checkpoint would make the second
    invocation a no-op)."""
    from .segmentation_queries import _scratch_dir

    return _scratch_dir(name)


def shuffled_chunk_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle of the 128-token chunk stream:
    md5 draw -> 64 buckets -> per-bucket rank. Reading (bucket, pos)
    ascending is the reproducible pseudo-random epoch order — no global
    sort, no rand().

    n_buckets is PINNED to 64 here because the oracle replays (bucket,
    pos) and pos is a per-bucket rank — bucket count and oracle are one
    contract (deterministic_shuffle's coupling note). Production sizes
    it with operators.sampling.shuffle_buckets_for (rows / 4e6, power
    of two), regenerating the read-order manifest — and its oracle —
    per bucket count; the sf0.1 64-vs-1024 BASELINE.md row shows wall
    is flat in the choice."""
    chunks = chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=128, stride=64
    ).select("doc_id", "chunk_idx")
    return deterministic_shuffle(
        chunks, key_cols=["doc_id", "chunk_idx"], n_buckets=64
    ).select("doc_id", "chunk_idx", "bucket", "pos")


_SHUFFLE_ORACLE = f"""
WITH {_TOKENS_CTE},
chunks AS (
  SELECT doc_id, CAST(s // 64 AS INTEGER) AS chunk_idx
  FROM (SELECT doc_id, unnest(range(0, len(t), 64)) AS s
        FROM base WHERE len(t) > 0)
),
drawn AS (
  SELECT doc_id, chunk_idx,
         md5('shuffle:' || doc_id || ':' || chunk_idx) AS draw
  FROM chunks
)
SELECT doc_id, chunk_idx,
       CAST(('0x' || substr(draw, 1, 8))::BIGINT % 64 AS INTEGER) AS bucket,
       CAST(row_number() OVER (
              PARTITION BY ('0x' || substr(draw, 1, 8))::BIGINT % 64
              ORDER BY draw, doc_id, chunk_idx) AS INTEGER) AS pos
FROM drawn
"""


def temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLM-R/mT5-style temperature rebalancing of the language mix at
    alpha=0.5: weights = integer-quantized sqrt(natural share) feeding
    the standard deterministic mixture (operators.sampling.mix_corpus) —
    the head language (en, ~44% of the corpus) is downsampled while
    low-resource languages draw fractional upsampling epochs. All rate
    math is exact-integer + one correctly-rounded division, so the
    oracle recomputes the weights from scratch and replays every
    hash-draw boundary bit-for-bit."""
    from ..operators.sampling import mix_corpus, temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    w = temperature_weights(docs, strata_col="lang", alpha=0.5)
    return mix_corpus(docs, w, strata_col="lang", key_col="doc_id").select(
        "doc_id", "lang", "epoch"
    )


_TEMPERATURE_MIX_ORACLE = """
WITH counts AS (SELECT lang AS s, count(*) AS n_s FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS t FROM counts),
w AS (
  SELECT s, n_s,
         CAST(floor(sqrt(CAST(n_s AS DOUBLE) / t) * 1000000000.0 + 0.5) AS BIGINT) AS wt
  FROM counts, tot
),
wsum AS (SELECT CAST(sum(wt) AS BIGINT) AS ws FROM w),
-- t*wt here rounds in DOUBLE while mix_corpus forms the exact Python-int
-- product before ONE division; identical only while t*wt < 2^53, i.e.
-- corpora under ~9e6 docs at quantum=1e9 — documented at
-- operators.sampling.temperature_weights (r9 ADVICE), far above any
-- oracle-compared SF.
rates AS (
  SELECT s, (CAST(t AS DOUBLE) * wt / ws) / n_s AS rate
  FROM w, tot, wsum
),
expanded AS (
  SELECT d.doc_id, d.lang,
         CAST(floor(r.rate) AS INT)
         + CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.lang), 1, 8)
                     < lpad(lower(hex(CAST(floor((r.rate - floor(r.rate)) * 4294967296.0) AS BIGINT))), 8, '0')
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN rates r ON d.lang = r.s
)
SELECT doc_id, lang, CAST(unnest(range(0, n_copies)) AS INT) AS epoch
FROM expanded WHERE n_copies >= 1
"""


def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup survivors at cosine >= SEM_NEAR_DUP_THRESHOLD
    over the SRP-banded pair path (greedy keep-lowest-id; pairwise rule,
    not closures — see operators.similarity.semantic_dedup). The oracle
    replays the full SRP banding + verification bit-for-bit, then the same
    anti-join; threshold and banding come from plans/llm.py's shared
    constants so query and oracle cannot desync (r9 ADVICE)."""
    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=SEM_NEAR_DUP_THRESHOLD
    )


_SEMANTIC_KEEP_ORACLE = f"""
WITH pairs AS ({_COS_PAIRS_LSH_ORACLE})
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT id_b FROM pairs)
"""


class IncrementalSemanticDeduper:
    """Wave-state twin of :func:`operators.similarity.semantic_dedup`:
    admit each wave's vectors unless a near-dup (cosine >= threshold)
    exists among ALL previously seen vectors or earlier ids in the wave.

    State, mirroring the incremental curator's LSH layout
    (plans/incremental.py exd_bands/exd_shingles):
    - ``sem_bands`` (chunk, key, _id): every seen vector's SRP pigeonhole
      band keys, bucketed on (chunk, key) — the wave's band join reads
      history co-located, zero Exchange above the state scan.
    - ``sem_vecs`` (_id, embedding): every seen vector, bucketed on _id —
      the verify stage's history-side embedding lookup joins co-located.

    ALL seen vectors enter state, not just survivors: the batch keep
    rule drops x when ANY earlier vector pairs with it, including earlier
    vectors that were themselves dropped (the greedy pairwise rule, not
    closures) — pruning state to survivors would admit chains the batch
    operator rejects. Under the ascending-id wave contract the union of
    per-wave survivor sets is byte-identical to the batch operator, so
    the registered query SHARES semantic_dedup_keep's oracle (which
    replays the banding bit-for-bit in SQL). Crash re-runnable: a
    replayed wave finds its OWN rows in state, which the cross-join's
    id_a < id_b filter reduces to pairs the intra-wave banding computes
    anyway (without it every vector would self-match at cosine 1.0 and
    the replay would drop the whole wave — r10 second-review finding 1);
    re-appended band/vector rows are exact duplicates collapsed by the
    distinct-deduped candidate pairs."""

    def __init__(self, spark: SparkSession, workdir: str, *, threshold: float,
                 n_planes: int = SEM_SRP_PLANES,
                 max_hamming: int = SEM_SRP_MAX_HAMMING,
                 state_buckets: int = 32):
        import os

        from ..sources.bucketed import state_table_prefix

        self.spark, self.workdir = spark, workdir
        self.threshold = threshold
        self.n_planes, self.max_hamming = n_planes, max_hamming
        self.state_buckets = state_buckets
        self._prefix = state_table_prefix(workdir, "semstate")
        self._wave = 0
        os.makedirs(workdir, exist_ok=True)

    def _tbl(self, name: str) -> str:
        return f"{self._prefix}_{name}"

    def _heal_from_compact_pin(self, name: str, keys: tuple[str, ...]) -> None:
        """Crash-mid-compact recovery from the pinned copy — the
        IncrementalNoveltyScorer._heal_from_compact_pin contract, per
        state table (shared validity/recency rule in sources/bucketed.py)."""
        import os

        from ..sources.bucketed import heal_bucketed_from_pins

        heal_bucketed_from_pins(
            self.spark,
            self._tbl(name),
            os.path.join(self.workdir, "tmp", f"compact_{name}_w*"),
            key=keys,
            buckets=self.state_buckets,
        )

    _STATE_KEYS = {"sem_bands": ("chunk", "key"), "sem_vecs": ("_id",)}
    _STATE_SCHEMAS = {
        "sem_bands": "chunk int, key bigint, _id bigint",
        "sem_vecs": "_id bigint, embedding array<float>",
    }

    def _tombs(self) -> DataFrame | None:
        """Distinct RETRACTED vector ids (committed by :meth:`delete`),
        or None when nothing was deleted. Schema-pinned read — see
        sources.bucketed.read_tombstones."""
        from ..sources.bucketed import read_tombstones

        return read_tombstones(self.spark, self.workdir, "_id bigint")

    def _state(self, name: str, schema: str) -> DataFrame:
        self._heal_from_compact_pin(name, self._STATE_KEYS[name])
        if self.spark.catalog.tableExists(self._tbl(name)):
            rows = self.spark.table(self._tbl(name))
            tombs = self._tombs()
            if tombs is not None:
                # retraction filter: a deleted vector's bands and
                # embedding leave the dedup state, so a future near-dup
                # of ONLY deleted content is admitted (nothing left to
                # be a duplicate of). Broadcast anti-join above the
                # bucketed scan — the streamed side keeps its bucketing,
                # so the wave's band/verify joins stay Exchange-free on
                # the state side.
                rows = rows.join(F.broadcast(tombs), "_id", "left_anti")
            return rows
        return self.spark.createDataFrame([], schema)

    def delete(self, ids: DataFrame) -> None:
        """Retract previously ingested vectors from the dedup state —
        the takedown lane (r13 verdict item 1), same tombstone-then-
        compact-reap protocol as the ANN index and the novelty scorer:
        commit the ids (column ``vec_id`` or ``_id``) to a tombstone
        directory; every state read excludes their band keys and
        embeddings; compact() physically reaps the rows. Past wave
        survivor sets are historical facts — the caller retracts the
        deleted ids from its OUTPUT table (anti-join), as with any
        ReplacingMergeTree-style supersedence. Deletion is not
        retroactive: a wave-mate the deleted vector once rejected stays
        rejected (first-accepted-wins is never revoked — the module's
        bridge-doc contract). Idempotent on retry (tombstones are a
        set); takedown-size lists, broadcast into the state reads."""
        from ..sources.bucketed import append_tombstones

        col = "vec_id" if "vec_id" in ids.columns else "_id"
        append_tombstones(
            ids.select(F.col(col).alias("_id")), self.workdir
        )

    def ingest(self, embeddings: DataFrame, *, wave_id: int | None = None) -> DataFrame:
        """Dedup one wave; returns the wave's survivors (vec_id, label),
        pinned to the workdir (lazy reader). ``wave_id`` as on
        IncrementalNoveltyScorer.ingest — default numbering resumes from
        the workdir's completed wave results on re-attach (band/vector
        state is replay-safe by construction — exact-duplicate re-appends
        cannot change any verdict)."""
        import os

        from ..operators.similarity import (
            cosine,
            srp_banded_candidate_pairs,
            srp_banded_keys,
        )
        from ..sources.bucketed import resolve_wave_counter, write_bucketed

        self._wave = resolve_wave_counter(
            self._wave, wave_id, lambda: _max_completed_wave_dir(self.workdir)
        )
        first = embeddings.select(F.size("embedding").alias("d")).first()
        res_path = os.path.join(self.workdir, f"wave_{self._wave}")
        if first is None:  # empty wave: no-op
            embeddings.select("vec_id", "label").write.mode("overwrite").parquet(res_path)
            return read_parquet(self.spark, res_path)
        dim = int(first.d)
        wave_keys = srp_banded_keys(
            embeddings, dim=dim, n_planes=self.n_planes, max_hamming=self.max_hamming
        )
        state_bands = self._state("sem_bands", self._STATE_SCHEMAS["sem_bands"])
        state_vecs = self._state("sem_vecs", self._STATE_SCHEMAS["sem_vecs"])
        wave_vecs = embeddings.select(
            F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")
        )
        # cross candidates. The id_a < id_b filter matters for REPLAYS,
        # not normal operation (where the wave contract already makes
        # every history id smaller): a crash-replayed wave finds its OWN
        # band keys in state, and without the filter each vector would
        # self-match (cosine 1.0) and the replay would emit an empty
        # survivor set (r10 second-review finding 1). With it, replayed
        # own-wave rows yield only pairs the intra-wave banding computes
        # anyway — identical verdicts, so replay reproduces the original
        # output.
        cross = (
            wave_keys.join(state_bands, ["chunk", "key"])
            .select(
                state_bands["_id"].alias("id_a"), wave_keys["_id"].alias("id_b")
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cross_dropped = (
            cross.join(
                state_vecs.withColumnRenamed("_id", "id_a").withColumnRenamed(
                    "embedding", "_va"
                ),
                "id_a",
            )
            .join(
                wave_vecs.withColumnRenamed("_vid", "id_b").withColumnRenamed(
                    "_v", "_vb"
                ),
                "id_b",
            )
            .filter(F.round(cosine(F.col("_va"), F.col("_vb")), 6) >= self.threshold)
            .select(F.col("id_b").alias("vec_id"))
        )
        intra = srp_banded_candidate_pairs(
            embeddings, n_planes=self.n_planes, max_hamming=self.max_hamming
        )
        intra_dropped = (
            intra.join(
                wave_vecs.withColumnRenamed("_vid", "id_a").withColumnRenamed("_v", "_va"),
                "id_a",
            )
            .join(
                wave_vecs.withColumnRenamed("_vid", "id_b").withColumnRenamed("_v", "_vb"),
                "id_b",
            )
            .filter(F.round(cosine(F.col("_va"), F.col("_vb")), 6) >= self.threshold)
            .select(F.col("id_b").alias("vec_id"))
        )
        dropped = cross_dropped.unionByName(intra_dropped).distinct()
        survivors = embeddings.join(dropped, "vec_id", "left_anti").select(
            "vec_id", "label"
        )
        survivors.write.mode("overwrite").parquet(res_path)
        # write mode decided PER TABLE (r9 ADVICE): a crash between the two
        # appends leaves sem_bands ahead of sem_vecs, and the re-run must
        # append to the existing table while creating the missing one
        # explicitly rather than relying on saveAsTable(append)'s implicit
        # create-if-missing.
        for frame, name, keys in (
            (wave_keys.select("chunk", "key", "_id"), "sem_bands", ("chunk", "key")),
            (
                embeddings.select(F.col("vec_id").alias("_id"), "embedding"),
                "sem_vecs",
                ("_id",),
            ),
        ):
            write_bucketed(
                frame,
                self._tbl(name),
                key=keys,
                buckets=self.state_buckets,
                mode="append" if self.spark.catalog.tableExists(self._tbl(name)) else "overwrite",
                align=True,
            )
            # cross-session write visibility under foreachBatch — see
            # IncrementalNoveltyScorer.ingest's refresh comment
            self.spark.catalog.refreshTable(self._tbl(name))
        return read_parquet(self.spark, res_path)

    def compact(self) -> None:
        """Fold each state table to one sorted file per bucket (the
        IncrementalCorpusCurator.compact contract); ingest results are
        identical before/after (tested). Physically REAPS tombstoned
        rows (the compacted frame is the retraction-filtered _state
        view; the tombstone dir clears after both tables fold — a crash
        in between leaves a no-op filter). Successful compaction prunes
        that table's pins (compact_bucketed)."""
        import os

        from ..sources.bucketed import clear_tombstones, compact_bucketed

        for name, keys in (("sem_bands", ("chunk", "key")), ("sem_vecs", ("_id",))):
            self._heal_from_compact_pin(name, keys)
            if not self.spark.catalog.tableExists(self._tbl(name)):
                continue
            compact_bucketed(
                self.spark,
                self._state(name, self._STATE_SCHEMAS[name]),
                self._tbl(name),
                os.path.join(self.workdir, "tmp", f"compact_{name}_w{self._wave}"),
                os.path.join(self.workdir, "tmp", f"compact_{name}_w*"),
                key=keys,
                buckets=self.state_buckets,
            )
        clear_tombstones(self.workdir)

    def reset(self) -> None:
        import os
        import shutil

        for name in ("sem_bands", "sem_vecs"):
            self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(name)}")
        from ..sources.bucketed import clear_tombstones

        # pins would resurrect dropped state via _heal_from_compact_pin
        shutil.rmtree(os.path.join(self.workdir, "tmp"), ignore_errors=True)
        clear_tombstones(self.workdir)
        self._wave = 0

    def drop_state(self) -> None:
        import shutil

        self.reset()
        shutil.rmtree(self.workdir, ignore_errors=True)


def semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup run INCREMENTALLY over two vec_id-ordered waves with
    persisted SRP band + vector state between them
    (IncrementalSemanticDeduper); the union of wave survivor sets is
    byte-identical to the batch keep rule, so this SHARES
    semantic_dedup_keep's oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).collect()[0][0]
    deduper = IncrementalSemanticDeduper(
        spark,
        _stream_scratch("semantic_dedup_incremental"),
        threshold=SEM_NEAR_DUP_THRESHOLD,
    )
    deduper.reset()
    out1 = deduper.ingest(emb.filter(F.col("vec_id") < mid))
    out2 = deduper.ingest(emb.filter(F.col("vec_id") >= mid))
    return out1.unionByName(out2)


def semantic_dedup_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-dedup state's DELETION lane (r13 verdict item 1):
    ingest wave 1 (vec_id < count/2 — a split both engines compute
    identically), tombstone-retract every wave-1 vector with
    vec_id % 5 == 2 (IncrementalSemanticDeduper.delete), then ingest
    wave 2. Deletion changes FUTURE admissions — a wave-2 vector whose
    only near-dups were deleted is now admitted (nothing left to be a
    duplicate of) — while wave-1 verdicts stay historical
    (first-accepted-wins is never revoked); the deleted ids themselves
    are retracted from the output by the caller's anti-join, the
    ReplacingMergeTree-supersedence move. The oracle replays exactly
    that: wave-1 keeps from intra-wave-1 pairs minus the deleted set;
    wave-2 keeps dropping only on pairs whose earlier member survives
    deletion."""
    emb = load_table(spark, sf_dir, "embeddings")
    mid = emb.count() // 2
    deduper = IncrementalSemanticDeduper(
        spark,
        _stream_scratch("semantic_dedup_deleted"),
        threshold=SEM_NEAR_DUP_THRESHOLD,
    )
    deduper.reset()
    out1 = deduper.ingest(emb.filter(F.col("vec_id") < mid))
    deleted = emb.filter(
        (F.col("vec_id") % 5 == 2) & (F.col("vec_id") < mid)
    ).select("vec_id")
    deduper.delete(deleted)
    out2 = deduper.ingest(emb.filter(F.col("vec_id") >= mid))
    return out1.join(deleted, "vec_id", "left_anti").unionByName(out2)


# semantic_dedup_deleted replay: the same banded pairs; wave 1 = the batch
# rule over intra-wave-1 pairs, minus the tombstoned ids; wave 2 drops a
# vector only for pairs whose EARLIER member survives the deletion (a
# deleted vector's bands/embedding left the state before wave 2 banded
# against it).
_SEMANTIC_DELETED_ORACLE = f"""
WITH pairs AS ({_COS_PAIRS_LSH_ORACLE}),
k AS (SELECT count(*) // 2 AS mid FROM embeddings),
del AS (
  SELECT vec_id FROM embeddings, k WHERE vec_id % 5 = 2 AND vec_id < mid
)
SELECT e.vec_id, e.label
FROM embeddings e, k
WHERE e.vec_id < k.mid
  AND e.vec_id NOT IN (SELECT id_b FROM pairs, k WHERE id_b < mid)
  AND e.vec_id NOT IN (SELECT vec_id FROM del)
UNION ALL
SELECT e.vec_id, e.label
FROM embeddings e, k
WHERE e.vec_id >= k.mid
  AND e.vec_id NOT IN (
    SELECT id_b FROM pairs, k
    WHERE id_b >= mid AND id_a NOT IN (SELECT vec_id FROM del)
  )
"""


def semantic_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup as a Structured Streaming ingest gate: foreachBatch
    drives IncrementalSemanticDeduper (bucketed SRP band + vector state)
    over a checkpointed file stream, one vec_id-ordered wave per
    micro-batch. SHARES semantic_dedup_keep's oracle — the full
    banding-replay value check runs against the streaming path too."""
    from ..streaming.stream_curation import StreamingWaveGate

    emb = load_table(spark, sf_dir, "embeddings")
    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).collect()[0][0]
    workdir = _stream_scratch("semantic_dedup_streaming")
    gate = StreamingWaveGate(
        spark,
        workdir,
        schema=emb.schema,
        ingestor=IncrementalSemanticDeduper(
            spark, f"{workdir}/state", threshold=SEM_NEAR_DUP_THRESHOLD
        ),
    )
    gate.reset_state()
    emb.filter(F.col("vec_id") < mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    emb.filter(F.col("vec_id") >= mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    return gate.results()


class IncrementalMinHashDeduper:
    """Wave-state twin of :func:`operators.dedup.minhash_lsh_pairs` —
    the batch / incremental / streaming triangle closed for the MinHash
    near-dup family (the embedding-space family already has it via
    IncrementalSemanticDeduper).

    Emits each wave's NEW near-dup pairs: a pair (a, b) is discovered in
    the wave that ingests its LATER-arriving member — wave-vs-state band
    matches plus intra-wave matches, exact-Jaccard verified like the
    batch operator. Because the banded signature of a document depends
    only on the document, the union of per-wave pair sets equals the
    batch pair set from ANY disjoint wave split (no wave-order
    contract), so the registered twins SHARE minhash_near_dup_pairs'
    exact-Jaccard oracle.

    State, mirroring IncrementalSemanticDeduper's layout:
    - ``mh_bands`` (band, bucket, _id): every seen doc's LSH band keys,
      bucketed on (band, bucket) — the wave's candidate join reads
      history co-located;
    - ``mh_shingles`` (_id, _sh): every seen doc's hashed shingle set,
      bucketed on _id — the verify stage's history-side lookup.

    Replay safety (the StreamingWaveGate crash window: a re-run of the
    MOST RECENT wave): the replayed wave finds its OWN band rows in
    state; the cross join then yields exactly the intra-wave pairs
    (self-pairs die on the id_a < id_b normalization), which the final
    distinct folds into the wave's original output — byte-identical
    re-emission — and the re-appended state rows are exact duplicates
    every downstream read deduplicates. Replaying an OLDER wave after
    later waves have landed is outside the gate's crash window and NOT
    idempotent by construction: pair discovery is time-dependent, so
    the re-run additionally emits this-wave-vs-later-wave pairs that
    the later waves' original runs already reported (still a subset of
    the union — nothing new is invented, pairs are re-reported).

    100 TB design: per wave the work is wave-sized shingling + k
    min-aggs, one co-located band join against state, and a verify join
    over candidate pairs only — never all-pairs, never a re-scan of
    history text. This is the production shape of continuous-crawl
    dedup (new snapshot vs corpus index)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        n: int = MH_SHINGLE_N,
        k: int = MH_K,
        bands: int = MH_BANDS,
        threshold: float = MH_THRESHOLD,
        state_buckets: int = 32,
    ):
        import os

        from ..sources.bucketed import state_table_prefix

        if k % bands:
            raise ValueError("k must be divisible by bands")
        self.spark, self.workdir = spark, workdir
        self.n, self.k, self.bands, self.threshold = n, k, bands, threshold
        self.state_buckets = state_buckets
        self._prefix = state_table_prefix(workdir, "mhstate")
        self._wave = 0
        os.makedirs(workdir, exist_ok=True)

    def _tbl(self, name: str) -> str:
        return f"{self._prefix}_{name}"

    _STATE_KEYS = {"mh_bands": ("band", "bucket"), "mh_shingles": ("_id",)}
    _STATE_SCHEMAS = {
        "mh_bands": "band int, bucket bigint, _id bigint",
        "mh_shingles": "_id bigint, _sh array<bigint>",
    }

    def _heal_from_compact_pin(self, name: str) -> None:
        import os

        from ..sources.bucketed import heal_bucketed_from_pins

        heal_bucketed_from_pins(
            self.spark,
            self._tbl(name),
            os.path.join(self.workdir, "tmp", f"compact_{name}_w*"),
            key=self._STATE_KEYS[name],
            buckets=self.state_buckets,
        )

    def _tombs(self) -> DataFrame | None:
        """Distinct RETRACTED doc ids — schema-pinned read, see
        sources.bucketed.read_tombstones."""
        from ..sources.bucketed import read_tombstones

        return read_tombstones(self.spark, self.workdir, "_id bigint")

    def _state(self, name: str, schema: str) -> DataFrame:
        self._heal_from_compact_pin(name)
        if self.spark.catalog.tableExists(self._tbl(name)):
            rows = self.spark.table(self._tbl(name))
            tombs = self._tombs()
            if tombs is not None:
                # retraction filter: a deleted doc's band keys and
                # shingle set leave the index, so a future doc
                # duplicating ONLY deleted content reports no pair —
                # already-emitted pairs are historical facts the
                # caller's output table supersedes
                rows = rows.join(F.broadcast(tombs), "_id", "left_anti")
            return rows
        return self.spark.createDataFrame([], schema)

    def delete(self, ids: DataFrame) -> None:
        """Retract previously ingested docs from the near-dup index —
        the shared tombstone-then-compact-reap lane (column ``doc_id``
        or ``_id``; see IncrementalSemanticDeduper.delete for the
        contract)."""
        from ..sources.bucketed import append_tombstones

        col = "doc_id" if "doc_id" in ids.columns else "_id"
        append_tombstones(
            ids.select(F.col(col).alias("_id")), self.workdir
        )

    def ingest(self, docs: DataFrame, *, wave_id: int | None = None) -> DataFrame:
        """Find one wave's new near-dup pairs (id_a, id_b, jaccard) and
        fold the wave into the band/shingle index; result pinned under
        the workdir (lazy reader)."""
        from ..operators.dedup import banded_minhash_keys, shingled_docs
        from ..sources.bucketed import resolve_wave_counter

        self._wave = resolve_wave_counter(
            self._wave, wave_id, lambda: _max_completed_wave_dir(self.workdir)
        )
        wave_sh = shingled_docs(docs, n=self.n).persist()
        # persist=False: the operator's internal signature persist is
        # unreachable and would leak one cached frame per wave in this
        # long-lived loop; the barrier lives on wave_keys instead and is
        # released with wave_sh below (r11 review finding 6).
        wave_keys = banded_minhash_keys(
            wave_sh, k=self.k, bands=self.bands, persist=False
        ).persist()
        # try/finally: a mid-wave failure (write error, bad batch) must not
        # leak the two cached frames in this long-lived ingest loop — the
        # same leak class the DSIR/NB/BPE trainers guard against.
        try:
            return self._ingest_body(wave_sh, wave_keys)
        finally:
            wave_sh.unpersist()
            wave_keys.unpersist()

    def _ingest_body(self, wave_sh: DataFrame, wave_keys: DataFrame) -> DataFrame:
        import os

        from ..sources.bucketed import write_bucketed

        state_bands = self._state("mh_bands", self._STATE_SCHEMAS["mh_bands"])
        state_sh = self._state("mh_shingles", self._STATE_SCHEMAS["mh_shingles"])
        # normalized with least/greatest (state ids need not be smaller
        # than wave ids — no wave-order contract); self-matches from a
        # replayed wave's own state rows die on id_a < id_b
        cross = (
            wave_keys.alias("w")
            .join(state_bands.alias("s"), ["band", "bucket"])
            .select(
                F.least(F.col("s._id"), F.col("w._id")).alias("id_a"),
                F.greatest(F.col("s._id"), F.col("w._id")).alias("id_b"),
            )
            .filter(F.col("id_a") < F.col("id_b"))
        )
        intra = (
            wave_keys.alias("a")
            .join(
                wave_keys.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )
        cand = cross.unionByName(intra).dropDuplicates(["id_a", "id_b"])
        # verify with exact Jaccard; either side may live in state or the
        # wave, so the lookup is their union (replay duplicates collapse)
        lookup = state_sh.unionByName(wave_sh.select("_id", "_sh")).dropDuplicates(
            ["_id"]
        )
        verified = (
            cand.join(
                lookup.withColumnRenamed("_id", "id_a").withColumnRenamed(
                    "_sh", "_sh_a"
                ),
                "id_a",
            )
            .join(
                lookup.withColumnRenamed("_id", "id_b").withColumnRenamed(
                    "_sh", "_sh_b"
                ),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.size(F.array_union("_sh_a", "_sh_b")),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
        res_path = os.path.join(self.workdir, f"wave_{self._wave}")
        verified.write.mode("overwrite").parquet(res_path)
        # write mode decided PER TABLE (the IncrementalSemanticDeduper
        # crash-between-appends rule)
        for frame, name in (
            (wave_keys.select("band", "bucket", "_id"), "mh_bands"),
            (wave_sh.select("_id", "_sh"), "mh_shingles"),
        ):
            write_bucketed(
                frame,
                self._tbl(name),
                key=self._STATE_KEYS[name],
                buckets=self.state_buckets,
                mode="append"
                if self.spark.catalog.tableExists(self._tbl(name))
                else "overwrite",
                align=True,
            )
            self.spark.catalog.refreshTable(self._tbl(name))
        return read_parquet(self.spark, res_path)

    def compact(self) -> None:
        import os

        from ..sources.bucketed import clear_tombstones, compact_bucketed

        for name in ("mh_bands", "mh_shingles"):
            self._heal_from_compact_pin(name)
            if not self.spark.catalog.tableExists(self._tbl(name)):
                continue
            compact_bucketed(
                self.spark,
                self._state(name, self._STATE_SCHEMAS[name]).distinct(),
                self._tbl(name),
                os.path.join(self.workdir, "tmp", f"compact_{name}_w{self._wave}"),
                os.path.join(self.workdir, "tmp", f"compact_{name}_w*"),
                key=self._STATE_KEYS[name],
                buckets=self.state_buckets,
            )
        clear_tombstones(self.workdir)

    def reset(self) -> None:
        import os
        import shutil

        from ..sources.bucketed import clear_tombstones

        for name in ("mh_bands", "mh_shingles"):
            self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(name)}")
        shutil.rmtree(os.path.join(self.workdir, "tmp"), ignore_errors=True)
        clear_tombstones(self.workdir)
        self._wave = 0

    def drop_state(self) -> None:
        import shutil

        self.reset()
        shutil.rmtree(self.workdir, ignore_errors=True)


def minhash_near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup discovery run INCREMENTALLY over two waves
    with a persisted band + shingle index between them
    (IncrementalMinHashDeduper); the union of per-wave pair sets equals
    the batch pair set, so this SHARES minhash_near_dup_pairs'
    exact-Jaccard oracle. Waves are ingested newest-first on purpose —
    pair discovery has no wave-order contract."""
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    deduper = IncrementalMinHashDeduper(
        spark, _stream_scratch("minhash_incremental")
    )
    deduper.reset()
    out1 = deduper.ingest(docs.filter(F.col("doc_id") >= mid))
    out2 = deduper.ingest(docs.filter(F.col("doc_id") < mid))
    return out1.unionByName(out2)


def minhash_near_dup_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash index's DELETION lane, completing the tombstone
    protocol across every wave-state class: ingest wave 1
    (doc_id < count/2), tombstone-retract every wave-1 doc with
    doc_id % 5 == 2 (IncrementalMinHashDeduper.delete — the doc's band
    keys and shingle set leave the index), ingest wave 2, and retract
    the deleted docs' pairs from the emitted output (the caller-side
    supersedence the class documents). Net semantics, which the oracle
    replays off the batch pair set: a wave-1 pair survives iff neither
    member was deleted; a wave-2-discovered pair survives iff its
    earlier member was not deleted (a wave-2 doc duplicating ONLY
    deleted content reports no pair)."""
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.count() // 2
    deduper = IncrementalMinHashDeduper(
        spark, _stream_scratch("minhash_deleted")
    )
    deduper.reset()
    out1 = deduper.ingest(docs.filter(F.col("doc_id") < mid))
    deleted = docs.filter(
        (F.col("doc_id") % 5 == 2) & (F.col("doc_id") < mid)
    ).select("doc_id")
    deduper.delete(deleted)
    out2 = deduper.ingest(docs.filter(F.col("doc_id") >= mid))
    dead = deleted.withColumnRenamed("doc_id", "_dead")
    out1 = (
        out1.join(dead, out1["id_a"] == dead["_dead"], "left_anti")
        .join(dead, F.col("id_b") == dead["_dead"], "left_anti")
    )
    return out1.unionByName(out2)


_MINHASH_DELETED_ORACLE = f"""
WITH pairs AS ({_JACCARD_ORACLE}),
k AS (SELECT count(*) // 2 AS mid FROM documents),
del AS (
  SELECT doc_id FROM documents, k WHERE doc_id % 5 = 2 AND doc_id < mid
)
SELECT id_a, id_b, jaccard
FROM pairs, k
WHERE (id_b < mid
       AND id_a NOT IN (SELECT doc_id FROM del)
       AND id_b NOT IN (SELECT doc_id FROM del))
   OR (id_b >= mid
       AND (id_a >= mid OR id_a NOT IN (SELECT doc_id FROM del)))
"""


def minhash_near_dup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup discovery as a Structured Streaming ingest
    gate: foreachBatch drives IncrementalMinHashDeduper (bucketed band +
    shingle index) over a checkpointed file stream, one wave per
    micro-batch. SHARES minhash_near_dup_pairs' exact-Jaccard oracle."""
    from ..streaming.stream_curation import StreamingWaveGate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    workdir = _stream_scratch("minhash_streaming")
    gate = StreamingWaveGate(
        spark,
        workdir,
        schema=docs.schema,
        ingestor=IncrementalMinHashDeduper(spark, f"{workdir}/state"),
    )
    gate.reset_state()
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    return gate.results()


QUERIES = [
    # novelty is the round-9 headline addition (BASELINE.md widening note):
    # it representatively prices the new curation family's corpus-wide
    # gram agg + join-back shape; the other four either share already-
    # tracked physical shapes (SRP banding, windows) or are streaming.
    QuerySpec("novelty_ngram_docs", novelty_ngram_docs, _NOVELTY_ORACLE, headline=True),
    QuerySpec("novelty_ngram_incremental", novelty_ngram_incremental, _NOVELTY_ORACLE),
    QuerySpec("novelty_ngram_deleted", novelty_ngram_deleted, _NOVELTY_DELETED_ORACLE),
    QuerySpec("novelty_ngram_streaming", novelty_ngram_streaming, _NOVELTY_ORACLE),
    QuerySpec("source_quota_docs", source_quota_docs, _QUOTA_ORACLE),
    QuerySpec("source_quota_streaming", source_quota_streaming, _QUOTA_ORACLE),
    QuerySpec("shuffled_chunk_order", shuffled_chunk_order, _SHUFFLE_ORACLE),
    QuerySpec("temperature_mix_docs", temperature_mix_docs, _TEMPERATURE_MIX_ORACLE),
    QuerySpec("semantic_dedup_keep", semantic_dedup_keep, _SEMANTIC_KEEP_ORACLE),
    QuerySpec("semantic_dedup_incremental", semantic_dedup_incremental, _SEMANTIC_KEEP_ORACLE),
    QuerySpec("semantic_dedup_deleted", semantic_dedup_deleted, _SEMANTIC_DELETED_ORACLE),
    QuerySpec("semantic_dedup_streaming", semantic_dedup_streaming, _SEMANTIC_KEEP_ORACLE),
    QuerySpec(
        "minhash_near_dup_incremental", minhash_near_dup_incremental, _JACCARD_ORACLE
    ),
    QuerySpec(
        "minhash_near_dup_deleted", minhash_near_dup_deleted, _MINHASH_DELETED_ORACLE
    ),
    QuerySpec(
        "minhash_near_dup_streaming", minhash_near_dup_streaming, _JACCARD_ORACLE
    ),
]
