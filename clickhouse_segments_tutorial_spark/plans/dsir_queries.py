"""Registered queries for DSIR-style importance resampling
(operators/dsir.py): hashed unigram+bigram importance log-weights
against a heuristic-quality target set, and the deterministic-Bernoulli
resampled corpus.

Target set = the heuristic quality gate's keep set (``quality_score >=
NB_LABEL_MIN_QUALITY`` — the same weak-supervision seed the NB
classifier trains on), so the two learned signals are directly
comparable: NB answers "which class", DSIR answers "how much more
likely under the target distribution" and converts it to a sampling
rate.

Oracle strategy: the whole train-score-resample chain is exact integer
counts + ulp-stripped logs (round(ln, 12)) + DECIMAL(28,14)
order-independent sums + an md5-derived uniform draw, so the DuckDB
oracle RETRAINS from scratch and replays the draw — one shared CTE
chain (:func:`_dsir_sql`). The incremental and streaming twins
accumulate the associative (bucket, raw_n, tgt_n) sufficient statistic
on the shared WaveCountState chassis and SHARE the batch retraining
oracle (the IncrementalNBTrainer pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dsir import (
    DSIR_ACCEPT_SALT,
    DSIR_TAU,
    dsir_accept,
    dsir_model_from_counts,
    dsir_score,
    dsir_train,
)
from ..operators.quality_nb import DEFAULT_BUCKETS, hash_bucket
from ..operators.text import quality_score
from ..sources.catalog import load_table, read_parquet
from .pipeline import _toks
from .quality_nb_queries import (
    NB_LABEL_MIN_QUALITY,
    _NB_SCORES_ORACLE,
    _quality_sql,
    quality_nb_scores_docs,
)
from .registry import QuerySpec

# 2^60 as an exact double literal for the oracle's uniform draw.
_TWO60_SQL = "1152921504606846976.0"


def _accept_sql(doc: str, lw: str) -> str:
    """The salted deterministic acceptance draw as a SQL predicate —
    ONE definition site for the three oracle splices (standalone
    resample, pipeline gate, streaming resample)."""
    return (
        f"round(ln((('0x' || substr(md5('{DSIR_ACCEPT_SALT}:' || "
        f"CAST({doc} AS VARCHAR)), 1, 15))::BIGINT + 1) "
        f"/ {_TWO60_SQL}), 12) <= {lw} - {DSIR_TAU}"
    )


def _dsir_sql(src: str, n_buckets: int = DEFAULT_BUCKETS, p: str = "ds") -> str:
    """The DSIR retraining chain over a CTE/table ``src`` exposing
    (doc_id, lang, text): heuristic target labels, hashed unigram+bigram
    feature stream, smoothed per-bucket importance log-ratios, per-doc
    DECIMAL-exact log-weight sums. Ends with ``{p}_scores(doc_id,
    n_feats, dsir_lw)``. ``p`` prefixes every CTE name so the chain can
    be instantiated more than once in one statement (the streaming
    resample oracle trains one model per wave)."""
    return f"""
{p}_src AS (SELECT doc_id, lang, text, {_toks("text")} AS t FROM {src}),
{p}_lbl AS (
  SELECT *, {_quality_sql("t", "text")} >= {NB_LABEL_MIN_QUALITY} AS y
  FROM {p}_src
),
{p}_feat AS (
  SELECT doc_id, y,
         ('0x' || substr(md5(f), 1, 15))::BIGINT % {n_buckets} AS bucket
  FROM (
    SELECT doc_id, y, unnest(t) AS f FROM {p}_lbl
    UNION ALL
    SELECT doc_id, y, t[i] || ' ' || t[i + 1] AS f
    FROM (SELECT doc_id, y, t, CAST(unnest(range(1, len(t))) AS INT) AS i
          FROM {p}_lbl)
  )
),
{p}_cnt AS (
  SELECT bucket, count(*) AS raw_n, count(*) FILTER (y) AS tgt_n
  FROM {p}_feat GROUP BY bucket
),
{p}_tot AS (SELECT sum(raw_n) AS r, sum(tgt_n) AS t FROM {p}_cnt),
{p}_model AS (
  SELECT r.range AS bucket,
         round(ln((coalesce(c.tgt_n, 0) + 1.0) / CAST(t.t + {n_buckets} AS DOUBLE)), 12)
       - round(ln((coalesce(c.raw_n, 0) + 1.0) / CAST(t.r + {n_buckets} AS DOUBLE)), 12) AS lam
  FROM range(0, {n_buckets}) r LEFT JOIN {p}_cnt c ON r.range = c.bucket, {p}_tot t
),
{p}_sum AS (
  SELECT doc_id, CAST(count(*) AS INT) AS nf,
         CAST(sum(CAST(m.lam AS DECIMAL(28,14))) AS DOUBLE) AS s
  FROM {p}_feat k JOIN {p}_model m USING (bucket) GROUP BY doc_id
),
{p}_scores AS (
  SELECT l.doc_id,
         CAST(coalesce(u.nf, 0) AS INT) AS n_feats,
         round(coalesce(u.s, 0.0), 6) AS dsir_lw
  FROM {p}_lbl l LEFT JOIN {p}_sum u USING (doc_id)
)"""


def _labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").withColumn(
        "_y", quality_score("text") >= NB_LABEL_MIN_QUALITY
    )


def _wave_features(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, _y, bucket): one wave's labeled hashed feature stream —
    the shared input of the count fold (ingest) and the admit scoring
    join, so the online gate computes the wave's tokenize+explode ONCE
    when it persists this frame across both consumers."""
    from ..operators.dsir import _staged_features

    lbl = docs.withColumn("_y", quality_score("text") >= NB_LABEL_MIN_QUALITY)
    return _staged_features(lbl, "text", [F.col("doc_id"), F.col("_y")]).select(
        "doc_id", "_y", hash_bucket("_f", n_buckets).alias("bucket")
    )


def dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the DSIR importance model (target = heuristic-quality keep
    set, raw = whole corpus) and score every document:
    (doc_id, n_feats, dsir_lw). ONE tokenize+hash pass shared by the
    training hash-agg and the scoring join
    (operators.dsir.dsir_train_score — bit-identical to the two-pass
    dsir_train + dsir_score), zero Python row paths."""
    from ..operators.dsir import dsir_train_score

    docs = _labeled(spark, sf_dir)
    _, scored = dsir_train_score(docs, target_col="_y")
    return scored


_DSIR_WEIGHTS_ORACLE = f"""
WITH {_dsir_sql("documents")}
SELECT doc_id, n_feats, dsir_lw FROM ds_scores
"""


def dsir_resampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampled corpus: documents accepted by the deterministic
    Bernoulli draw with probability min(1, exp(dsir_lw - tau)) —
    (doc_id, dsir_lw). Map-only over the scored frame: the selection
    step costs one scan at any corpus size."""
    return (
        dsir_weights_docs(spark, sf_dir)
        .filter(dsir_accept("doc_id"))
        .select("doc_id", "dsir_lw")
    )


_DSIR_RESAMPLED_ORACLE = f"""
WITH {_dsir_sql("documents")}
SELECT doc_id, dsir_lw
FROM ds_scores
WHERE {_accept_sql("doc_id", "dsir_lw")}
"""


def _dsir_gate(clean: DataFrame) -> DataFrame:
    """The pipeline's alternative stage-7 gate: retrain the DSIR
    importance model on the decontaminated train docs (heuristic target
    labels), keep the resample-accepted docs within the usual length
    bounds — the importance-RESAMPLING counterpart of the NB
    classification gate (quality_nb_queries._nb_gate)."""
    from ..operators.text import token_count

    from ..operators.dsir import dsir_train_score

    labeled = clean.withColumn("_y", quality_score("text") >= NB_LABEL_MIN_QUALITY)
    # one tokenize+hash pass for train AND score (dsir_train_score —
    # bit-identical to the two-pass form; scoring the labeled frame is
    # scoring `clean`: the label column never reaches the score math)
    _, scored = dsir_train_score(labeled, target_col="_y")
    keep = scored.filter(dsir_accept("doc_id")).select("doc_id")
    return clean.join(keep, "doc_id", "left_semi").filter(
        token_count("text").between(10, 5000)
    )


def corpus_pipeline_dsir_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus build with the DSIR RESAMPLING gate composed in
    place of the heuristic (pipeline stage 7): identical dedup /
    decontamination / mixture / packing chain, but the quality decision
    is the deterministic importance draw. The oracle replays the entire
    pipeline AND the DSIR retraining + acceptance draw through the
    shared filt_sql seam — the corpus_pipeline_nb_docs pattern."""
    from .llm import _MIX_WEIGHTS
    from .pipeline import corpus_pipeline_stages

    return corpus_pipeline_stages(
        load_table(spark, sf_dir, "documents"),
        mix_weights=_MIX_WEIGHTS,
        quality_gate=_dsir_gate,
    )["packed"]


_DSIR_FILT_SQL = f"""
-- stage 7 (alternative): DSIR resampling gate, retrained on `clean`
{_dsir_sql("clean").lstrip()},
filt AS MATERIALIZED (
  SELECT l.doc_id, l.lang, l.t, len(l.t) AS n_tokens
  FROM ds_lbl l JOIN ds_scores s USING (doc_id)
  WHERE {_accept_sql("l.doc_id", "s.dsir_lw")}
    AND len(l.t) BETWEEN 10 AND 5000
)"""


def _pipeline_dsir_oracle() -> str:
    from .llm import _MIX_WEIGHTS
    from .pipeline import _corpus_pipeline_ctes

    return _corpus_pipeline_ctes(_MIX_WEIGHTS, filt_sql=_DSIR_FILT_SQL) + """
SELECT doc_id, epoch, chunk_idx, n_chunk_tokens, shard,
       CAST(seq_id AS INTEGER) AS seq_id
FROM pack
"""


def quality_signals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every quality signal the engine computes, joined per document —
    the table a curation team actually reads when tuning gates:
    (doc_id, quality, gopher_keep, nb_llr, dsir_lw) = the C4-style
    heuristic score, the Gopher rule verdict, the learned NB log-odds,
    and the DSIR importance log-weight. Signals disagree by design
    (heuristic vs learned vs generative); this query makes the
    disagreement queryable. Four equi-joins on doc_id; the oracle joins
    the four existing retraining chains as subqueries, so the composite
    is value-checked end to end."""
    from ..operators.text import gopher_quality, text_stats

    docs = load_table(spark, sf_dir, "documents")
    heur = text_stats(docs).select("doc_id", "quality")
    gop = gopher_quality(docs).select("doc_id", F.col("keep").alias("gopher_keep"))
    nb = quality_nb_scores_docs(spark, sf_dir).select("doc_id", "nb_llr")
    ds = dsir_weights_docs(spark, sf_dir).select("doc_id", "dsir_lw")
    return heur.join(gop, "doc_id").join(nb, "doc_id").join(ds, "doc_id")


def _quality_signals_oracle() -> str:
    from .llm import _GOPHER_ORACLE, _TEXT_STATS_ORACLE

    return f"""
SELECT doc_id, q.quality, g.gopher_keep, n.nb_llr, d.dsir_lw
FROM (SELECT doc_id, quality FROM ({_TEXT_STATS_ORACLE})) q
JOIN (SELECT doc_id, keep AS gopher_keep FROM ({_GOPHER_ORACLE})) g USING (doc_id)
JOIN (SELECT doc_id, nb_llr FROM ({_NB_SCORES_ORACLE})) n USING (doc_id)
JOIN (SELECT doc_id, dsir_lw FROM ({_DSIR_WEIGHTS_ORACLE})) d USING (doc_id)
"""


class IncrementalDSIRTrainer:
    """Wave-state twin of ``dsir_train`` — the batch / incremental /
    streaming triangle closed for the importance-resampling selector,
    on the same chassis as IncrementalNBTrainer.

    The (bucket, raw_n, tgt_n) sufficient statistic is associative:
    integer sums of per-wave deltas in any order reproduce the batch
    counts exactly, and ``dsir_model_from_counts`` is the one
    definition site of the log-ratio math — so the rebuilt model, the
    scores, and the resampled set are bit-identical to batch retraining
    whatever the wave split. State = ONE bucketed table of wave-tagged
    rows managed by operators.wave_counts.WaveCountState (storage,
    replay collapse, compaction, healing, resume numbering)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        n_buckets: int = DEFAULT_BUCKETS,
        state_buckets: int = 32,
    ):
        from ..operators.wave_counts import WaveCountState

        self.spark, self.n_buckets = spark, n_buckets
        self._st = WaveCountState(
            spark,
            workdir,
            name="dsirstate",
            key_col="bucket",
            key_type="long",
            value_cols=["raw_n", "tgt_n"],
            state_buckets=state_buckets,
        )

    def ingest(
        self,
        docs: DataFrame,
        *,
        wave_id: int | None = None,
        feats: DataFrame | None = None,
    ) -> DataFrame:
        """Fold one wave's feature counts into state; returns the wave's
        audit row (wave, n_raw, n_tgt — THIS wave's feature totals),
        pinned under the workdir. ``docs`` must expose (doc_id, text);
        target labels are recomputed from the shared heuristic (one
        definition site with the batch query). ``feats``: optional
        precomputed :func:`_wave_features` frame — the online ingestor
        passes one persisted frame here AND to the scoring join so the
        wave is tokenized once (r11 fourth-review finding 1)."""
        wave = self._st.resolve_wave(wave_id)
        if feats is None:
            feats = _wave_features(docs, self.n_buckets)
        # the wave aggregate feeds TWO writes (audit pin, state append);
        # persist for their duration so the wave-sized explode+agg runs
        # once (the r11 review finding 3 rule)
        delta = feats.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("raw_n"),
            F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("tgt_n"),
        ).persist()
        try:
            audit = delta.groupBy().agg(
                F.lit(wave).alias("wave"),
                F.coalesce(F.sum("raw_n"), F.lit(0)).cast("long").alias("n_raw"),
                F.coalesce(F.sum("tgt_n"), F.lit(0)).cast("long").alias("n_tgt"),
            )
            # pin the audit BEFORE the state append (read-your-writes rule)
            pinned = self._st.pin_audit(audit, wave)
            self._st.append(delta, wave)
        finally:
            delta.unpersist()
        return pinned

    def model(self) -> DataFrame:
        """(bucket, lam) from the accumulated counts — bit-identical to
        ``dsir_train`` over the concatenation of every ingested wave."""
        counts = (
            self._st.read()
            .groupBy("bucket")
            .agg(F.sum("raw_n").alias("raw_n"), F.sum("tgt_n").alias("tgt_n"))
        )
        return dsir_model_from_counts(self.spark, counts, n_buckets=self.n_buckets)

    def score(self, docs: DataFrame) -> DataFrame:
        return dsir_score(docs, self.model(), n_buckets=self.n_buckets)

    def compact(self) -> None:
        self._st.compact(self._st._wave)

    def reset(self) -> None:
        self._st.reset()

    def drop_state(self) -> None:
        self._st.drop()


class DSIRResampleIngestor:
    """Online-selection ingestor for the streaming wave gate: per wave,
    fold the wave's counts into the accumulated model, then score and
    admit THE WAVE against it (retrain-then-admit). Early waves are
    judged by poorer models than late ones — the honest online-selection
    semantics, which the registered query's oracle replays wave by wave
    (it does NOT share the batch oracle: a batch recompute scores every
    doc under the final model)."""

    def __init__(self, spark: SparkSession, workdir: str):
        import os

        self.spark, self.workdir = spark, workdir
        self.tr = IncrementalDSIRTrainer(spark, workdir)
        os.makedirs(workdir, exist_ok=True)

    def ingest(self, docs: DataFrame, *, wave_id: int | None = None) -> DataFrame:
        import os

        # ONE persisted feature frame feeds both the count fold and the
        # admit scoring join — without it the wave is tokenized+exploded
        # twice per micro-batch (r11 fourth-review finding 1). The admit
        # set is pinned to the workdir before the unpersist so the
        # returned reader does not depend on the released cache.
        feats = _wave_features(docs, self.tr.n_buckets).persist()
        try:
            self.tr.ingest(docs, wave_id=wave_id, feats=feats)
            admitted = (
                dsir_score(
                    docs,
                    self.tr.model(),
                    n_buckets=self.tr.n_buckets,
                    feats=feats.select("doc_id", "bucket"),
                )
                .filter(dsir_accept("doc_id"))
                .select("doc_id", "dsir_lw")
            )
            path = os.path.join(self.workdir, f"admitted_w{self.tr._st._wave}")
            admitted.write.mode("overwrite").parquet(path)
        finally:
            feats.unpersist()
        return read_parquet(self.spark, path)

    def compact(self) -> None:
        self.tr.compact()

    def reset(self) -> None:
        self.tr.reset()


def dsir_resampled_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling as an ONLINE ingest gate: a checkpointed
    file stream drains two waves (doc_id parity split — deterministic
    and scale-free) into DSIRResampleIngestor via the generic wave gate;
    each wave is admitted by the model accumulated up to and including
    itself. The oracle retrains per wave (the prefix-parametrized
    _dsir_sql chain instantiated once per wave), so the online
    semantics — not the batch ones — are what the correctness gate
    checks."""
    from ..streaming.stream_curation import StreamingWaveGate
    from .curation import _stream_scratch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    workdir = _stream_scratch("dsir_resample_streaming")
    ing = DSIRResampleIngestor(spark, f"{workdir}/state")
    gate = StreamingWaveGate(spark, workdir, schema=docs.schema, ingestor=ing)
    gate.reset_state()
    # pmod: sign-safe parity (plain % follows the sign in both engines,
    # so a negative odd doc_id would fall out of BOTH waves while the
    # oracle's wave-2 model trains on all documents — r11 fourth-review
    # finding 2). NULL ids are out of scope of either split; the oracle
    # excludes them from training identically.
    docs.filter(F.pmod(F.col("doc_id"), 2) == 0).coalesce(1).write.mode(
        "append"
    ).parquet(gate.in_dir)
    gate.run_available_now()
    docs.filter(F.pmod(F.col("doc_id"), 2) == 1).coalesce(1).write.mode(
        "append"
    ).parquet(gate.in_dir)
    gate.run_available_now()
    return gate.results()


# wave 1 = even doc_ids scored under the wave-1-only model; wave 2 = odd
# doc_ids scored under the full accumulated model (= the whole corpus,
# since counts are associative). Each chain instantiation filters its
# TRAINING src; the wave-2 chain trains on everything ingested so far.
_DSIR_RESAMPLED_STREAMING_ORACLE = f"""
WITH {_dsir_sql(
    "(SELECT * FROM documents WHERE ((doc_id % 2) + 2) % 2 = 0) w1src", p="w1"
)},
{_dsir_sql(
    "(SELECT * FROM documents WHERE doc_id IS NOT NULL) w2src", p="w2"
)}
SELECT doc_id, dsir_lw FROM w1_scores
WHERE {_accept_sql("doc_id", "dsir_lw")}
UNION ALL
SELECT doc_id, dsir_lw FROM w2_scores
WHERE ((doc_id % 2) + 2) % 2 = 1 AND {_accept_sql("doc_id", "dsir_lw")}
"""


def dsir_weights_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR trainer run INCREMENTALLY over two waves with bucketed
    count-state between them; the accumulated sufficient statistic
    rebuilds the batch model exactly, so the final scores over the full
    corpus SHARE dsir_weights_docs' retraining oracle. No wave-order
    contract: counts are associative."""
    from .curation import _stream_scratch

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    tr = IncrementalDSIRTrainer(spark, _stream_scratch("dsir_incremental"))
    tr.reset()
    tr.ingest(docs.filter(F.col("doc_id") < mid))
    tr.ingest(docs.filter(F.col("doc_id") >= mid))
    return tr.score(docs)


def dsir_weights_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR trainer driven by the generic streaming wave gate
    (streaming/stream_curation.py): a checkpointed file stream drains
    wave files into IncrementalDSIRTrainer via foreachBatch, then the
    final model — rebuilt from the gate-accumulated count state —
    scores the full corpus. Shares the batch retraining oracle."""
    from ..streaming.stream_curation import StreamingWaveGate
    from .curation import _stream_scratch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    workdir = _stream_scratch("dsir_streaming")
    tr = IncrementalDSIRTrainer(spark, f"{workdir}/state")
    gate = StreamingWaveGate(spark, workdir, schema=docs.schema, ingestor=tr)
    gate.reset_state()
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(
        gate.in_dir
    )
    gate.run_available_now()
    return tr.score(docs)


QUERIES = [
    QuerySpec("dsir_weights_docs", dsir_weights_docs, _DSIR_WEIGHTS_ORACLE, headline=True),
    QuerySpec("dsir_resampled_docs", dsir_resampled_docs, _DSIR_RESAMPLED_ORACLE),
    QuerySpec("corpus_pipeline_dsir_docs", corpus_pipeline_dsir_docs, _pipeline_dsir_oracle()),
    QuerySpec(
        "dsir_resampled_streaming",
        dsir_resampled_streaming,
        _DSIR_RESAMPLED_STREAMING_ORACLE,
    ),
    QuerySpec(
        "quality_signals_docs",
        quality_signals_docs,
        _quality_signals_oracle(),
    ),
    QuerySpec("dsir_weights_incremental", dsir_weights_incremental, _DSIR_WEIGHTS_ORACLE),
    QuerySpec("dsir_weights_streaming", dsir_weights_streaming, _DSIR_WEIGHTS_ORACLE),
]
