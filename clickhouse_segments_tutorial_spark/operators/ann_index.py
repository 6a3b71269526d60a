"""Persisted IVFADC index lifecycle: build once, probe many, extend
incrementally, delete (tombstone) without rebuilding (r12 verdict
item 1; tombstones r13 verdict item 1).

Every inline ANN query retrains the coarse quantizer and re-encodes the
corpus PER CALL; the r12 build-vs-probe split (BASELINE.md) measured
the +2.1 s of ``ann_ivfadc_residual_topk`` as Lloyd training an index
build pays once. At 100 TB nobody trains per query — the index is a
catalog artifact with four parts:

- **meta** (``meta.json``): the portable-Lloyd coarse centroids, the
  residual-space PQ codebooks, the build parameters, and the slot /
  tombstone manifests — a few KB of round-6 doubles, DRIVER-RESIDENT
  by construction (n_centroids x dim + m x k_codes x dim/m floats);
- **codes** (``codes/`` parquet, partitioned by ``ivf_list``): one row
  per (vector, spill replica) carrying (vec_id, primary_list,
  pq_codes) — m small ints per vector instead of the float vector, the
  memory hierarchy of Jegou et al. 2011 (codes resident, vectors
  fetched only for the re-rank shortlist);
- **tombstones** (``tombstones/`` parquet): committed waves of DELETED
  vector ids — the takedown/retraction lane (see ivfadc_delete_ids);
- the **vectors** stay in their source table — the probe touches them
  only for the final ``k_cand``-row exact re-rank.

Layout choice — PARTITIONED by list id, not hash-bucketed: the probe's
access pattern is ``ivf_list IN (<n_probe driver-computed ids>)``,
which partition pruning turns into reading n_probe/n_centroids of the
codes directory (verify: PartitionFilters in .explain). A bucketed
table (sources/bucketed.py) optimizes key-equality JOINS by removing
their Exchange; the probe never joins on ivf_list, so bucketing buys
nothing here while directory layout buys the whole scan reduction —
same reasoning as ivf_build_index (similarity.py).

Slot allocation — writer wave ids are DECOUPLED from storage slots
(r13 advice, high): the meta manifest maps each writer-assigned wave
id to an internal slot drawn from a monotone ``next_slot`` allocator
that is never reused, so an offline compaction (which folds into a
fresh allocator slot) can never collide with the slot a resumed
writer's next wave would target — the collision that previously let a
post-compaction extension overwrite the whole compacted directory.

Incremental extension (the WaveCountState pattern applied to vectors):
new-vector waves are encoded with the FROZEN centroids + codebooks (a
few KB read from meta) and committed as their own codes directory in
the meta manifest (write-then-commit — crash-safe and retry-idempotent,
see codes_path) — a map-only pass over the new wave, one matmul per
Arrow batch, zero shuffles, never re-reading history. Quantizer drift
under distribution shift is a REBUILD decision (compare per-list
residual energy — ivfadc_index_health feeds ivfadc_choose_rebuild),
not an append-time one, exactly as published IVF systems operate.

Deletion (takedown) is the ReplacingMergeTree version-supersedence
idea applied to index state (reference: the latest-wins contract of
/root/reference/src/1-naive.test.ts:21-28): a tombstone wave commits a
set of ids whose rows every reader excludes from that commit on;
compaction is the merge that physically reaps them. Tombstones are
TERMINAL until a compaction or rebuild re-encodes a corpus that no
longer contains the ids — re-ingesting a deleted id keeps it excluded
(the safe takedown default), loudly documented on ivfadc_delete_ids.

Every stage reuses the engine-portable rules (round-6 cosine rank,
round-6 argmin codes, decimal-exact ADC), so a DuckDB oracle replays
build + extend + delete + probe bit-for-bit (plans/llm.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.catalog import read_parquet
from .pq import (
    _centroid_df,
    pq_encode,
    pq_residual_codebooks,
)
from .similarity import (
    ivf_assign,
    ivf_probe_lists,
    ivf_train_portable,
)

_META = "meta.json"
_CODES = "codes"
_TOMBS = "tombstones"


def _meta_path(workdir: str) -> str:
    return os.path.join(workdir, _META)


def codes_path(workdir: str, slot: int = 0) -> str:
    """One codes directory PER SLOT (``slot=0`` = the first build,
    higher slots = extensions / rebuilds / compactions — partition-style
    naming so the union read discovers a consistent ``(wave, ivf_list)``
    layout under one basePath), each partitioned by ``ivf_list``. The
    meta manifest lists the COMMITTED slots, and readers union exactly
    those paths — so every mutation is write-dir-then-commit-meta: a
    crash between the two leaves an orphan directory no reader sees,
    and a retried extension overwrites its own slot instead of
    double-appending (review finding: a bare mode-append extend
    replayed after a crash duplicated the wave's codes in the health
    report). Slots come from the meta's monotone ``next_slot``
    allocator and are never reused, so no two writers ever target the
    same directory (r13 advice: compaction previously reused
    max(waves)+1, exactly the slot a resumed wave-gate's next wave
    mapped to)."""
    return os.path.join(workdir, _CODES, f"wave={slot}")


def tombstone_path(workdir: str, slot: int = 0) -> str:
    """One DELETED-ids directory per tombstone wave (same
    write-then-commit protocol as codes_path — an uncommitted tombstone
    dir is invisible to readers)."""
    return os.path.join(workdir, _TOMBS, f"tomb={slot}")


def _read_codes(spark: SparkSession, workdir: str, meta: dict) -> DataFrame:
    """Union of the manifest's committed slot directories (partition
    pruning on ivf_list rides the shared basePath discovery; orphan
    uncommitted slot dirs are excluded by passing explicit paths)."""
    paths = [codes_path(workdir, int(k)) for k in sorted(meta["waves"], key=int)]
    return spark.read.option("basePath", os.path.join(workdir, _CODES)).parquet(
        *paths
    )


def _read_tombstones(
    spark: SparkSession, workdir: str, meta: dict
) -> DataFrame | None:
    """Distinct deleted ids across the committed tombstone waves, or
    None when nothing was deleted (the common case pays zero plan
    nodes). KB-to-MB scale by contract — takedown lists, not corpus
    rewrites — so callers broadcast it into an anti-join."""
    if not meta.get("tombstones"):
        return None
    paths = [
        tombstone_path(workdir, int(k))
        for k in sorted(meta["tombstones"], key=int)
    ]
    ids = spark.read.option("basePath", os.path.join(workdir, _TOMBS)).parquet(
        *paths
    )
    idc = meta.get("id_col", "vec_id")
    return ids.select(idc).distinct()


def _exclude_tombstones(rows: DataFrame, workdir: str, meta: dict) -> DataFrame:
    """Anti-join ``rows`` against the committed tombstone set on the
    index id column — a broadcast anti-join (tombstone sets are
    takedown-scale, not corpus-scale; at millions of ids this is a few
    MB on the wire and still map-side)."""
    tombs = _read_tombstones(rows.sparkSession, workdir, meta)
    if tombs is None:
        return rows
    return rows.join(F.broadcast(tombs), meta.get("id_col", "vec_id"), "left_anti")


def load_meta(workdir: str) -> dict:
    """Read and normalize the committed meta: metas written before the
    slot-allocator / tombstone fields existed get the equivalent
    defaults (next_slot = one past the manifest head, explicit
    wave ids previously WERE slots, no tombstones)."""
    with open(_meta_path(workdir)) as f:
        meta = json.load(f)
    meta.setdefault("next_slot", max(map(int, meta["waves"])) + 1)
    # pre-allocator metas: explicit wave ids WERE slots (the old
    # ivfadc_extend_index contract), so map each committed slot to
    # itself — a redelivered wave then overwrites its own slot instead
    # of double-appending into a fresh one (r14 review finding)
    meta.setdefault("wave_slots", {k: int(k) for k in meta["waves"]})
    meta.setdefault("tombstones", {})
    meta.setdefault("id_col", "vec_id")
    return meta


def _save_meta(workdir: str, meta: dict) -> None:
    # tmp + rename: a crash mid-write must not leave a torn meta that a
    # later get-or-build would read as a valid (wrong) index
    tmp = _meta_path(workdir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(workdir))


def _encode_codes(
    vectors: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    spill: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, primary_list, pq_codes, ivf_list) rows for ``vectors``
    under FROZEN index artifacts — the shared encode pass of build and
    extend. One matmul per Arrow batch for the spill assignment (as an
    ARRAY, so the primary list and the replicas come from the same
    pass), a broadcast join for the primary centroid, elementwise
    residual, one matmul per subspace for the codes, then an
    in-expression explode into the spill replicas. Map-only: ZERO
    shuffles before the partitioned write."""
    spark = vectors.sparkSession
    assigned = ivf_assign(
        vectors, cents, vec_col=vec_col, portable=True, spill=spill,
        list_array_col="_lists",
    ).withColumn("primary_list", F.element_at("_lists", 1))
    prim_cents = F.broadcast(
        _centroid_df(spark, cents).withColumnRenamed("ivf_list", "primary_list")
    )
    res = assigned.join(prim_cents, "primary_list").withColumn(
        "_resid", F.zip_with(F.col(vec_col), F.col("_cvec"), lambda a, b: a - b)
    )
    coded = pq_encode(res, books, id_col=id_col, vec_col="_resid")
    return coded.select(
        id_col, "primary_list", "pq_codes", F.explode("_lists").alias("ivf_list")
    )


def ivfadc_build_index(
    embeddings: DataFrame,
    workdir: str,
    *,
    train_df: DataFrame | None = None,
    n_centroids: int = 128,
    refine_iters: int = 2,
    m: int = 16,
    k_codes: int = 32,
    spill: int = 2,
    book_refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    writer_wave: int | None = None,
) -> dict:
    """Build and persist the IVFADC index for ``embeddings`` under
    ``workdir`` (module docstring). ``train_df`` optionally restricts
    quantizer/codebook TRAINING to a subset (the incremental twin
    trains on its first wave and encodes everything ever appended with
    those frozen artifacts); encoding always covers ``embeddings``.
    ``book_refine_iters`` trains the residual sub-codebooks with
    per-subspace portable Lloyd (pq_residual_codebooks) — at 2 the
    measured recall hits the coarse-stage candidate ceiling
    (BASELINE.md r13). ``writer_wave`` records which wave-gate wave
    produced this build in the meta's wave->slot map (the
    IncrementalAnnIndexer contract).

    REBUILD safety (r13 advice, medium): when a committed meta already
    exists, the new codes are written to a FRESH allocator slot — never
    over a directory the live manifest references — and readers switch
    atomically at the meta rename; the superseded slot dirs are reaped
    only after the commit. A crash mid-encode leaves the old index
    fully readable; a crash after commit leaves orphan dirs no reader
    sees. Tombstones committed against the old index are CARRIED
    FORWARD (a rebuild re-encodes whatever corpus it is given, which
    may still contain taken-down ids — terminal-until-compaction is
    the safe default; see module docstring). Returns the meta dict."""
    try:
        old_meta = load_meta(workdir)
    except (OSError, ValueError, KeyError):
        old_meta = None
    train = train_df if train_df is not None else embeddings
    cents = ivf_train_portable(
        train, n_centroids=n_centroids, refine_iters=refine_iters,
        id_col=id_col, vec_col=vec_col,
    )
    books = pq_residual_codebooks(
        train, cents, m=m, k_codes=k_codes, id_col=id_col, vec_col=vec_col,
        refine_iters=book_refine_iters,
    )
    os.makedirs(workdir, exist_ok=True)
    slot = 0 if old_meta is None else int(old_meta["next_slot"])
    rows = _encode_codes(embeddings, cents, books, spill, id_col, vec_col)
    rows.write.mode("overwrite").partitionBy("ivf_list").parquet(
        codes_path(workdir, slot)
    )
    # staleness fingerprint for get-or-build callers: a probe against an
    # index built from a different corpus is a silent wrong answer, not
    # a crash. Callers that already counted pass it in (avoids a second
    # corpus-wide action — review finding).
    n = n_vectors if n_vectors is not None else embeddings.count()
    meta = {
        "cents": cents,
        "books": books,
        "params": {
            "n_centroids": n_centroids,
            "refine_iters": refine_iters,
            "m": m,
            "k_codes": k_codes,
            "spill": spill,
            "book_refine_iters": book_refine_iters,
        },
        "id_col": id_col,
        "waves": {str(slot): n},
        # prior writer waves are FOLDED into the rebuild (their rows are
        # re-encoded from the rebuild corpus): keep their ids mapped to
        # None so a crash-replayed old wave is refused loudly
        # (ivfadc_extend_index) instead of double-appending — the
        # compaction rule; dropping the map entirely silently disarmed
        # the replay protection (r14 review finding)
        "wave_slots": {
            **(
                {w: None for w in old_meta["wave_slots"]}
                if old_meta is not None
                else {}
            ),
            **(
                {str(int(writer_wave)): slot}
                if writer_wave is not None
                else {}
            ),
        },
        "next_slot": slot + 1,
        "tombstones": {} if old_meta is None else old_meta["tombstones"],
        "n_vectors": n,
    }
    _save_meta(workdir, meta)
    if old_meta is not None:
        import shutil

        for s in old_meta["waves"]:
            if int(s) != slot:
                shutil.rmtree(codes_path(workdir, int(s)), ignore_errors=True)
    return meta


def ivfadc_extend_index(
    new_vectors: DataFrame,
    workdir: str,
    *,
    wave_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fold a wave of NEW vectors into the persisted index: encode them
    under the frozen centroids + codebooks and write the wave's own
    codes directory, then commit it to the meta manifest — a map-only
    pass over the wave, no history re-read (module docstring; see
    codes_path for why write-then-commit makes a crashed or retried
    extend safe). ``wave_id`` is the WRITER's wave number; the meta
    maps it to an internal allocator slot, so a redelivered wave
    overwrites its own slot (the streaming gates' replay contract)
    while a new wave always gets a never-used slot — even right after
    an offline compaction (r13 advice: ids can no longer collide with
    compaction slots). A replay of a wave the compaction already FOLDED
    is refused loudly (applying it again would double-count). Caller
    owns id uniqueness across waves (the usual ingest contract).
    Returns the updated meta."""
    meta = load_meta(workdir)
    p = meta["params"]
    if wave_id is not None and int(wave_id) < 1:
        raise ValueError("writer wave ids start at 1 (the build wave)")
    replay = wave_id is not None and str(int(wave_id)) in meta["wave_slots"]
    if replay:
        slot = meta["wave_slots"][str(int(wave_id))]
        if slot is None:
            raise ValueError(
                f"extension wave {int(wave_id)} was folded by an offline "
                "compaction; replaying it would double-count its rows — "
                "resume the writer from a fresh wave id or rebuild"
            )
    else:
        slot = int(meta["next_slot"])
    rows = _encode_codes(
        new_vectors, meta["cents"], meta["books"], p["spill"], id_col, vec_col
    )
    rows.write.mode("overwrite").partitionBy("ivf_list").parquet(
        codes_path(workdir, slot)
    )
    meta["waves"][str(slot)] = new_vectors.count()
    if wave_id is not None:
        meta["wave_slots"][str(int(wave_id))] = slot
    meta["next_slot"] = max(int(meta["next_slot"]), slot + 1)
    meta["n_vectors"] = sum(meta["waves"].values())
    _save_meta(workdir, meta)
    return meta


def ivfadc_delete_ids(
    deleted: DataFrame,
    workdir: str,
) -> dict:
    """Commit a TOMBSTONE wave — the takedown/retraction lane of the
    lifecycle (r13 verdict item 1). ``deleted`` is a one-column frame
    of index ids (any extra columns are dropped); the distinct ids are
    written to a fresh tombstone directory and committed to the meta
    manifest (write-then-commit, same crash story as codes_path). From
    the commit on, every reader — probe, health, tune — excludes the
    ids via a broadcast anti-join; the codes rows stay on disk until
    ivfadc_compact_index physically reaps them (logical-delete-then-
    merge, the ReplacingMergeTree supersedence idea applied to index
    state). Deleting an id is TERMINAL until a compaction of a corpus
    that no longer contains it: a later extension wave re-adding the id
    stays excluded — the safe default for licensing takedowns, where
    an accidental re-ingest must not resurrect removed content.
    Retried deletes are naturally idempotent (tombstones are a set —
    a duplicate wave changes no reader's result). Scale contract:
    tombstone sets are takedown-scale (KB–MB of ids), never a corpus
    rewrite; bulk-retract more than that and a rebuild from the
    filtered corpus is the cheaper operation. Returns the updated
    meta."""
    meta = load_meta(workdir)
    idc = meta["id_col"]
    slot = max((int(k) for k in meta["tombstones"]), default=-1) + 1
    ids = deleted.select(idc).distinct()
    path = tombstone_path(workdir, slot)
    ids.write.mode("overwrite").parquet(path)
    # count the WRITTEN artifact (explicit schema: an all-empty write
    # leaves no part files and schema inference would fail): one
    # evaluation of `deleted`, and the committed count always describes
    # the committed file (r14 review findings). An EMPTY wave is not
    # committed at all — a zero-row dir in the manifest would poison
    # every later _read_tombstones inference.
    import shutil

    n = deleted.sparkSession.read.schema(ids.schema).parquet(path).count()
    if n == 0:
        shutil.rmtree(path, ignore_errors=True)
        return meta
    meta["tombstones"][str(slot)] = n
    _save_meta(workdir, meta)
    return meta


def ivfadc_compact_index(spark: SparkSession, workdir: str) -> dict:
    """Fold every committed wave into ONE codes directory and
    physically REAP tombstoned rows — the bucketed-state compaction
    story applied to the index: each extension adds a root path (and
    its file-listing/footer overhead) to every probe, and each
    tombstone adds an anti-join side, so after many waves the manifest
    is folded and the deleted rows drop out of the artifact for good.
    The fold writes the union (minus tombstoned ids, minus the
    basePath-discovered ``wave`` partition column — r13 advice: leaving
    it wrote stale wave numbers as a data column) to a FRESH allocator
    slot (never overwriting a directory the manifest still references —
    rewriting a live dir in place would give readers a torn directory
    for the whole rewrite window), commits a one-entry manifest with
    every folded writer wave marked as such (readers switch atomically
    at the meta rename), then reaps the old dirs; a crash at any step
    leaves either the old manifest over intact dirs or the new one over
    the compacted dir, never a partial read. Result-identical by
    construction: codes rows are per-vector facts, readers already
    excluded tombstoned ids, and probe/health read the manifest union
    either way (tested). Safe to run OFFLINE relative to a wave gate:
    the gate's next wave maps to a fresh allocator slot (never the
    compaction's), and a replay of a FOLDED wave is refused loudly
    (ivfadc_extend_index), not silently absorbed."""
    import shutil

    meta = load_meta(workdir)
    if len(meta["waves"]) == 1 and not meta["tombstones"]:
        return meta  # already compact, nothing to reap
    old_slots = [int(k) for k in meta["waves"]]
    old_tombs = [int(k) for k in meta["tombstones"]]
    slot = int(meta["next_slot"])
    live = _exclude_tombstones(
        _read_codes(spark, workdir, meta), workdir, meta
    ).drop("wave")
    live.write.mode("overwrite").partitionBy("ivf_list").parquet(
        codes_path(workdir, slot)
    )
    # live VECTOR count (codes carry one row per spill replica, so a
    # raw row count would overstate by ~spill×): reusing n_vectors
    # would keep counting reaped vectors; one distinct-id action is
    # fine for an offline fold
    idc = meta["id_col"]
    n_live = (
        read_parquet(spark, codes_path(workdir, slot))
        .select(idc)
        .distinct()
        .count()
        if old_tombs
        else meta["n_vectors"]
    )
    meta["waves"] = {str(slot): n_live}
    meta["wave_slots"] = {w: None for w in meta["wave_slots"]}
    meta["tombstones"] = {}
    meta["next_slot"] = slot + 1
    meta["n_vectors"] = n_live
    _save_meta(workdir, meta)
    for s in old_slots:
        shutil.rmtree(codes_path(workdir, s), ignore_errors=True)
    for t in old_tombs:
        shutil.rmtree(tombstone_path(workdir, t), ignore_errors=True)
    return meta


class IncrementalAnnIndexer:
    """Wave-gate ingestor for the persisted IVFADC index — the
    batch / incremental / STREAMING triangle closed for similarity
    search, on the same gate protocol as the curation scorers
    (streaming/stream_curation.py): ``ingest(df, wave_id)`` builds the
    index on the FIRST wave (training the coarse quantizer + residual
    codebooks there — the frozen-artifact contract the incremental twin
    already oracles) and extends it with every later wave (map-only
    encode + manifest commit), returning the wave's committed code rows
    as the batch output. Replay story: the gate's ascending-wave
    contract means a crash-replayed wave re-runs before any later wave;
    a replayed build re-trains on identical rows (deterministic, into a
    FRESH slot committed atomically — never overwriting the live build
    dir in place, r13 advice) and a replayed extension overwrites its
    own manifest slot (codes_path) — both idempotent. A wave-1 arriving
    AFTER later waves committed is a STALE writer, not a replay, and is
    refused (r13 verdict item 2: silently rebuilding would truncate the
    manifest to that one wave)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        n_centroids: int = 128,
        refine_iters: int = 2,
        m: int = 16,
        k_codes: int = 32,
        spill: int = 2,
    ):
        self.spark = spark
        self.workdir = workdir
        self.params = dict(
            n_centroids=n_centroids, refine_iters=refine_iters, m=m,
            k_codes=k_codes, spill=spill,
        )

    def ingest(self, df: DataFrame, wave_id: int | None = None) -> DataFrame:
        built = os.path.exists(_meta_path(self.workdir))
        if not built or (wave_id is not None and int(wave_id) == 1):
            # wave 1 builds — including a crash-REPLAYED wave 1 that
            # finds the meta already committed (sink completed,
            # checkpoint didn't): the rebuild re-trains on identical
            # rows, deterministically, into a fresh slot. But a wave 1
            # arriving after LATER waves committed is a stale writer:
            # rebuilding would silently drop those waves (r13 verdict
            # item 2 — the extend path has the mirror guard).
            if built:
                meta = load_meta(self.workdir)
                # legitimate ONLY when wave 1 is provably the sole
                # content of the index: its slot is live and is the
                # single manifest entry. Anything else — later writer
                # waves, anonymous extensions (extra manifest slots),
                # or a compaction fold (wave 1's slot mapped to None) —
                # means a rebuild from wave-1 rows would truncate
                # committed data (r14 review finding: the earlier
                # keys-only check passed the post-compaction case).
                slot1 = meta["wave_slots"].get("1")
                sole = (
                    list(meta["wave_slots"]) == ["1"]
                    and slot1 is not None
                    and list(meta["waves"]) == [str(slot1)]
                )
                if not sole:
                    raise ValueError(
                        "stale wave-1 replay: the index holds more than "
                        "wave 1 (later waves, anonymous extensions, or a "
                        "compaction fold); rebuilding would truncate the "
                        "manifest — renumber the writer or rebuild "
                        "explicitly"
                    )
            meta = ivfadc_build_index(
                df, self.workdir, train_df=df, writer_wave=wave_id or 1,
                **self.params,
            )
            slot = next(iter(meta["waves"]))
        else:
            meta = ivfadc_extend_index(df, self.workdir, wave_id=wave_id)
            slot = (
                meta["wave_slots"][str(int(wave_id))]
                if wave_id is not None
                else int(meta["next_slot"]) - 1
            )
        return read_parquet(self.spark, codes_path(self.workdir, int(slot)))

    def probe(self, embeddings: DataFrame, probe: list[float], **kw) -> DataFrame:
        return ivfadc_probe_index(embeddings, self.workdir, probe, **kw)

    def delete(self, deleted: DataFrame) -> dict:
        return ivfadc_delete_ids(deleted, self.workdir)

    def reset(self) -> None:
        import shutil

        shutil.rmtree(self.workdir, ignore_errors=True)


def ivfadc_index_health(
    embeddings: DataFrame,
    workdir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-list health of the persisted index — the REBUILD-DECISION
    surface (module docstring: quantizer drift under distribution shift
    is detected by monitoring, not guessed at append time). One row per
    inverted list: ``n_vectors`` (primary assignments, tombstoned ids
    excluded — deleted rows must not keep a drifting list looking
    healthy) and ``resid_energy`` — the fraction of vector energy the
    coarse quantizer leaves in the residual, Σ round(r·r, 6) / Σ
    round(v·v, 6) as a ratio of decimal-exact sums (the r12 diagnosis
    metric: ~89% residual energy under sampled centroids is what made
    residual encoding HURT; a drifting corpus pushes this ratio up, and
    a sustained rise is the rebuild trigger — ivfadc_choose_rebuild
    consumes this report). Reads the codes artifact for the primary
    assignment (no re-assignment pass) and joins the vectors once;
    per-vector energies square ROUND-6 components in exact decimal
    arithmetic (see the inline note — both a whole-vector float fold
    and rounded double products measurably diverge by one ulp between
    engines on this data), so the oracle replays the report
    bit-for-bit.

    Scale contract — this is an OFFLINE monitoring job, run at
    compaction cadence, not per query: the vectors⟷codes join on
    ``vec_id`` shuffles BOTH sides (the codes artifact is laid out by
    ivf_list for probe pruning, which does not co-locate an id join; a
    deployment that runs health at high frequency would keep the
    bucketed-vectors layout sources/bucketed.py maintains for the
    incremental-dedup state and bucket both sides by id). The probe
    path shares none of this cost."""
    spark = embeddings.sparkSession
    meta = load_meta(workdir)
    prim = _exclude_tombstones(
        _read_codes(spark, workdir, meta)
        .filter(F.col("ivf_list") == F.col("primary_list"))
        .select(id_col, "primary_list"),
        workdir,
        meta,
    )
    cents_df = F.broadcast(
        _centroid_df(spark, meta["cents"]).withColumnRenamed(
            "ivf_list", "primary_list"
        )
    )
    # energies are computed over ROUND-6 components squared in DECIMAL
    # arithmetic: round(x, 6) casts to an exact decimal(18,6) (the
    # established portable rule) and decimal x decimal is EXACT — no
    # double product ever rounds. Squaring the double first
    # (round(x*x, 6)) measurably diverged by one ulp on a few lists:
    # components here are near-6-decimal values, so their squares land
    # ON the 7th-decimal rounding tie, which the two engines' round
    # implementations resolve differently. The merge re-cast keeps the
    # accumulator type fixed (decimal + widens precision by one);
    # 64 summands stay far inside the integer digits.
    def energy(a):
        # widen to double BEFORE rounding: Spark's Round on a FLOAT
        # rounds the float's shortest decimal repr, while the oracle
        # rounds the double-widened binary value — they can disagree at
        # the 7th-decimal tie (review finding; _r is already double via
        # zip_with, the raw embedding column is not)
        d6 = lambda x: F.round(x.cast("double"), 6).cast("decimal(18,6)")
        return F.aggregate(
            F.transform(a, lambda x: (d6(x) * d6(x)).cast("decimal(28,12)")),
            F.lit(0).cast("decimal(28,12)"),
            lambda acc, x: (acc + x).cast("decimal(28,12)"),
        )
    res = (
        embeddings.join(prim, id_col)
        .join(cents_df, "primary_list")
        .withColumn(
            "_r", F.zip_with(F.col(vec_col), F.col("_cvec"), lambda a, b: a - b)
        )
        .select(
            "primary_list",
            energy(F.col("_r")).alias("_rr"),
            energy(F.col(vec_col)).alias("_vv"),
        )
    )
    return (
        res.groupBy(F.col("primary_list").alias("ivf_list"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(
                F.sum("_rr").cast("double") / F.sum("_vv").cast("double"), 6
            ).alias("resid_energy"),
        )
    )


def _probe_min_ranks(
    embeddings: DataFrame,
    workdir: str,
    probe: list[float],
    *,
    k: int = 10,
    exclude_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """For one probe vector: the exact top-``k`` neighbors' MINIMUM
    probed-list ranks — neighbor x becomes a candidate at every budget
    n_probe >= min over x's spill lists of that list's rank in the
    probe's list ordering. This is the tuning primitive behind the
    ceiling curve (plans ann_ivfadc_tune_nprobe) and the budget picker:
    the fraction of ranks <= n IS the candidate-recall ceiling at
    budget n, and the r13 decomposition showed the trained ADC stage is
    lossless given its candidates, so the ceiling curve IS the recall
    curve. Cost: one k-row exact top-k plus one semi-joined codes scan
    — an offline tuning job, never the probe path. Tombstoned ids are
    excluded (a deleted neighbor is not a recall target). Returns <= k
    ints, driver-side."""
    from .similarity import cosine, ivf_probe_lists

    spark = embeddings.sparkSession
    meta = load_meta(workdir)
    cents = meta["cents"]
    order = ivf_probe_lists(cents, list(probe), len(cents), portable=True)
    rank_map = F.create_map(
        *[x for i, l in enumerate(order) for x in (F.lit(l), F.lit(i + 1))]
    )
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    base = _exclude_tombstones(embeddings, workdir, meta)
    if exclude_id is not None:
        base = base.filter(F.col(id_col) != exclude_id)
    topk = (
        base.select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("_c"),
        )
        .orderBy(F.desc("_c"), F.asc(id_col))
        .limit(k)
        .select(id_col)
    )
    rows = (
        _read_codes(spark, workdir, meta)
        .join(topk, id_col, "left_semi")
        .select(id_col, F.element_at(rank_map, F.col("ivf_list")).alias("_rk"))
        .groupBy(id_col)
        .agg(F.min("_rk").alias("_mr"))
        .collect()
    )
    return [int(r._mr) for r in rows]


def ivfadc_pick_n_probe(
    embeddings: DataFrame,
    workdir: str,
    probes: list[list[float]],
    *,
    target: float,
    k: int = 10,
    exclude_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Pick the CHEAPEST probe budget meeting a recall target, off the
    priced tuning surface (r13 verdict item 8): the smallest n_probe
    whose mean candidate ceiling over the sample ``probes`` reaches
    ``target`` (= mean recall, since the trained ADC stage is lossless
    given its candidates — BASELINE.md r13). Falls back to all lists
    when the target is unreachable even exhaustively (the honest
    answer: the ceiling at n_probe = n_centroids is the spill-coverage
    limit). Offline tuning cost: len(probes) exact top-k jobs; the
    chosen budget keeps every future probe in the probe-only cost
    class — directory-pruned codes scan, KB meta, k_cand re-rank."""
    if not probes:
        raise ValueError("probes must be non-empty to price a budget")
    meta = load_meta(workdir)
    n_lists = len(meta["cents"])
    all_mrs = []
    for i, p in enumerate(probes):
        ex = exclude_ids[i] if exclude_ids is not None else None
        all_mrs.append(
            _probe_min_ranks(
                embeddings, workdir, p, k=k, exclude_id=ex,
                id_col=id_col, vec_col=vec_col,
            )
        )
    for n in range(1, n_lists + 1):
        mean_ceiling = sum(
            sum(1 for mr in mrs if mr <= n) / float(k) for mrs in all_mrs
        ) / len(all_mrs)
        if mean_ceiling >= target:
            return n
    return n_lists


def ivfadc_record_baseline(
    embeddings: DataFrame,
    workdir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Record the index's POST-BUILD corpus residual energy (the
    vector-weighted mean of the health report's per-list resid_energy)
    in the meta as ``resid_energy0`` — the drift reference
    ivfadc_choose_rebuild compares against. Stored separately from the
    build because it costs one health pass over the corpus; run it once
    after build (ivfadc_auto_rebuild re-records it after every rebuild
    it performs). Returns the recorded value."""
    e = _corpus_resid_energy(
        embeddings, workdir, id_col=id_col, vec_col=vec_col
    )
    meta = load_meta(workdir)
    meta["resid_energy0"] = e
    _save_meta(workdir, meta)
    return e


def _corpus_resid_energy(
    embeddings: DataFrame,
    workdir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Vector-weighted mean of the health report's per-list
    resid_energy, in the engine-portable decimal form: each round-6
    per-list ratio is an exact DECIMAL(18,6), the n-weighted numerator
    sums exactly, and ONE double division + HALF_UP round(6) at the end
    — so a DuckDB oracle replays the decision metric bit-for-bit (a
    double-accumulated weighted mean would depend on summation order)."""
    h = ivfadc_index_health(embeddings, workdir, id_col=id_col, vec_col=vec_col)
    row = h.agg(
        F.round(
            F.sum(
                F.col("resid_energy").cast("decimal(18,6)")
                * F.col("n_vectors")
            ).cast("double")
            / F.sum("n_vectors").cast("double"),
            6,
        ).alias("_e")
    ).collect()[0]
    return float(row._e) if row._e is not None else 0.0


def ivfadc_choose_rebuild(
    embeddings: DataFrame,
    workdir: str,
    *,
    margin: float = 0.05,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The health->rebuild DECISION (r13 verdict item 5): read the
    per-list health report and decide whether quantizer drift warrants
    retraining. The metric is the vector-weighted mean of per-list
    resid_energy — the fraction of corpus energy the frozen coarse
    quantizer fails to explain. The decision is BASELINE-RELATIVE by
    default: the healthy level depends on data dimensionality and
    centroid count (measured 0.75 at sf0.001/64 lists vs the r12
    untrained-quantizer diagnosis of ~0.89 at sf0.01/128), so an
    absolute cut is brittle across configs; instead the rule fires when
    the current energy climbs more than ``margin`` above the
    post-build reference recorded by ivfadc_record_baseline (a +0.8
    component shift measured +0.12 — comfortably above the default
    0.05 margin, while session-to-session noise on a static corpus is
    ~0). Passing an explicit ``threshold`` (or probing an index with no
    recorded baseline) falls back to the absolute rule for callers that
    calibrated one. Driver-side over the health report's n_centroids
    rows — KB-scale, like every decision input in this module."""
    energy = _corpus_resid_energy(
        embeddings, workdir, id_col=id_col, vec_col=vec_col
    )
    meta = load_meta(workdir)
    base = meta.get("resid_energy0")
    if threshold is not None or base is None:
        cut = threshold if threshold is not None else 0.89  # r12 untrained level
        return {
            "resid_energy": energy,
            "baseline": base,
            "threshold": round(cut, 6),
            "rebuild": energy > cut,
        }
    return {
        "resid_energy": energy,
        "baseline": base,
        "threshold": round(base + margin, 6),
        "rebuild": energy > base + margin,
    }


def ivfadc_auto_rebuild(
    embeddings: DataFrame,
    workdir: str,
    *,
    margin: float = 0.05,
    threshold: float | None = None,
    train_df: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[dict, dict]:
    """Close the monitoring loop (r13 verdict item 5): evaluate
    ivfadc_choose_rebuild and, when it fires, retrain the index on the
    CURRENT corpus with the existing build parameters — through
    ivfadc_build_index's rebuild path, so the new artifacts land in a
    fresh slot, readers switch at the atomic meta commit, and committed
    tombstones carry forward — then re-record the drift baseline
    (ivfadc_record_baseline) so the next decision compares against the
    retrained quantizer. Returns (decision, meta) — meta is the
    post-rebuild meta when a rebuild ran, the unchanged one
    otherwise."""
    decision = ivfadc_choose_rebuild(
        embeddings, workdir, margin=margin, threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    )
    meta = load_meta(workdir)
    if decision["rebuild"]:
        p = meta["params"]
        meta = ivfadc_build_index(
            embeddings, workdir, train_df=train_df, id_col=id_col,
            vec_col=vec_col, **p,
        )
        ivfadc_record_baseline(
            embeddings, workdir, id_col=id_col, vec_col=vec_col
        )
        meta = load_meta(workdir)
    return decision, meta


def ivfadc_probe_index(
    embeddings: DataFrame,
    workdir: str,
    probe: list[float],
    *,
    k: int = 10,
    n_probe: int = 24,
    k_cand: int = 80,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-k over the persisted index — the pay-per-query half. Probe
    lists are picked driver-side from the meta centroids; the codes
    scan reads ONLY the probed partitions (directory pruning); ADC is
    one broadcast LUT join + a decimal hash-agg over codes plus the
    round-6 q·c_primary coarse term; only the ``k_cand`` shortlist
    touches float vectors for the exact cosine re-rank. Tombstoned ids
    are excluded from the candidate set (broadcast anti-join — a
    deleted vector must neither surface nor consume a shortlist slot),
    so the takedown lane costs exactly one map-side anti-join and only
    when deletions exist. The scoring tail IS operators.pq.adc_rerank —
    the inline query's, one definition site — so the same value oracle
    replays both."""
    from .pq import adc_rerank

    spark = embeddings.sparkSession
    meta = load_meta(workdir)
    cents, books = meta["cents"], meta["books"]
    if cents and len(probe) != len(cents[0]):
        raise ValueError(f"probe dim {len(probe)} != index dim {len(cents[0])}")
    plists = ivf_probe_lists(cents, probe, n_probe, portable=True)
    # spill replicas carry identical (primary_list, pq_codes) rows —
    # dedup is deferred into adc_rerank's bounded shortlist
    # (dup_bound = spill), which replaces the corpus-side
    # dropDuplicates shuffle with a map-side TakeOrdered (guide §2.4)
    cand = _read_codes(spark, workdir, meta).filter(
        F.col("ivf_list").isin(plists)
    )
    cand = _exclude_tombstones(cand, workdir, meta)
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    return adc_rerank(
        embeddings, cand, books, cents, probe, k=k, k_cand=k_cand,
        id_col=id_col, vec_col=vec_col, list_col="primary_list",
        dup_bound=int(meta["params"]["spill"]),
    )
