"""Similarity search over embedding columns (array<float>).

Extensions beyond the reference surface (SURVEY.md §2.5):

- brute-force cosine top-k: exact baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` — JVM expressions, no Python. One scan,
  one top-k (a TakeOrderedAndProject, no full sort). At 100 TB this is the
  map-side-only pattern: the probe vector is a literal folded into the
  plan (or a broadcast table for batch probes).
- LSH (sign random projection / SRP) variant: the scale path. Sign bits
  from deterministic ±1 hyperplanes over QUANTIZED components — integer
  arithmetic end-to-end, so the signature is bit-for-bit reproducible in
  any engine (the DuckDB oracles replay it in SQL). Top-k probes rank by
  signature Hamming distance and exact-rerank only the nearest slice;
  pair queries pigeonhole-band the bits.
- embedding near-dup pairs: all pairs above a cosine threshold, the
  embedding analog of dedup.jaccard_pairs.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..sources.catalog import read_parquet


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (accumulated in double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _check_probe_dim(
    embeddings: DataFrame, vec_col: str, probe: list[float]
) -> None:
    """Loud probe-dimension check (one-row, one-column scan).

    Without it, ``zip_with`` pads the shorter array with nulls, the dot
    product goes null, and a wrong-dim probe silently returns zero rows
    after the threshold/sort instead of raising (ivf_topk already raises;
    this gives cosine_topk/srp_topk the same contract)."""
    first = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is not None and int(first.d) != len(probe):
        raise ValueError(
            f"probe dim {len(probe)} != embedding dim {int(first.d)}"
        )


def cosine_topk(
    embeddings: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine to a literal probe vector.

    The probe becomes an array literal in the plan; orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heap + driver merge of k rows,
    never a global sort).
    """
    _check_probe_dim(embeddings, vec_col, probe)
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    df = embeddings
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return (
        df.select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# --- SRP-LSH (sign random projection) search ---------------------------------

_QUANT = 1_000_000.0  # quantization step (1e-6) for portable signatures


def _plane_signs(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic ±1 (Rademacher) hyperplane matrix: component (i, j) is
    +1 iff the first hex digit of md5("srp:i:j") is odd. Sign/Rademacher
    entries are a standard SRP family (Achlioptas-style sign projections
    preserve angles like Gaussian ones), and the md5 derivation lets every
    engine replay the planes EXACTLY — no stored weights, no RNG, and no
    transcendental functions whose last-ulp behavior differs per libm.

    (Round 2 used sha256+Box-Muller Gaussian planes: correct, but log/cos
    round differently across engines, so a DuckDB oracle could disagree on
    a sign bit whenever a dot product lands within float error of zero.
    ±1 planes over quantized components make the signature bit-for-bit
    portable — see srp_signature_words.)"""
    import hashlib

    s = np.empty((n_planes, dim), dtype=np.int64)
    for i in range(n_planes):
        for j in range(dim):
            h = hashlib.md5(f"srp:{i}:{j}".encode()).hexdigest()
            s[i, j] = 1 if int(h[0], 16) & 1 else -1
    return s


def _quantize(m: np.ndarray) -> np.ndarray:
    """floor(v * 1e6 + 0.5) as int64 — fully-specified rounding, identical
    in every engine (DuckDB: CAST(floor(val * 1000000 + 0.5) AS BIGINT)).
    After this, signature dots are exact integer arithmetic: zero
    cross-engine float drift. 1e-6 resolution is far below embedding
    noise, so recall is unaffected."""
    return np.floor(m * _QUANT + 0.5).astype(np.int64)


def _n_sig_words(n_planes: int) -> int:
    return (n_planes + 62) // 63


def _pack_words(bits: np.ndarray, n_planes: int) -> np.ndarray:
    """Pack B x n_planes bools into B x ceil(n_planes/63) NON-NEGATIVE
    int64 words — 63 bits per word keeps every value positive, so shifts,
    masks, and comparisons behave identically in engines without unsigned
    64-bit integers."""
    words = np.zeros((bits.shape[0], _n_sig_words(n_planes)), dtype=np.int64)
    for b in range(n_planes):
        words[:, b // 63] |= bits[:, b].astype(np.int64) << (b % 63)
    return words


def srp_signature_py(vec, signs: np.ndarray) -> list[int]:
    """Driver-side signature words of ONE vector (e.g. the probe) —
    identical bit derivation to the column form, no Spark job."""
    q = _quantize(np.asarray(vec, dtype=np.float64)[None, :])
    bits = (q @ signs.T) >= 0
    return [int(w) for w in _pack_words(bits, signs.shape[0])[0]]


def srp_signature_words(vec_col: Column, dim: int, n_planes: int) -> Column:
    """Sign-bit signature as array<bigint>: bit i = sign(quantize(v) .
    plane_i), packed 63 bits per word.

    Arrow-batched pandas UDF: one B x d @ d x planes int64 matmul per
    batch. Map-only, no shuffle; the ±1 plane matrix ships by value (a few
    KB). The quantize/pack logic is inlined in the closure (not module-
    global calls) so cloudpickle ships it by value — workers must not need
    this package importable (same constraint as multimodal.extract_features).
    """
    from pyspark.sql.functions import pandas_udf

    signs = _plane_signs(dim, n_planes)
    np_ = n_planes

    @pandas_udf("array<bigint>")
    def sig(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        q = np.floor(m * 1_000_000.0 + 0.5).astype(np.int64)
        bits = (q @ signs.T) >= 0
        words = np.zeros((bits.shape[0], (np_ + 62) // 63), dtype=np.int64)
        for b in range(np_):
            words[:, b // 63] |= bits[:, b].astype(np.int64) << (b % 63)
        return pd.Series(list(words))

    return sig(vec_col)


def _hamming_words(sig_col: Column, probe_words: list[int]) -> Column:
    """Hamming distance between an array<bigint> signature column and a
    literal probe signature: popcount(xor) summed over words — pure JVM
    expressions, whole-stage codegen."""
    h: Column = F.lit(0)
    for w, pw in enumerate(probe_words):
        h = h + F.bit_count(F.element_at(sig_col, w + 1).bitwiseXOR(F.lit(pw)))
    return h


def srp_topk(
    embeddings: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 126,
    candidate_fraction: float = 0.2,
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: rank the corpus by signature Hamming distance to
    the probe and exact-cosine-rerank only the nearest
    ``candidate_fraction`` slice.

    RANK-BASED candidate selection, not a fixed Hamming ball: the radius
    adapts per probe, so recall degrades gracefully on corpora whose true
    neighbors are only moderately close — exactly where a ball either
    misses everything or admits half the corpus. Measured on the synthetic
    corpus (true top-10 at cos 0.28-0.37, near-random — the hard case):
    126-plane signatures at 20% candidates give mean top-10 recall ~0.85
    (round 2's 16-plane Gaussian Hamming ball: 0.74 while scanning 41%).
    Recall 0.8 at <10% candidates is not reachable on data this
    unstructured (measured: 126 planes / 10% -> 0.66); on corpora with
    genuinely near neighbors the Hamming ranking concentrates and the same
    fraction buys recall ~1.

    Selection is deterministic (ties break on id) and integer-exact, so a
    SQL oracle replays it bit-for-bit. The candidate cut costs one
    TakeOrderedAndProject over thin (id, words, vector) rows; at 100 TB
    use the persisted twin (srp_build_index) whose signature table is the
    only thing scanned fully.
    """
    _check_probe_dim(embeddings, vec_col, probe)
    dim = len(probe)
    probe_words = srp_signature_py(probe, _plane_signs(dim, n_planes))
    df = embeddings
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    n = df.count()
    k_cand = max(k, int(math.ceil(n * candidate_fraction)))
    cand = (
        df.withColumn("_sigw", srp_signature_words(F.col(vec_col), dim, n_planes))
        .withColumn("_ham", _hamming_words(F.col("_sigw"), probe_words))
        .orderBy(F.asc("_ham"), F.asc(id_col))
        .limit(k_cand)
    )
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    return (
        cand.select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# --- IVF (inverted-file) coarse-quantized search ------------------------------


def ivf_centroids(
    embeddings: DataFrame,
    *,
    n_centroids: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_mode: str = "xxhash64",
) -> list[list[float]]:
    """Deterministic coarse quantizer: sample ``n_centroids`` vectors by
    hash order (uniform over the corpus, reproducible, no RNG / no k-means
    iterations — for training-data dedup workloads the sampled quantizer is
    within a few points of Lloyd's and is one scan instead of ten).

    ``hash_mode='md5'`` orders by the md5 hex string of the id instead of
    xxhash64 — same uniform sample property, but replayable in ANY engine
    (DuckDB: ORDER BY md5(CAST(id AS VARCHAR)), id), which is what the
    oracle-checked ann_ivf_topk query uses. xxhash64 stays the default
    hot path (no string materialization per row).

    The centroid table is tiny (C x dim floats) and lives on the driver; at
    100 TB it is the broadcast side of every IVF stage.
    """
    order = (
        F.md5(F.col("_id").cast("string"))
        if hash_mode == "md5"
        else F.xxhash64(F.col("_id"))
    )
    rows = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(order, F.col("_id"))
        .limit(n_centroids)
        .collect()
    )
    return [list(map(float, r._v)) for r in rows]


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    list_col: str = "ivf_list",
    portable: bool = False,
    spill: int = 1,
    rank_col: str | None = None,
    list_array_col: str | None = None,
) -> DataFrame:
    """Assign every vector to its ``spill`` nearest centroids (max cosine)
    — the IVF index build.

    ``rank_col``: when set (spill > 1), each (vector, list) row also
    carries its 0-based assignment rank — rank 0 IS the spill=1
    primary assignment (same stable argsort, prefix property), so one
    pass serves both candidate discovery and primary-residual lookup
    (ivfadc_residual_topk) instead of running the corpus-sized matmul
    twice.

    This is the one genuinely numeric-dense step, so it is an Arrow-batched
    pandas UDF doing a single B x d @ d x C matmul per batch (~100x a
    per-element expression fold). Map-only: no shuffle; at scale the result
    is written back partitioned by ``list_col`` so a query touches only the
    probed partitions.

    ``spill > 1`` is multi-assignment (IVF spilling): each vector is
    indexed under its top-``spill`` lists, returned as one row per
    (vector, list) via an in-expression explode — still no shuffle.
    Storage grows by the spill factor; recall at a fixed probe budget
    grows much faster, because boundary vectors (the ones quantization
    loses) sit in BOTH their nearby lists. Measured on the corpus:
    portable top-10 recall 0.57 -> 0.755 for spill 1 -> 2 at ~30%
    scanned (see ann_ivf_topk). Probe-side readers must dedup candidates
    by id (a vector can reach the scan via two probed lists).

    ``portable=True`` switches to the engine-replayable assignment rule:
    cosine = dot/(|v||c|) ROUNDED to 6 decimals, ranked descending with
    ties broken by LOWEST centroid index — exactly `row_number() OVER
    (PARTITION BY id ORDER BY round(cos, 6) DESC, centroid ASC) <= spill`
    in SQL. Rounding makes the rule robust to cross-engine
    float-summation-order noise (~1e-16 relative): a disagreement now
    needs the true cosine within float error of a 5e-7 rounding boundary
    AND a competitor within 1e-6 — jointly negligible — while exact ties
    (common after rounding) break identically everywhere (numpy stable
    argsort keeps the lowest index first, same as the SQL tie-break).
    """
    from pyspark.sql.functions import pandas_udf

    if spill < 1:
        raise ValueError("spill must be >= 1")
    c = np.asarray(centroids, dtype=np.float64)
    c_unit = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    c_norm = np.maximum(np.linalg.norm(c, axis=1), 1e-12)

    if portable:

        @pandas_udf("array<int>")
        def nearest_centroids(v: pd.Series) -> pd.Series:
            m = np.stack(v.to_numpy()).astype(np.float64)
            m_norm = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            cos = np.round((m @ c.T) / (m_norm * c_norm[None, :]), 6)
            top = np.argsort(-cos, axis=1, kind="stable")[:, :spill]
            return pd.Series(list(top))

    else:

        @pandas_udf("array<int>")
        def nearest_centroids(v: pd.Series) -> pd.Series:
            m = np.stack(v.to_numpy()).astype(np.float64)
            m_unit = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            top = np.argsort(-(m_unit @ c_unit.T), axis=1, kind="stable")[:, :spill]
            return pd.Series(list(top))

    assigned = nearest_centroids(F.col(vec_col))
    if list_array_col:
        # UNEXPLODED form: the top-``spill`` lists as one array column,
        # rank = array position. Lets an index BUILD derive the primary
        # list (element 1) and the spill replicas from ONE matmul pass
        # with no self-join back onto the exploded rows
        # (operators/ann_index.py) — the exploded forms below stay the
        # probe/candidate-discovery shape.
        return embeddings.withColumn(list_array_col, assigned)
    if spill == 1:
        out = embeddings.withColumn(list_col, F.element_at(assigned, 1))
        return out.withColumn(rank_col, F.lit(0)) if rank_col else out
    if rank_col:
        return embeddings.select(
            "*", F.posexplode(assigned).alias(rank_col, list_col)
        )
    return embeddings.withColumn(list_col, F.explode(assigned))


def ivf_probe_lists(
    centroids: list[list[float]],
    probe: list[float],
    n_probe: int,
    *,
    portable: bool = False,
) -> list[int]:
    """Driver-side: indexes of the ``n_probe`` centroids nearest the probe
    (pure numpy — no job; the centroid table is driver-resident by design).
    ``portable=True`` applies the same round-6 + lowest-index tie-break
    rule as ``ivf_assign(portable=True)`` so a SQL oracle selects the
    identical lists."""
    c = np.asarray(centroids, dtype=np.float64)
    p = np.asarray(probe, dtype=np.float64)
    if portable:
        cos = np.round(
            (c @ p) / np.maximum(np.linalg.norm(c, axis=1) * np.linalg.norm(p), 1e-12),
            6,
        )
        # sort by (-cos, index): descending cosine, ties to the lowest list
        order = np.lexsort((np.arange(len(c)), -cos))
        return [int(i) for i in order[:n_probe]]
    c_unit = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    p_unit = p / max(np.linalg.norm(p), 1e-12)
    return [int(i) for i in np.argsort(-(c_unit @ p_unit))[:n_probe]]


def ivf_train(
    embeddings: DataFrame,
    *,
    n_centroids: int = 32,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Sampled centroids + ``refine_iters`` Lloyd iterations.

    Each iteration is one distributed pass: map-only nearest-centroid
    assignment, then an element-wise mean per list (posexplode -> two hash
    aggregations; shuffle volume is rows x dim scalars, same as the data).
    On the near-uniform synthetic corpus this lifts top-10 recall at 25%
    candidate fraction from ~0.3 (raw sample) to ~0.7. Deterministic: the
    sample is hash-ordered and means don't depend on row order beyond fp
    addition (averaged per-slot in float64, stable at these magnitudes).
    """
    cents = ivf_centroids(
        embeddings, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    for _ in range(refine_iters):
        assigned = ivf_assign(embeddings, cents, vec_col=vec_col)
        rows = (
            assigned.select("ivf_list", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("ivf_list", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("ivf_list")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("arr"))
            .select("ivf_list", F.transform("arr", lambda s: s.m).alias("c"))
            .collect()
        )
        refined = {r.ivf_list: list(map(float, r.c)) for r in rows}
        # empty lists keep their previous centroid
        cents = [refined.get(i, cents[i]) for i in range(len(cents))]
    return cents


def ivf_train_portable(
    embeddings: DataFrame,
    *,
    n_centroids: int = 32,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """ENGINE-PORTABLE Lloyd refinement: the :func:`ivf_train` loop with
    every float mean replaced by the engine's decimal-exact rule —
    per-(list, slot) mean = round(cast(SUM(decimal(round(val, 6))) as
    double) / count, 6). Summands are round-6 exact decimals (order-
    independent), the one double division is IEEE-exact, and the final
    round-6 strips ulps — so the refined centroids are bit-identical
    across engines and partitionings, and a DuckDB oracle can unroll
    the iterations as CTEs (plans/llm.py's IVFADC replay). Assignment
    uses the portable round-6 cosine rank (ivf_assign portable=True);
    seeding is the md5-ordered sample; empty lists keep their previous
    centroid. Trained coarse quantizers are what make IVFADC residual
    encoding pay off (BASELINE.md r12: sampled centroids leave ~89% of
    vector energy in the residual and recall DROPS; two portable Lloyd
    iterations lift residual recall past both the sampled-residual and
    the raw-PQ operating points). Driver holds n_centroids x dim
    round-6 doubles per iteration — the same bounded footprint as
    ivf_train."""
    cents = ivf_centroids(
        embeddings, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
        hash_mode="md5",
    )
    for _ in range(refine_iters):
        assigned = ivf_assign(embeddings, cents, vec_col=vec_col, portable=True)
        rows = (
            assigned.select("ivf_list", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("ivf_list", "pos")
            .agg(
                F.round(
                    F.sum(F.round(F.col("val").cast("double"), 6).cast("decimal(28,12)"))
                    .cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
            .groupBy("ivf_list")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("arr"))
            .select("ivf_list", F.transform("arr", lambda s: s.m).alias("c"))
            .collect()
        )
        refined = {r.ivf_list: list(map(float, r.c)) for r in rows}
        # empty lists keep their previous centroid
        cents = [refined.get(i, cents[i]) for i in range(len(cents))]
    return cents


def ivf_topk(
    embeddings: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 8,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only the ``n_probe`` inverted lists whose
    centroids are nearest the probe. Candidate fraction ~ n_probe/n_centroids;
    re-ranking uses the exact cosine expression (same rounding as
    :func:`cosine_topk`, so recall is measured apples-to-apples).

    At scale the train/assign steps run once and persist (index build,
    partitioned by list id); the per-query cost is then a partition-pruned
    scan of the probed lists only."""
    cents = ivf_train(
        embeddings,
        n_centroids=n_centroids,
        refine_iters=refine_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    if cents and len(probe) != len(cents[0]):
        raise ValueError(
            f"probe dim {len(probe)} != embedding dim {len(cents[0])}"
        )
    probe_lists = ivf_probe_lists(cents, probe, n_probe)

    assigned = ivf_assign(embeddings, cents, vec_col=vec_col)
    cand = assigned.filter(F.col("ivf_list").isin(probe_lists))
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    return (
        cand.select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_build_index(
    embeddings: DataFrame,
    path: str,
    *,
    n_centroids: int = 32,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    spill: int = 1,
) -> list[list[float]]:
    """Build and PERSIST the IVF index: vectors written to ``path``
    partitioned by inverted-list id, centroids returned (store them beside
    the index — they are a few KB). ``spill > 1`` replicates each vector
    into its top-``spill`` lists (see ivf_assign): storage x spill, much
    higher recall at a fixed probe budget; probe with the same spill so
    candidates dedup.

    This is the pay-once half of IVF at scale: train + assign runs one
    pass over the corpus; afterwards every probe reads ONLY the probed
    list partitions (directory pruning, no per-query assignment pass and
    no full scan).

    ``portable=True`` builds the engine-replayable variant: md5-ordered
    sampled centroids (no Lloyd refinement — float averages are not
    bit-portable across engines) and the round-6 assignment rule, so a
    SQL oracle derives the identical index contents. Sampled centroids
    alone trade recall for replayability (measured on the corpus: top-10
    recall 0.57 at 32/8/spill=1 vs 0.70 Lloyd-refined), but portable +
    spill=2 at 128/24 measures 0.755 at ~33% scanned — above the Lloyd
    path, still bit-replayable. The refined path stays the
    recall-per-byte default (no storage doubling)."""
    if portable:
        cents = ivf_centroids(
            embeddings, n_centroids=n_centroids, id_col=id_col,
            vec_col=vec_col, hash_mode="md5",
        )
    else:
        cents = ivf_train(
            embeddings,
            n_centroids=n_centroids,
            refine_iters=refine_iters,
            id_col=id_col,
            vec_col=vec_col,
        )
    assigned = ivf_assign(
        embeddings, cents, vec_col=vec_col, portable=portable, spill=spill
    )
    assigned.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    return cents


def ivf_probe_index(
    spark,
    path: str,
    centroids: list[list[float]],
    probe: list[float],
    *,
    k: int = 10,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    portable: bool = False,
    spill: int = 1,
) -> DataFrame:
    """Top-k over a persisted IVF index: pick the ``n_probe`` nearest
    centroids driver-side, scan only those list partitions (the filter on
    the partition column prunes directories — verify with
    PartitionFilters in .explain), exact-cosine re-rank. ``portable`` and
    ``spill`` must match the flags the index was built with (portable
    selects the probe-list rule — see ivf_probe_lists; a spilled index
    can surface the same vector via two probed lists, so candidates are
    deduped by id before the re-rank)."""
    if centroids and len(probe) != len(centroids[0]):
        raise ValueError(
            f"probe dim {len(probe)} != index dim {len(centroids[0])}"
        )
    probe_lists = ivf_probe_lists(centroids, probe, n_probe, portable=portable)

    cand = read_parquet(spark, path).filter(F.col("ivf_list").isin(probe_lists))
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    if spill > 1:
        cand = cand.dropDuplicates([id_col])
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    return (
        cand.select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_recall_curve(
    spark,
    path: str,
    centroids: list[list[float]],
    probes: list[list[float]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    exclude_ids: list | None = None,
) -> dict[int, float]:
    """Measured recall@k for EVERY n_probe in one pass per sample probe —
    the n_probe/recall tradeoff surface, so operators pick the probe
    budget from data instead of folklore (r6 verdict item 5's missing
    auto-tune surface).

    Method: for each probe, rank ALL lists by the probe rule, scan the
    full index once computing each vector's exact cosine and its MINIMAL
    probe-rank (min over the vector's spilled assignments — the smallest
    n_probe at which this vector becomes a candidate), and collect only
    the exact top-k rows (k rows to the driver per probe). A true top-k
    member with min-rank r enters the candidate set exactly when
    n_probe >= r, and once a candidate it always survives the re-rank
    (its exact cosine beats every non-top-k candidate), so
    recall@n = |{top-k : min_rank <= n}| / k — computed for all n from
    one k-row sample. One full-index scan per probe is the tuning cost,
    paid offline; the chosen n_probe then serves every query with the
    usual pruned scan.

    Returns {n_probe: mean recall over probes}, monotone nondecreasing,
    with curve[len(centroids)] == 1.0 by construction."""
    n_lists = len(centroids)
    rank_counts = np.zeros(n_lists + 2)
    for pi, probe in enumerate(probes):
        plists = ivf_probe_lists(centroids, probe, n_lists, portable=portable)
        rank_map = F.create_map(
            *[x for i, l in enumerate(plists) for x in (F.lit(l), F.lit(i + 1))]
        )
        probe_col = F.array(*[F.lit(float(x)) for x in probe])
        scan = read_parquet(spark, path)
        if exclude_ids is not None and exclude_ids[pi] is not None:
            # sample probes drawn from the corpus exclude themselves, like
            # every *_topk operator's exclude_id
            scan = scan.filter(F.col(id_col) != exclude_ids[pi])
        rows = (
            scan
            .select(
                F.col(id_col).alias("_id"),
                F.element_at(rank_map, F.col("ivf_list").cast("int")).alias("_rk"),
                F.round(cosine(F.col(vec_col), probe_col), 6).alias("_cos"),
            )
            .groupBy("_id")
            .agg(F.min("_rk").alias("_minrk"), F.max("_cos").alias("_cos"))
            .orderBy(F.desc("_cos"), F.asc("_id"))
            .limit(k)
            .collect()
        )
        for r in rows:
            rank_counts[min(int(r._minrk), n_lists)] += 1
    cum = np.cumsum(rank_counts)[1 : n_lists + 1]
    denom = float(k * max(len(probes), 1))
    return {n + 1: float(cum[n]) / denom for n in range(n_lists)}


def choose_n_probe(curve: dict[int, float], target_recall: float) -> int:
    """Smallest n_probe whose measured recall meets ``target_recall``
    (the full list count if nothing smaller does)."""
    for n in sorted(curve):
        if curve[n] >= target_recall:
            return n
    return max(curve)


def srp_build_index(
    embeddings: DataFrame,
    path: str,
    *,
    n_planes: int = 126,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build and PERSIST an SRP signature index as two tables:

    - ``<path>/signatures``: (id, sig_words) — ~24 bytes/row. This is the
      ONLY thing a probe scans fully; for 64-dim float32 corpora it is
      ~1/10th the data, and the ratio improves with dimension.
    - ``<path>/vectors``: the full rows, hash-clustered and sorted on id
      at write, so the candidate fetch prunes row groups on the join key.

    Returns index metadata for :func:`srp_probe_index` (a handful of ints
    — store beside the index).

    (Round 2 stored vectors replicated into (chunk, key) partitions for a
    fixed-radius Hamming-ball probe. Rank-based probes — see srp_topk —
    obsolete that layout: storage drops from (max_hamming+1)x the corpus
    to 1x + thin signatures, and recall no longer cliffs when true
    neighbors sit outside the ball.)"""
    first = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("cannot build an SRP index over an empty corpus")
    dim = int(first.d)
    embeddings.select(
        F.col(id_col),
        srp_signature_words(F.col(vec_col), dim, n_planes).alias("sig_words"),
    ).write.mode("overwrite").parquet(os.path.join(path, "signatures"))
    (
        embeddings.repartition(F.col(id_col))
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "vectors"))
    )
    return {"n_planes": n_planes, "dim": dim}


def srp_probe_index(
    spark,
    path: str,
    meta: dict,
    probe: list[float],
    *,
    k: int = 10,
    candidate_fraction: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-k over a persisted SRP index: compute the probe's signature
    driver-side (pure numpy, no job), scan the THIN signature table for
    the ``candidate_fraction`` ids nearest by Hamming (deterministic:
    ties break on id), fetch exactly those rows from the clustered vectors
    table via a broadcast semi-join (row-group pruned on the sorted id),
    and exact-cosine re-rank. Row-identical to inline :func:`srp_topk` at
    equal parameters."""
    if len(probe) != meta["dim"]:
        raise ValueError(f"probe dim {len(probe)} != index dim {meta['dim']}")
    probe_words = srp_signature_py(probe, _plane_signs(meta["dim"], meta["n_planes"]))
    sigs = read_parquet(spark, os.path.join(path, "signatures"))
    if exclude_id is not None:
        sigs = sigs.filter(F.col(id_col) != exclude_id)
    n = sigs.count()
    k_cand = max(k, int(math.ceil(n * candidate_fraction)))
    cand = (
        sigs.withColumn("_ham", _hamming_words(F.col("sig_words"), probe_words))
        .orderBy(F.asc("_ham"), F.asc(id_col))
        .limit(k_cand)
        .select(id_col)
    )
    vectors = read_parquet(spark, os.path.join(path, "vectors"))
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    return (
        vectors.join(F.broadcast(cand), id_col, "left_semi")
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def srp_banded_keys(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 56,
    max_hamming: int = 7,
) -> DataFrame:
    """(_id, chunk, key): the pigeonhole band keys of each vector's SRP
    signature — the THIN rows the banded joins run on ((id, chunk, key)
    is ~20 bytes; carrying the embedding through the explode would
    shuffle O(n*chunks*dim) floats on both join sides; vectors are
    joined back once per side for the verify, keyed by id). Shared by
    the pairwise candidate join and the incremental dedup's persisted
    band state so batch and wave paths band identically."""
    chunks = max_hamming + 1
    width = n_planes // chunks
    sigs = embeddings.select(
        F.col(id_col).alias("_id"),
        F.element_at(
            srp_signature_words(F.col(vec_col), dim, n_planes), 1
        ).alias("_sig"),
    )
    return sigs.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("_sig", c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("_id", "cc.chunk", "cc.key")


def srp_banded_candidate_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 56,
    max_hamming: int = 7,
) -> DataFrame:
    """Candidate stage of :func:`cosine_pairs_srp`: distinct (id_a, id_b)
    pairs agreeing on >= one pigeonhole band of the SRP signature.
    Exposed so the candidate fraction — THE cost driver of the banded
    path — is directly measurable (tests/test_operators.py pins it).
    Empty input yields an empty (id_a, id_b) DataFrame, same contract as
    every sibling operator."""
    chunks = max_hamming + 1
    if n_planes < chunks:
        # with fewer planes than chunks the high chunks all read past the
        # signature (constant key 0) and the bucket join degenerates to
        # the O(n^2) cross product this function exists to avoid
        raise ValueError(f"n_planes ({n_planes}) must be >= max_hamming+1 ({chunks})")
    if n_planes > 63:
        # single positive long; the pairs path does not span words
        raise ValueError("n_planes > 63 does not fit the single-word signature")
    width = n_planes // chunks
    first = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        idt = embeddings.schema[id_col].dataType.simpleString()
        return embeddings.sparkSession.createDataFrame(
            [], f"id_a {idt}, id_b {idt}"
        )
    dim = int(first.d)
    banded = srp_banded_keys(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        n_planes=n_planes,
        max_hamming=max_hamming,
    )
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine_pairs_srp(
    embeddings: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 56,
    max_hamming: int = 7,
) -> DataFrame:
    """Near-dup pairs via SRP-signature banding — the scale path for
    :func:`cosine_pairs`, same output schema.

    Pigeonhole-band the ``n_planes`` sign bits into (max_hamming+1)
    chunks; candidate pairs agree on >= one chunk (exact recall for
    signature Hamming <= max_hamming), then verify with exact cosine.
    Unlike SimHash-for-Jaccard, the cosine threshold only maps
    PROBABILISTICALLY to signature Hamming (P[bit differs] = angle/pi),
    so end-to-end recall vs the exact operator is < 1 and tunable via
    (n_planes, max_hamming).

    Defaults are tuned for the near-dup regime the operator exists for
    (cos >= 0.8, P[bit differs] <= 0.21): 56 planes in 8 chunks x 7 bits.
    Measured (tests/test_operators.py pins both): candidate fraction
    0.067 of all pairs on the corpus (random-pair pruning; was 0.41 at
    the old 8x4-bit default — r5 verdict item 3) and recall >= 0.9 on
    planted cos≈0.89 near-dup pairs, precision 1.0 always (every emitted
    pair is exact-cosine verified). On pairs far BELOW the near-dup
    regime the wider chunks prune recall too — the corpus's artificial
    ">= 0.4" pairs (cos 0.40-0.51, P[bit differs] ≈ 0.36) retain ~0.3
    here vs 0.80 at the old narrow-chunk setting; pass (n_planes=32,
    max_hamming=7) to trade candidate volume back for low-threshold
    recall. Shuffle volume: O(n*chunks) thin keys + candidates, never
    the O(n^2) cross of vectors.

    The signature is the portable quantized-±1 construction
    (srp_signature_words), so a SQL oracle replays the full pipeline —
    banding, candidates, verification — bit-for-bit.

    Keep chunk width >= 2 bits (n_planes // (max_hamming+1)): 1-bit
    chunks bucket half of ALL pairs together and the candidate join
    degenerates toward the cross product it exists to avoid."""
    cand = srp_banded_candidate_pairs(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        max_hamming=max_hamming,
    )
    vecs = embeddings.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    return (
        cand.join(vecs.withColumnRenamed("_vid", "id_a").withColumnRenamed("_v", "_va"), "id_a")
        .join(vecs.withColumnRenamed("_vid", "id_b").withColumnRenamed("_v", "_vb"), "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def cosine_pairs(
    embeddings: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 1000,
    allow_quadratic: bool = False,
) -> DataFrame:
    """All unordered pairs with cosine >= threshold (embedding near-dup).

    Exact O(n^2/2) self-join — the oracle/baseline. The scale path buckets
    by SRP signature first (join on bucket instead of cross), trading
    recall for the quadratic blowup: :func:`cosine_pairs_srp`, same output
    schema.

    SCALE GUARD: by default refuses inputs over ``max_rows`` rows — at
    100x the corpus the cross join is a cluster-killer nobody should hit
    by accident. Pass ``allow_quadratic=True`` (what the registered oracle
    query does, with the cost acknowledged) or sample the input first."""
    if not allow_quadratic and max_rows is not None:
        n_rows = embeddings.count()
        if n_rows > max_rows:
            raise ValueError(
                f"cosine_pairs is an O(n^2) self-join and the input has "
                f"{n_rows} rows (> budget {max_rows}). Use cosine_pairs_srp "
                f"(the scale path), sample the input, or pass "
                f"allow_quadratic=True if this is a deliberate oracle run."
            )
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# --- int8 scalar quantization ------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the standard 4x
    compression step before shipping an embedding corpus into an ANN index
    (qvec = round(x / scale), scale = max|x| / 127, so every component
    lands in [-127, 127]).

    Pure JVM array expressions, map-only, no shuffle. Cosine is invariant
    to the per-vector scale, so quantized cosine needs only the int
    arrays; the scale column is kept for value reconstruction. All-zero
    vectors get scale 0 and an all-zero qvec (no 0/0 NaNs). Every step
    (abs/max/divide/round-half-away-from-zero) is bit-identical in DuckDB,
    so the output is fully value-oracle-able.
    """
    vec = F.col(vec_col)
    scale = (F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0)).alias(
        "scale"
    )
    with_scale = df.select(F.col(id_col), vec.alias("_v"), scale)
    qvec = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("_v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("_v"), lambda x: F.round(x / F.col("scale")).cast("int")
        )
    )
    return with_scale.select(id_col, "scale", qvec.alias("qvec"))


def quantized_cosine_topk(
    df: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k over the int8-quantized corpus: rank by cosine of
    the quantized vectors (scale cancels out of cosine). The int dot
    products run over 4x less data than the float path — the memory-
    bandwidth win that makes int8 the default at billion-vector scale —
    while recall@10 stays high (pytest measures it vs the exact path)."""
    _check_probe_dim(df, vec_col, probe)
    q = quantize_embeddings(df, id_col=id_col, vec_col=vec_col)
    if exclude_id is not None:
        q = q.filter(F.col(id_col) != exclude_id)
    # quantize the probe driver-side with the same rule
    pscale = max(abs(x) for x in probe) / 127.0
    qprobe = (
        [0 for _ in probe]
        if pscale == 0
        else [int(_round_half_away(x / pscale)) for x in probe]
    )
    probe_col = F.array(*[F.lit(v) for v in qprobe])
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), probe_col, lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    # math.sqrt is correctly-rounded IEEE sqrt — identical to Spark's and
    # DuckDB's sqrt; ** 0.5 goes through pow and may differ in the last ulp
    pnorm = math.sqrt(float(sum(v * v for v in qprobe)))
    if pnorm == 0:
        raise ValueError("probe vector is all zeros")
    cos = dot.cast("double") / (norm(F.col("qvec")) * F.lit(pnorm))
    return (
        q.select(id_col, F.round(cos, 6).alias("cos_sim_q"))
        .orderBy(F.desc("cos_sim_q"), F.asc(id_col))
        .limit(k)
    )


def _round_half_away(x: float) -> float:
    """Python round() is half-even; Spark/DuckDB round() is half away from
    zero — match them for the driver-side probe quantization."""
    import math

    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def semantic_dedup(
    embeddings: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 56,
    max_hamming: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic dedup: drop every vector that is the HIGHER
    id of any near-dup pair (cosine >= threshold), keep the rest.

    The keep rule is the greedy keep-first used by large-corpus semantic
    dedup (scan in id order; a doc survives iff no EARLIER survivor-or-
    dropped doc is a near-dup of it — pairwise form: drop iff it appears
    as id_b). Deterministic, order-free, and one anti-join over the pairs
    — no connected components needed (components merge chains A~B~C into
    one group; the pairwise rule keeps C when only B matched it, which is
    the published SemDeDup behavior of thresholding against cluster
    NEIGHBORS, not closures).

    Pairs come from the banded SRP path (:func:`cosine_pairs_srp`), so
    the whole operator is shuffle-thin at 100 TB: O(n*chunks) banded
    keys -> verified candidate pairs -> one broadcast-or-shuffle
    anti-join of the (much smaller) loser-id set against the corpus.
    Emits the full input row minus the vector column for the survivors.
    """
    pairs = cosine_pairs_srp(
        embeddings,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        max_hamming=max_hamming,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return embeddings.join(losers, id_col, "left_anti").drop(vec_col)
