"""Bucketed tables: co-located storage that removes the per-query shuffle.

ClickHouse gets cheap per-user reads from its `ORDER BY (user_id, ...)`
clustered primary key (/root/reference/src/1-naive.test.ts:19). At Spark
scale the analogous physical design is a BUCKETED table: rows hashed into
a fixed number of buckets on the key at write time, one sorted file per
bucket. Any later groupBy/join/semi-join on that key reads the bucketing
metadata and skips its Exchange entirely — the shuffle is paid once at
write, then amortized over every query.

This is the scale path for the hot keys of this engine:
- events bucketed by user_id -> per-user aggregation with no shuffle;
- assignments bucketed by user_id -> latest-wins serve with no shuffle;
- state bucketed by user_id -> finalize semi-join co-located on both sides.

Bucketed tables must live in the session catalog (saveAsTable), not bare
paths — the bucketing spec is catalog metadata. tests/test_plans.py
asserts the Exchange actually disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import read_parquet


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    key: str | tuple[str, ...],
    buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
    align: bool = False,
) -> None:
    """Write ``df`` as a parquet table bucketed (and sorted) on ``key``
    (a column name or tuple of names for composite keys).

    ``buckets`` should be sized so one bucket of the largest table fits an
    executor's memory comfortably (at 100 TB: thousands of buckets); all
    tables that join on ``key`` must use the SAME bucket count for the
    co-located join to kick in.

    ``align=True`` pre-shuffles rows so each task holds exactly one
    bucket's rows (``repartition(buckets, *key)`` uses the same
    pmod(murmur3) expression as the bucket-id assignment), so every write
    emits at most ONE file per bucket instead of up-to tasks×buckets —
    essential for tables that receive many small appends (micro-batch
    state), irrelevant for one-shot writes.
    """
    keys = (key,) if isinstance(key, str) else tuple(key)
    if align:
        df = df.repartition(buckets, *keys)
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — bucketing metadata rides along automatically."""
    return spark.table(table)


# -- crash-mid-compact pin recovery (shared by the stateful curation
# classes: IncrementalNoveltyScorer, IncrementalSemanticDeduper,
# IncrementalCorpusCurator). compact() overwrites a state table via
# saveAsTable(overwrite), which drops then recreates — not atomic. Each
# compact first PINS the full state to a plain parquet directory; a later
# read that finds the table missing restores it from the newest pin.
# One implementation: the pin-name scheme, validity rule, and recency
# rule previously lived as three hand-rolled copies that had already
# drifted into three naming schemes (r10 third-review finding 5).


def newest_valid_pin(pattern: str) -> str | None:
    """Newest COMMITTED pin directory matching glob ``pattern``.

    Valid = contains Spark's ``_SUCCESS`` job-commit marker; a crash
    mid-pin-write leaves a partial directory without one, which must
    never be restored. Newest = ``_SUCCESS`` mtime (the commit instant),
    NOT any wave number embedded in the directory name: in-memory wave
    counters restart per process, so a re-attached process's pins carry
    LOWER numbers than an earlier process's stale pins and number-based
    selection would restore the stale copy, silently discarding every
    append since (r10 third-review findings 1 and 3)."""
    import glob
    import os

    best: tuple[float, str] | None = None
    for p in glob.glob(pattern):
        marker = os.path.join(p, "_SUCCESS")
        if not os.path.exists(marker):
            continue
        mt = os.path.getmtime(marker)
        if best is None or mt > best[0]:
            best = (mt, p)
    return best[1] if best else None


def heal_bucketed_from_pins(
    spark: SparkSession,
    table: str,
    pattern: str,
    *,
    key: str | tuple[str, ...],
    buckets: int,
) -> None:
    """If ``table`` is missing from the catalog, restore it (bucketed on
    ``key``) from the newest valid pin matching ``pattern``. No-op when
    the table exists or no valid pin survives. Callers' reset()/drop
    paths must delete pins together with the table, so a deliberate drop
    can never be resurrected."""
    if spark.catalog.tableExists(table):
        return
    pin = newest_valid_pin(pattern)
    if pin is None:
        return
    write_bucketed(
        read_parquet(spark, pin),
        table,
        key=key,
        buckets=buckets,
        mode="overwrite",
        align=True,
    )


def compact_bucketed(
    spark: SparkSession,
    state: DataFrame,
    table: str,
    pin_path: str,
    prune_pattern: str,
    *,
    key: str | tuple[str, ...],
    buckets: int,
) -> None:
    """Fold ``table`` back to one sorted file per bucket: pin ``state``
    to ``pin_path`` (plain parquet — the overwrite plan must not scan the
    table it replaces), rewrite the table bucketed from the pin, then
    prune EVERY pin matching ``prune_pattern``. The pin only needs to
    survive the overwrite crash window; once the rewrite commits, keeping
    pins would (a) grow tmp by one full state copy per compaction forever
    and (b) leave stale copies for heal's recency rule to trip over
    after the pattern's directories outlive several processes (r10
    third-review finding 6)."""
    import glob
    import shutil

    state.write.mode("overwrite").parquet(pin_path)
    write_bucketed(
        read_parquet(spark, pin_path),
        table,
        key=key,
        buckets=buckets,
        mode="overwrite",
        align=True,
    )
    for p in glob.glob(prune_pattern):
        shutil.rmtree(p, ignore_errors=True)


# -- per-workdir state naming and wave numbering (shared by the five
# wave-state classes: WaveCountState, IncrementalNoveltyScorer,
# IncrementalSemanticDeduper, IncrementalMinHashDeduper,
# IncrementalCorpusCurator). The naming mangle and the resume/sentinel
# block previously lived as five/four hand-rolled copies (r11 review
# finding 5) — any future change to the naming or resume contract now
# has ONE definition site, next to the pin validity/recency rules it
# composes with.


def state_table_prefix(workdir: str, kind: str) -> str:
    """Deterministic per-workdir catalog namespace ``{kind}_{base}_{md5}``.

    Derived from the FULL workdir path (hashed — basenames like "state"
    recur across callers), deterministically: a crashed re-run on the
    same workdir must re-attach to its existing state tables, so the
    name cannot be random per instance; two workdirs sharing a basename
    must not collide, so the basename alone is not enough."""
    import hashlib
    import os
    import re

    base = re.sub(r"\W", "_", os.path.basename(os.path.normpath(workdir))).lower()
    digest = hashlib.md5(os.path.abspath(workdir).encode()).hexdigest()[:12]
    return f"{kind}_{base}_{digest}"


def resolve_wave_counter(current, wave_id, probe):
    """Next wave number for a stateful ingest loop.

    Explicit ``wave_id`` (a gate's restart-stable batch id + 1) wins;
    otherwise previous + 1, where a fresh in-memory counter (``current``
    == 0) first resumes from ``probe()`` — the workdir's highest
    COMPLETED wave (committed result markers), so a re-attached process
    never renumbers from 1 and overwrites history. Waves < 1 are
    rejected: 0 is the universal "no completed wave" resume sentinel and
    a committed wave_0 would be indistinguishable from an empty workdir
    on re-attach (r10 ADVICE item 3 rule).
    """
    if wave_id is None and current == 0:
        current = int(probe())
    wave = int(wave_id) if wave_id is not None else current + 1
    if wave < 1:
        raise ValueError(f"wave_id must be >= 1, got {wave}")
    return wave


def append_tombstones(ids, workdir: str) -> None:
    """Commit retracted ids to ``<workdir>/tombstones`` — the shared
    write half of the logical-tombstone-then-compact-reap protocol the
    wave-state classes use (IncrementalNoveltyScorer /
    IncrementalSemanticDeduper; the ANN index runs its own
    manifest-committed variant). ``ids`` is a one-column frame, already
    named for the state's id column; the distinct set appends as its
    own parquet files. Idempotent on retry — tombstones are a set, and
    the reader distincts. One definition site (r14 review finding: the
    two classes had copy-pasted lanes that had to be patched in
    lockstep)."""
    import os

    ids.distinct().write.mode("append").parquet(
        os.path.join(workdir, "tombstones")
    )


def read_tombstones(spark: SparkSession, workdir: str, schema: str):
    """Distinct retracted ids from ``<workdir>/tombstones``, or None
    when the directory does not exist. Reads with the EXPLICIT id
    schema: an all-empty or crash-interrupted append can leave a
    directory with no readable part files, where schema inference would
    raise and poison every later state read — with the schema pinned,
    such a directory just reads as zero rows and the retraction filter
    is a no-op (r14 review finding)."""
    import os

    path = os.path.join(workdir, "tombstones")
    if not os.path.isdir(path):
        return None
    return spark.read.schema(schema).parquet(path).distinct()


def clear_tombstones(workdir: str) -> None:
    """Remove the tombstone directory — called after a compaction folds
    the retraction-filtered state (physical reap) and by reset paths."""
    import os
    import shutil

    shutil.rmtree(os.path.join(workdir, "tombstones"), ignore_errors=True)
