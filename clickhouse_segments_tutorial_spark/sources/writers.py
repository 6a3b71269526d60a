"""Table write helpers: the storage-engine semantics the reference gets from
ClickHouse table engines, re-expressed as parquet layout + explicit jobs.

- MergeTree append-only + ORDER BY clustering
  (/root/reference/src/1-naive.test.ts:13-19) -> append parquet, sorted
  within partitions on the cluster key so row-group min/max stats prune scans.
- PARTITION BY toYYYYMMDD(col) (/root/reference/src/3-microBatch.test.ts:36)
  -> write.partitionBy on a derived yyyyMMdd column; partition pruning is
  built into Spark's file source.
- TTL ... + interval N day (/root/reference/src/3-microBatch.test.ts:38)
  -> retention job dropping expired partitions.
- ReplacingMergeTree background merge (/root/reference/src/1-naive.test.ts:21-28)
  -> compaction job rewriting only the latest row per key.

At 100 TB these helpers are the difference between a scan and a prune: daily
partitions + sort-on-write give the same skip behavior as ClickHouse's sparse
primary index, with zero custom code at read time.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import read_parquet

PARTITION_COL = "part_yyyymmdd"


def append_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_by: list[str],
    partition_ts: str | None = None,
) -> None:
    """Append with MergeTree-like layout: optional daily partitioning on a
    timestamp column plus sort-within-partitions on the cluster key (the
    ORDER BY analog) so parquet row-group stats can prune on those columns."""
    writer_df = df
    if partition_ts is not None:
        writer_df = writer_df.withColumn(
            PARTITION_COL, F.date_format(F.col(partition_ts), "yyyyMMdd")
        )
        # Hash-partition on (day, cluster key): the day alone would funnel
        # each day's data through ONE task — a bottleneck at 100 TB/day —
        # and repartitionByRange would add a sampling pass per write.
        # Hash + sort-within-partitions yields one sorted run per file
        # (overlapping ranges across files), exactly a MergeTree part's
        # ORDER BY layout: row-group min/max stats still prune on the
        # cluster key, with no extra job.
        writer_df = writer_df.repartition(
            F.col(PARTITION_COL), *[F.col(c) for c in cluster_by]
        ).sortWithinPartitions(PARTITION_COL, *cluster_by)
        writer_df.write.mode("append").partitionBy(PARTITION_COL).parquet(path)
    else:
        # Size the write by DATA, not by the incoming partition count: a
        # micro-batch state frame arrives with one (tiny) partition per
        # core from the upstream aggregation, so writing it directly
        # emits O(cores) KB-size files per batch — every later scan of
        # the table then pays O(cores x batches) file opens (measured:
        # 64 x ~3 KB user_states files after two sf0.1 batches at
        # local[32]). A REBALANCE on the cluster key lets AQE coalesce
        # (or split) to the advisory partition size — one file per batch
        # locally, 128MB-1GB files at scale (guide §6), and the key keeps
        # each key's rows co-located so row-group min/max stats still
        # prune the finalize semi-join. Table CONTENTS are unchanged (a
        # multiset of rows; every reader aggregates order-independently).
        writer_df = writer_df.hint("rebalance", *[F.col(c) for c in cluster_by])
        writer_df.sortWithinPartitions(*cluster_by).write.mode("append").parquet(path)


def recover_rewrite(path: str) -> bool:
    """Heal a rewrite_table swap interrupted between its two renames.

    That crash window leaves the data only under ``<path>.rewrite.old``
    while the live path is missing; a reader treating the missing path as
    an empty table would silently rebuild state from nothing and serve
    wrong results. Restores old -> live and returns True when that state
    was found. Call before reading any rewrite_table-managed path (the
    table readers in segmentation/ do)."""
    import os

    old = path.rstrip("/") + ".rewrite.old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def rewrite_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    cluster_by: list[str],
) -> None:
    """Atomically replace the table at ``path`` with ``df`` (which may read
    from ``path`` itself), preserving the sort-on-write clustering.

    Write to a tmp dir first, then swap via directory renames — a mid-job
    failure leaves the original intact (a plain mode('overwrite') on the
    live path deletes it BEFORE the job finishes, so a crash destroys the
    table). Readers racing the swap see only the instant of the renames,
    not the minutes of the rewrite job. A crash BETWEEN the renames is
    healed by :func:`recover_rewrite` (called here and by readers).
    """
    import os

    recover_rewrite(path)
    tmp = path.rstrip("/") + ".rewrite.tmp"
    old = path.rstrip("/") + ".rewrite.old"
    shutil.rmtree(tmp, ignore_errors=True)
    df.sortWithinPartitions(*cluster_by).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def apply_retention(path: str, *, keep_days: int, now=None) -> int:
    """TTL analog: drop daily partitions older than ``keep_days``.

    Partition drop (not row delete) — O(partitions), no data rewrite, exactly
    like ClickHouse TTL at part granularity. Returns partitions dropped.
    """
    import datetime as dt

    now = now or dt.datetime.now(dt.timezone.utc)
    cutoff = (now - dt.timedelta(days=keep_days)).strftime("%Y%m%d")
    base = Path(path)
    dropped = 0
    if not base.exists():
        return 0
    for p in base.glob(f"{PARTITION_COL}=*"):
        day = p.name.split("=", 1)[1]
        if day < cutoff:
            shutil.rmtree(p)
            dropped += 1
    return dropped


def compact_summing(
    spark: SparkSession,
    path: str,
    *,
    key_cols: list[str],
    sum_cols: list[str],
) -> None:
    """SummingMergeTree background-merge analog: rewrite the table
    folding rows per key with DECIMAL-exact sums over ``sum_cols``
    (cast to decimal(28,6) for the fold, back to the column's own type
    on write — a raw double SUM would make the compacted value depend
    on partitioning order, breaking the reader-equivalence contract).
    Exactly like ClickHouse, readers NEVER rely on this having run —
    appends between merges leave multiple rows per key, so the serve
    query always aggregates (``summing_serve``); compaction only
    shrinks storage. Non-key non-sum columns are not supported (CH
    keeps an arbitrary value there — a nondeterminism this engine
    refuses rather than replicates)."""
    df = read_parquet(spark, path)
    extra = set(df.columns) - set(key_cols) - set(sum_cols)
    if extra:
        raise ValueError(
            f"non-key non-sum columns {sorted(extra)}: ClickHouse keeps "
            "an arbitrary value for these on merge — refuse the "
            "nondeterminism; aggregate or drop them first"
        )
    types = dict(df.dtypes)
    folded = df.groupBy(*key_cols).agg(
        *[
            F.sum(F.col(c).cast("decimal(28,6)"))
            .cast(types[c])
            .alias(c)
            for c in sum_cols
        ]
    )
    rewrite_table(spark, folded, path, cluster_by=list(key_cols))


def summing_serve(
    df: DataFrame, *, key_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The SummingMergeTree READ contract: totals per key regardless of
    merge state (pre-compaction appends coexist with folded rows; the
    sum is associative so the answer is identical before/after any
    number of compactions). Decimal-exact, emitted as double."""
    return df.groupBy(*key_cols).agg(
        *[
            F.sum(F.col(c).cast("decimal(28,6)")).cast("double").alias(c)
            for c in sum_cols
        ]
    )


def compact_collapsing(
    spark: SparkSession,
    path: str,
    *,
    key_cols: list[str],
    sign_col: str = "sign",
) -> None:
    """CollapsingMergeTree background-merge analog: rows carry a
    ``sign`` (+1 state / -1 cancel); the merge folds each key to its
    NET sign and drops fully-cancelled keys from storage. This engine
    supports the sign-only collapsing form (each +1 is cancelled by a
    matching -1 bearing the same key and payload — the payload columns
    are part of the key here, so 'arbitrary survivor' nondeterminism
    cannot arise). Readers never rely on the merge: collapsing_serve
    computes the same net view over any mix of raw and folded rows,
    because sum(sign) is associative."""
    df = read_parquet(spark, path)
    folded = (
        df.groupBy(*key_cols)
        .agg(F.sum(F.col(sign_col)).cast(dict(df.dtypes)[sign_col]).alias(sign_col))
        .filter(F.col(sign_col) != 0)
    )
    rewrite_table(spark, folded, path, cluster_by=list(key_cols))


def collapsing_serve(
    df: DataFrame, *, key_cols: list[str], sign_col: str = "sign"
) -> DataFrame:
    """The CollapsingMergeTree READ contract: one row per key with a
    nonzero net sign — identical before/after any compaction. Queries
    that aggregate payload columns must weight by sign (the CH rule:
    SUM(value * sign)), which the caller's aggregation expresses.

    VersionedCollapsingMergeTree is this same pair of functions with
    the VERSION column included in ``key_cols``: a cancel row carries
    its state row's version, so +1/-1 pairs annihilate per
    (key, version) REGARDLESS of arrival order — the out-of-order
    cancel case plain collapsing mishandles in ClickHouse (where merge
    order matters) simply doesn't arise here because sum(sign) is
    commutative. Pinned in test_segmentation."""
    return (
        df.groupBy(*key_cols)
        .agg(F.sum(F.col(sign_col)).alias(sign_col))
        .filter(F.col(sign_col) != 0)
    )


def compact_latest_wins(
    spark: SparkSession,
    path: str,
    *,
    key: str,
    order_by: str,
) -> None:
    """ReplacingMergeTree background-merge analog: rewrite the table keeping
    only the latest version per key. Readers never rely on this having run —
    they always resolve latest-wins themselves (operators/latest_wins.py),
    mirroring the reference's read-side argMax
    (/root/reference/src/1-naive.test.ts:85)."""
    df = read_parquet(spark, path)
    latest = (
        df.groupBy(key)
        .agg(F.max_by(F.struct("*"), F.col(order_by)).alias("row"))
        .select("row.*")
    )
    rewrite_table(spark, latest, path, cluster_by=[key])
