"""File-level Bloom skip index — the ClickHouse ``bloom_filter`` /
``tokenbf_v1`` data-skipping index analog (SURVEY §2.1 S7's sort-order
minmax family, extended to the index type that prunes EQUALITY probes
on columns the sort order cannot serve; reference layout contract:
/root/reference/src/1-naive.test.ts:13-19 clusters by user — a probe on
any OTHER high-cardinality column reads every part there, which is
exactly what this index fixes).

The minmax/footer-stats path (sources/writers.py sort-on-write) prunes
RANGE predicates on the clustering column; Z-order (sources/zorder.py)
generalizes to a few clustered dimensions. A point probe on an
unclustered high-cardinality column (message_id, trace_id, doc
fingerprint) defeats both — every file's [min, max] straddles the
probe. A per-file Bloom filter answers "might this file contain v?"
from m bits with no false negatives, so the reader drops every file
whose filter says no and correctness never depends on the index.

Design (Spark-first, no sidecar service):

- **Build**: the new-file list is computed FIRST (the table's FileIndex
  listing minus the sidecar's already-indexed names — both metadata,
  no job over table rows), and only those paths are read. One
  distributed pass computes the k bit positions of each distinct value
  (bit_j(v) = md5_hash60("<j>:<v>") mod m — the engine-portable hash
  family shared with operators/cms.py) and ORs them into an m-bit mask
  held as packed longs, grouped by file. The per-file masks land in ONE
  sidecar parquet (``_bloom/<col>/``) of (file, mask array<long>) rows
  — KB per file, appended once per build. Every new file gets a row —
  a file contributing no values (all-null column, empty texts) gets the
  zero mask, which correctly prunes it for every probe and stops it
  being rescanned on each incremental call.
- **Probe**: compute the probe value's k positions driver-side (tiny),
  evaluate the masks DISTRIBUTED — a filter over the sidecar selecting
  files whose mask has ALL k bits set — and collect only file names
  plus the survive bit, never the masks. The table's own file list
  comes from the FileIndex (``inputFiles()``), which launches NO job
  over the data: the probe's only Spark job is the sidecar read. Files
  missing from the sidecar are kept (unindexed data must never be
  skipped). The returned path list feeds ``read_parquet(spark, *paths)``
  with the ordinary filter on top (the filter stays — the index only
  SKIPS, semantics are the scan's).
- **Append-friendly**: each ``index_files`` call indexes only files
  not yet in the sidecar — the compaction-cadence story, same as the
  Z-order rewriter.

Driver-side footprint is O(n_files) *names* on both paths — inherent,
because the output is a driver-side path list for spark.read — but
never O(n_files) masks and never O(n_rows) anything.

False-positive rate: (1 - e^{-kn/m})^k per file for n distinct values;
the defaults (m = 8192 bits, k = 4) hold ~1% at n ≈ 850 per file.
Over-full files degrade to never-pruned, never to wrong results."""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators.dedup import md5_hash60
from .catalog import read_parquet

_WORDS = 64  # bits per packed long

# explicit sidecar schema: skips parquet footer schema inference, which
# would otherwise cost a (metadata-scale, but countable) Spark job per read
_SIDECAR_SCHEMA = "file string, mask array<bigint>"


def _bit_pos(value: Column, j: Column, *, m: int) -> Column:
    """Bit position j of ``value`` in the m-bit filter (portable md5
    family, the cms.py construction)."""
    return F.pmod(
        md5_hash60(
            F.concat(j.cast("string"), F.lit(":"), value.cast("string"))
        ),
        F.lit(m),
    ).cast("int")


def _sidecar(path: str, col: str) -> str:
    return os.path.join(path, "_bloom", col)


def _data_files(spark: SparkSession, path: str) -> list[str]:
    """The table's data files from the FileIndex — metadata only, ZERO
    Spark jobs (the dummy explicit schema skips even the footer
    schema-inference job; ``inputFiles()`` needs only the listing).
    Returns the same ``file://`` URI strings as ``input_file_name()``,
    so names join the sidecar keys exactly. The sidecar itself is
    invisible here: ``_bloom`` is an underscore-prefixed directory,
    which Spark's file listing hides."""
    return sorted(
        spark.read.schema("__bloom_listing int").parquet(path).inputFiles()
    )


def _sidecar_df(spark: SparkSession, side: str) -> DataFrame | None:
    """The sidecar as a DataFrame, or None when it does not exist yet.
    ONLY the missing-path case means "no sidecar": a transient,
    permission, or corruption error must PROPAGATE — swallowing it here
    made index_files treat an unreadable sidecar as absent, re-index
    every file, and append duplicate rows (r16 ADVICE)."""
    try:
        df = spark.read.schema(_SIDECAR_SCHEMA).parquet(side)
        df.inputFiles()  # forces the listing; metadata-only
        return df
    except AnalysisException as exc:
        # getCondition is the 4.x name for getErrorClass
        cond = getattr(exc, "getCondition", exc.getErrorClass)()
        if (cond or "") == "PATH_NOT_FOUND":
            return None
        raise


def _indexed_files(spark: SparkSession, side: str) -> set[str] | None:
    """File names already present in the sidecar (names only — never
    the masks), or None when no sidecar exists yet."""
    df = _sidecar_df(spark, side)
    if df is None:
        return None
    return {r.file for r in df.select("file").collect()}


def _char_ngrams(text: Column, n: int) -> Column:
    """All character n-grams of ``text`` as an array (empty when the
    text is shorter than n) — pure expressions, map-only."""
    return F.when(
        F.length(text) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (n - 1)),
            lambda i: F.substr(text, i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def index_files(
    spark: SparkSession,
    path: str,
    col: str,
    *,
    m_bits: int = 8192,
    k: int = 4,
    tokenized: bool = False,
    ngram: int | None = None,
) -> int:
    """Build (or extend) the Bloom sidecar for ``col`` over every data
    file under ``path`` not yet indexed. Returns the number of newly
    indexed files. The new-file list is resolved BEFORE any scan
    (FileIndex listing minus sidecar names, both metadata-side), so the
    one distributed pass reads ONLY the new files — an incremental call
    after appending one file scans one file, regardless of table size —
    then explodes each row into its k bit positions, distincts per
    (file, bit), OR-folds into the packed-long mask per file, and writes
    the sidecar exactly once (no count-then-write double execution: the
    return value is the length of the driver-side new-file list).

    ``tokenized=True`` is the ``tokenbf_v1`` mode: the column is a
    TEXT column and the filter indexes its TOKENS (operators/text.
    tokens — the repo's one tokenizer rule), so the probe asks "does
    this file contain word X anywhere" — the skip index behind
    hasToken()-style predicates. ``ngram=n`` is the ``ngrambf_v1``
    mode: the filter indexes the text's character n-grams, serving
    SUBSTRING probes (LIKE '%frag%'): a file can contain the fragment
    only if every one of the fragment's n-grams is present, so
    pruned_paths requires ALL of them (still no false negatives).
    Each mode's sidecar lands under a distinct name
    (``<col>__tokens`` / ``<col>__ngram<n>``) so indexes on the same
    column coexist; probe with the matching pruned_paths mode and keep
    the ordinary predicate on top."""
    if m_bits % _WORDS != 0:
        raise ValueError(f"m_bits must be a multiple of {_WORDS}")
    if tokenized and ngram:
        raise ValueError("tokenized and ngram modes are mutually exclusive")
    n_words = m_bits // _WORDS
    data_col = col
    if tokenized:
        col = f"{col}__tokens"
    elif ngram:
        col = f"{col}__ngram{ngram}"
    side = _sidecar(path, col)
    have = _indexed_files(spark, side) or set()
    new = [f for f in _data_files(spark, path) if f not in have]
    if not new:
        return 0
    df = read_parquet(spark, *new).select(
        F.input_file_name().alias("file"), F.col(data_col).alias("_v")
    ).filter(
        # NULL values never match an equality/token/substring probe, so
        # they contribute no bits (and would otherwise poison the
        # word-index map with a NULL key)
        F.col("_v").isNotNull()
    )
    if tokenized:
        from ..operators.text import tokens

        df = df.select("file", F.explode(tokens(F.col("_v"))).alias("_v"))
    elif ngram:
        df = df.select(
            "file", F.explode(_char_ngrams(F.col("_v"), ngram)).alias("_v")
        )
    bits = df.select(
        "file",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_j"),
        "_v",
    ).select(
        "file", _bit_pos(F.col("_v"), F.col("_j"), m=m_bits).alias("_bit")
    ).distinct()
    pre = bits.select(
        "file",
        (F.col("_bit") / _WORDS).cast("int").alias("_w"),
        # pyspark's shiftleft() takes a literal int shift; the SQL
        # form accepts a column
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod(_bit, {_WORDS}) AS INT))"
        ).alias("_m"),
    )
    # a new file contributing zero values (all-null column, texts below
    # the gram size) still needs a sidecar row: the zero mask prunes it
    # for every probe (nothing in it can match) and keeps the next
    # incremental call from rescanning it forever. Seed every new file
    # with a zero word-0 contribution BEFORE the OR-fold (bit_or with 0
    # is the identity) — a union of len(new) literal rows, so no join
    # and nothing mask-sized is ever broadcast or collected.
    seed = spark.createDataFrame([(f,) for f in new], "file string").select(
        "file",
        F.lit(0).cast("int").alias("_w"),
        F.lit(0).cast("long").alias("_m"),
    )
    words = (
        pre.unionByName(seed)
        .groupBy("file", "_w")
        # OR-fold via bit_or aggregate
        .agg(F.expr("bit_or(_m)").alias("_mask"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda i: F.coalesce(
            F.element_at(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("_w"), F.col("_mask")))
                ),
                i,
            ),
            F.lit(0).cast("long"),
        ),
    )
    masks = words.groupBy("file").agg(dense.alias("mask"))
    masks.write.mode("append").parquet(side)
    return len(new)


def _probe_positions(
    value, *, m_bits: int, k: int, ngram: int | None
) -> list[int]:
    """The probe's bit positions, computed driver-side with the same
    md5 family the build uses (hashlib replay of _bit_pos)."""
    import hashlib

    if isinstance(value, (list, tuple, set)):
        # hasAllTokens conjunction: the union of every token's k
        # positions — a file can contain ALL tokens only if every one
        # of these bits is set (still no false negatives)
        probes = [str(v) for v in value]
    elif ngram:
        s = str(value)
        probes = [s[i : i + ngram] for i in range(len(s) - ngram + 1)]
    else:
        probes = [str(value)]
    return [
        int(hashlib.md5(f"{j}:{p}".encode()).hexdigest()[:15], 16) % m_bits
        for p in probes
        for j in range(k)
    ]


def pruned_paths(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    *,
    m_bits: int = 8192,
    k: int = 4,
    tokenized: bool = False,
    ngram: int | None = None,
) -> list[str]:
    """Files under ``path`` that MIGHT contain ``value`` in ``col``
    (no false negatives): the probe's k bit positions are computed
    driver-side, the mask test (every probe bit set) is evaluated
    DISTRIBUTED as a filter over the sidecar, and only (file name,
    survive bit) pairs come back — never the masks. Files missing from
    the sidecar are KEPT (unindexed data must never be skipped).
    ``ngram=n`` probes the ngrambf sidecar with a SUBSTRING: every
    n-gram of ``value`` must be present (a fragment shorter than n has
    no grams and prunes nothing — the honest answer). The returned
    list feeds ``read_parquet(spark, *paths)`` with the ordinary
    predicate on top.

    ``tokenized=True`` also accepts a LIST of tokens — the ClickHouse
    ``hasToken(a) AND hasToken(b)`` conjunction: the index serves the
    AND directly (every token's k bits must all be set), so the pruned
    set is the intersection the separate probes would produce, in one
    sidecar pass.

    Cost model: the table's file list comes from the FileIndex
    (``inputFiles()`` — metadata, zero jobs over table rows), so the
    probe's ONLY job is the sidecar scan, whose output is O(n_files)
    names + booleans (the masks stay executor-side). The driver-side
    O(n_files) name list is inherent: the result IS a path list for
    spark.read."""
    if tokenized and ngram:
        raise ValueError("tokenized and ngram modes are mutually exclusive")
    if isinstance(value, (list, tuple, set)) and not tokenized:
        raise ValueError(
            "a multi-value probe (hasAllTokens conjunction) needs "
            "tokenized=True — an equality/substring probe takes one value"
        )
    suffix = ""
    if tokenized:
        suffix = "__tokens"
    elif ngram:
        suffix = f"__ngram{ngram}"
    positions = _probe_positions(value, m_bits=m_bits, k=k, ngram=ngram)
    all_files = _data_files(spark, path)
    side = _sidecar(path, f"{col}{suffix}")
    side_df = _sidecar_df(spark, side)
    if side_df is None:
        return all_files  # no sidecar yet: nothing can be skipped
    survive = F.lit(True)
    for p in positions:
        survive = survive & (
            F.element_at(F.col("mask"), p // _WORDS + 1).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {p % _WORDS})")
            )
            != 0
        )
    # a malformed/short mask (or a probe m_bits mismatching the build)
    # makes element_at return NULL and the AND-chain NULL — which must
    # mean KEEP, not prune (r16 ADVICE: None read as falsy silently
    # dropped the file, a false negative). Mask rows of the wrong length
    # are untrusted entirely: keep their files.
    n_words = m_bits // _WORDS
    keep = F.when(
        F.size(F.col("mask")) == F.lit(n_words),
        F.coalesce(survive, F.lit(True)),
    ).otherwise(F.lit(True))
    # duplicate rows per file (double-indexed, or one valid + one
    # malformed) fold with OR: keep if ANY row keeps — conservative,
    # never a false negative
    verdicts: dict[str, bool] = {}
    for r in side_df.select("file", keep.alias("keep")).collect():
        verdicts[r.file] = verdicts.get(r.file, False) or bool(r.keep)
    # unindexed (absent from the sidecar) defaults to kept
    return [f for f in all_files if verdicts.get(f, True)]


def compact_sidecar(
    spark: SparkSession,
    path: str,
    col: str,
    *,
    tokenized: bool = False,
    ngram: int | None = None,
) -> int:
    """Rewrite the sidecar for ``col`` down to ONE parquet file,
    preserving its rows (r16 verdict item 4: each incremental
    ``index_files`` call appends one file, so a daily-append table
    accumulates thousands of KB-sized sidecar files and the probe's
    single job degrades into a small-file listing storm — the exact
    problem the index solves for the data). Same tmp-dir + rename swap
    as the table compactions (writers.rewrite_table), so a mid-job
    crash leaves the original sidecar intact and a racing probe sees
    either the old or the new file set, never a partial one.

    Rows are merged per file with an elementwise bit-OR fold, so even
    duplicate rows for the same file (the pre-r17 swallowed-read-error
    bug could append them) collapse to one correct mask; a length
    mismatch between duplicate masks leaves NULL words, which the probe
    treats as KEEP (never a false negative). Returns the sidecar file
    count before compaction (0 = no sidecar, nothing done)."""
    if tokenized and ngram:
        raise ValueError("tokenized and ngram modes are mutually exclusive")
    if tokenized:
        col = f"{col}__tokens"
    elif ngram:
        col = f"{col}__ngram{ngram}"
    side = _sidecar(path, col)
    df = _sidecar_df(spark, side)
    if df is None:
        return 0
    n_before = len(df.inputFiles())
    lst = F.collect_list("mask")
    merged_mask = F.aggregate(
        F.slice(lst, F.lit(2), F.greatest(F.size(lst) - 1, F.lit(0))),
        F.element_at(lst, 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a.bitwiseOR(b)),
    )
    merged = df.groupBy("file").agg(merged_mask.alias("mask")).coalesce(1)
    from .writers import rewrite_table

    rewrite_table(spark, merged, side, cluster_by=["file"])
    return n_before
