"""Table catalog over the parquet corpus.

The reference reads/writes named ClickHouse tables inside a per-run database
(/root/reference/src/jestGlobalSetup.ts:11-13). Here a ``Catalog`` binds a
scale-factor directory of parquet files to lazily-loaded DataFrames and
(optionally) temp views so the same queries run via DataFrame API or SQL.

Scans stay columnar + pushdown-friendly: ``spark.read.parquet`` with the
explicit schema from :mod:`..schemas` lets Catalyst prune columns and push
predicates into the parquet reader (check for ``PushedFilters`` in
``.explain``) — the Spark analog of ClickHouse primary-key range pruning
(SURVEY.md §4).

Every engine table read goes through :func:`read_parquet`, which hands
Spark the table's schema so no schema-inference job runs per read.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import CORPUS_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# session confs that change the schema Spark infers from a parquet footer
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# (footer schema, footer key-value metadata, inference confs) -> the data
# schema Spark inferred for a file with that footer. Keyed on the data,
# never on the path: rewrite_table replaces a table in place, and a path
# key would then serve the old schema. The value is a function of the key
# alone, so sessions and tests in one process can share the entries; there
# is one per distinct table schema.
_SCHEMAS: dict[tuple, T.StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def _is_hidden(name: str) -> bool:
    """Spark's file listing skips these (InMemoryFileIndex); '_' names
    holding '=' are partition directories, not hidden."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _first_data_file(paths: tuple[str, ...]) -> str | None:
    """The first data file under ``paths``, depth-first in name order, or
    None when there is none (missing or non-local paths included)."""
    for path in paths:
        url = urlparse(path)
        if url.scheme not in ("", "file"):
            return None
        local = unquote(url.path) if url.scheme else path
        if os.path.isfile(local):
            return local
        for root, dirs, files in os.walk(local):
            dirs[:] = sorted(d for d in dirs if not _is_hidden(d))
            data = sorted(f for f in files if not _is_hidden(f))
            if data:
                return os.path.join(root, data[0])
    return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.

    Plain ``spark.read.parquet`` runs a Spark job to read one footer on
    every call. Here pyarrow reads the footer of one data file in this
    process (~0.1 ms), and the data schema Spark inferred for that footer
    under the same inference confs is looked up; only a footer never seen
    before pays the job, on that one file. Spark still discovers the
    partition columns. A missing path, a directory with no data file and
    an unreadable footer fall through to the plain read, so they raise
    exactly as before. Safe to call from several threads.
    """
    try:
        first = _first_data_file(paths)
        meta = pq.read_metadata(first) if first is not None else None
    except (OSError, pa.ArrowException):
        meta = None
    if meta is None:
        return spark.read.parquet(*paths)
    key = (
        # the footer's full parquet schema (physical and logical types);
        # repr's first line is the object's address
        repr(meta.schema).partition("\n")[2],
        # Spark restores its own types from the row metadata stored here
        tuple(sorted((meta.metadata or {}).items())),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(first).schema
        with _SCHEMAS_LOCK:
            _SCHEMAS[key] = schema
    return spark.read.schema(schema).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table. Schema comes from the parquet footer (already
    explicit, written by the driver); ``schemas.CORPUS_TABLES`` declares the
    logical schema we normalize to.

    Nanosecond-precision parquet timestamps (events.ts is TIMESTAMP(NANOS))
    are illegal for Spark's vectorized reader by default; we read them as
    raw int64 nanos (legacy.parquet.nanosAsLong) and convert with exact
    integer division to microsecond TimestampType — same value DuckDB sees
    truncated to us.
    """
    if name not in CORPUS_TABLES:
        raise KeyError(f"unknown corpus table {name!r}")
    # NOTE: session-global side effect, deliberate — the flag must be live
    # whenever a catalog table's lazy scan executes, so it cannot be scoped
    # to this call. All engine paths read TIMESTAMP(NANOS) parquet through
    # this function (which converts exactly); other nanos readers in the
    # same session will see raw int64 longs instead of an unsupported-type
    # error. div 1000 truncates toward zero == floor for the corpus's
    # non-negative epochs (pre-1970 nanos would need floor-div).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Micros-without-timezone parquet (the current driver corpus) would
    # otherwise infer as TIMESTAMP_NTZ under Spark 4 defaults — a type that
    # watermarks, unix_micros and timestamp arithmetic reject. Read as
    # instants; with the UTC session timezone the values match DuckDB's
    # naive interpretation exactly.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    declared = CORPUS_TABLES[name]
    for field in declared.fields:
        actual = df.schema[field.name].dataType if field.name in df.columns else None
        if isinstance(field.dataType, T.TimestampType) and isinstance(actual, T.LongType):
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif isinstance(field.dataType, T.TimestampType) and isinstance(
            actual, T.TimestampNTZType
        ):
            # Defensive: a scan planned before the conf above was set (or an
            # externally-built session) can still surface NTZ; under the UTC
            # session timezone this cast is value-preserving.
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


class Catalog:
    """Lazy view of one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in CORPUS_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: list[str] | None = None) -> None:
        """Register temp views so ``spark.sql`` can reference tables by name
        — mirrors the reference's named-table model."""
        for name in (names if names is not None else CORPUS_TABLES):
            self.table(name).createOrReplaceTempView(name)
