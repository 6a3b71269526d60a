"""Schema-pinned parquet reads (``sources.catalog.read_parquet``).

The reader hands Spark a cached data schema, keyed on one data file's
footer plus the inference confs, so a repeated read of an unchanged
table launches no schema-inference job. Each test here fails against a
cache keyed on the path, or one that serves the wrong schema.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import sys

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from clickhouse_segments_tutorial_spark.schemas import CORPUS_TABLES
from clickhouse_segments_tutorial_spark.segmentation import (
    EventTimeSegmenter,
    MicroBatchSegmenter,
    SegmentSpec,
)
from clickhouse_segments_tutorial_spark.segmentation.spec import CORPUS_EVENTS
from clickhouse_segments_tutorial_spark.sources import catalog
from clickhouse_segments_tutorial_spark.sources.catalog import (
    load_table,
    read_parquet,
)
from clickhouse_segments_tutorial_spark.sources.writers import (
    PARTITION_COL,
    append_clustered,
    rewrite_table,
)

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    group = f"read-parquet-test-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(20).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 2).cast("string").alias("kind"),
        F.lit(dt.datetime(2024, 1, 1)).alias("ts"),
    ).write.partitionBy("kind").parquet(path)

    plain, n_plain = _jobs(spark, lambda: spark.read.parquet(path))
    assert n_plain == 1  # the inference job the reader removes
    read_parquet(spark, path)  # a first sight of a footer may infer
    pinned, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n == 0
    assert pinned.schema == plain.schema
    assert _rows(pinned) == _rows(plain)


def test_corpus_tables_match_plain_read(spark, sf_smoke):
    load_table(spark, sf_smoke, "events")  # sets the catalog's read confs
    for name in CORPUS_TABLES:
        path = os.path.join(sf_smoke, f"{name}.parquet")
        want = spark.read.parquet(path).schema
        for _ in range(2):  # miss, then hit
            assert read_parquet(spark, path).schema == want, name


def test_inference_confs_are_part_of_the_key(spark, sf_smoke):
    """events.ts is micros without a timezone: TimestampType, or
    TimestampNTZType when NTZ inference is on. Same footer, two schemas."""
    from pyspark.sql import types as T

    path = os.path.join(sf_smoke, "events.parquet")
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(conf)
    try:
        for flag, want in (("false", T.TimestampType), ("true", T.TimestampNTZType)):
            spark.conf.set(conf, flag)
            got = read_parquet(spark, path).schema
            assert got == spark.read.parquet(path).schema
            assert isinstance(got["ts"].dataType, want)
    finally:
        spark.conf.set(conf, before)


@pytest.fixture(scope="module")
def cascade_dir(spark, sf_smoke, tmp_path_factory):
    """The four tables of the event-time cascade after two batches and a
    state compaction: events, user_states, updated_user_states and
    segment_assignments."""
    work = str(tmp_path_factory.mktemp("cascade"))
    events = load_table(spark, sf_smoke, "events")
    mid = dt.datetime(2024, 1, 15)
    seg = EventTimeSegmenter(
        spark, work, SegmentSpec(name="hc", event_name="click", threshold=3),
        CORPUS_EVENTS,
    )
    events_path = os.path.join(work, "events")
    t0 = dt.datetime(2000, 1, 1)
    for lower, batch in (
        (t0, events.filter(F.col("ts") < F.lit(mid))),
        (mid, events.filter(F.col("ts") >= F.lit(mid))),
    ):
        append_clustered(batch, events_path, cluster_by=["user_id"])
        seg.process_batch(read_parquet(spark, events_path), lower_bound=lower, now=lower)
    seg.compact_states()
    return work


CASCADE_TABLES = ("events", "user_states", "updated_user_states", "segment_assignments")


def test_cascade_tables_match_plain_read(spark, cascade_dir):
    partitioned = 0
    for name in CASCADE_TABLES:
        path = os.path.join(cascade_dir, name)
        plain = spark.read.parquet(path)
        for _ in range(2):  # miss, then hit
            pinned = read_parquet(spark, path)
            assert pinned.schema == plain.schema, name
        if PARTITION_COL in plain.columns:
            partitioned += 1
            assert dict(pinned.dtypes)[PARTITION_COL] == dict(plain.dtypes)[PARTITION_COL]
    assert partitioned  # the partition column's discovered type is checked


def test_rewrite_at_same_path_sees_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([("1", 1)], "user_id string, n long").write.parquet(path)
    assert read_parquet(spark, path).dtypes == [("user_id", "string"), ("n", "bigint")]

    rewrite_table(
        spark,
        spark.createDataFrame([(2, 0.5, "x")], "user_id long, m double, tag string"),
        path,
        cluster_by=["user_id"],
    )
    got = read_parquet(spark, path)
    assert got.dtypes == [("user_id", "bigint"), ("m", "double"), ("tag", "string")]
    assert _rows(got) == [(2, 0.5, "x")]


def test_empty_or_missing_table_reads_as_none(spark, tmp_path):
    seg = MicroBatchSegmenter(
        spark, str(tmp_path), SegmentSpec(name="hc", event_name="click", threshold=3)
    )
    assert seg._read(str(tmp_path / "missing")) is None
    empty = tmp_path / "empty"
    (empty / f"{PARTITION_COL}=20240101").mkdir(parents=True)
    (empty / "_SUCCESS").touch()
    assert seg._read(str(empty)) is None


def test_corrupt_footer_still_raises(spark, tmp_path):
    """A corrupt footer is a real I/O error: _read must raise it, not
    mistake it for an empty table."""
    from pyspark.errors import AnalysisException

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    seg = MicroBatchSegmenter(
        spark, str(tmp_path), SegmentSpec(name="hc", event_name="click", threshold=3)
    )
    with pytest.raises(Exception) as info:
        seg._read(str(bad))
    assert not isinstance(info.value, AnalysisException)


def test_concurrent_reads_from_many_threads(spark, cascade_dir, monkeypatch):
    """More reader threads than cores, all starting on an empty cache and
    switching often: every frame must equal the plain read of its table."""
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    want = {n: _rows(spark.read.parquet(os.path.join(cascade_dir, n))) for n in CASCADE_TABLES}
    jobs = [n for n in CASCADE_TABLES for _ in range(2)]
    got, errors = [None] * len(jobs), []

    def read(i):
        try:
            got[i] = _rows(read_parquet(spark, os.path.join(cascade_dir, jobs[i])))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [InheritableThread(target=read, args=(i,)) for i in range(len(jobs))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert got == [want[n] for n in jobs]
