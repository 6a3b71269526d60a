"""Counter helpers: the span tracer, the job-group status-tracker counter and
the Catalyst phase capture, on two sf0.001 queries of the generated corpus."""

import pytest

from perfbench import gen, tracing, workloads
from perfbench.tracing import Span, Tracer

QUERIES = {
    # pinned output schemas: (column, Spark type) in order
    "q1_pricing_summary": [
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("sum_qty", "double"), ("sum_base_price", "double"),
        ("sum_disc_price", "double"), ("sum_charge", "double"),
        ("avg_qty", "double"), ("avg_price", "double"), ("avg_disc", "double"),
        ("count_order", "bigint"),
    ],
    "session_stats_per_user": [
        ("user_id", "bigint"), ("n_sessions", "bigint"),
        ("max_session_events", "bigint"), ("n_events", "bigint"),
    ],
}
COUNT_KEYS = {"jobs", "stages", "tasks"}
PHASE_KEYS = {"analysis_s", "optimization_s", "planning_s"}


def test_self_time_subtracts_the_union_of_child_spans():
    t = Tracer()
    t.spans = [
        Span("op", 0.0, 10.0, -1, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 6.0, 0, 0),  # overlaps a: ran on another thread
        Span("c", 2.0, 3.0, 1, 0),
    ]
    self_t = t.self_times()
    assert self_t == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
    totals = t.totals({0})
    assert totals["op"] == {"calls": 1, "busy_s": 10.0, "self_s": 5.0}


def test_install_wraps_imported_names_and_uninstall_restores_them():
    from clickhouse_segments_tutorial_spark.segmentation import micro_batch
    from clickhouse_segments_tutorial_spark.sources import writers

    orig = writers.append_clustered
    orig_method = micro_batch.MicroBatchSegmenter.__dict__["process_batch"]
    t = Tracer()
    t.install()
    try:
        assert writers.append_clustered is not orig
        assert micro_batch.append_clustered is writers.append_clustered
        assert micro_batch.MicroBatchSegmenter.__dict__["process_batch"] is not orig_method
    finally:
        t.uninstall()
    assert writers.append_clustered is orig and micro_batch.append_clustered is orig
    assert micro_batch.MicroBatchSegmenter.__dict__["process_batch"] is orig_method


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from clickhouse_segments_tutorial_spark.session import get_spark

    s = get_spark("perfbench-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_counters_on_two_small_queries(spark, tmp_path, name):
    from clickhouse_segments_tutorial_spark.plans import all_queries

    gen.write_corpus(11, 0.001, str(tmp_path))
    spec = all_queries()[name]
    probe = workloads.Probe(spark, trace=True)
    try:
        _, df = probe.run("op", 0, lambda: spec.spark(spark, str(tmp_path)))
        rows = df.collect()
    finally:
        probe.close()
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == QUERIES[name]
    assert rows

    counts = tracing.spark_counts(spark.sparkContext, probe.group("op", 0))
    assert set(counts) == COUNT_KEYS and all(isinstance(v, int) for v in counts.values())
    assert set(probe.counts["op"][0]) == COUNT_KEYS

    phases = tracing.catalyst_phases(df)
    assert set(phases) == PHASE_KEYS
    assert all(isinstance(v, float) and v >= 0.0 for v in phases.values())
    assert phases["analysis_s"] + phases["optimization_s"] + phases["planning_s"] > 0.0

    layer = probe.layer_metrics(probe.traced_ops)
    assert layer["trace.spans"] >= 2
    assert layer["sources.load_table.calls"] >= 1
