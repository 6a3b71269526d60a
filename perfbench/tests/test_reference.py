"""The correctness gate: the DuckDB references catch a planted wrong
membership, a wrong last_event_time and a wrong query row."""

import datetime as dt

import pandas as pd
import pytest

from perfbench import gen, reference, workloads


def _write(tmp_path, name, rows):
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props", "processing_time"]
    )
    path = str(tmp_path / name)
    gen.write_parquet(df, path, gen.BATCH_SCHEMA)
    return path


def _ev(eid, user, kind, minute):
    t = dt.datetime(2024, 1, 1, 0, minute, 30)
    return (eid, t, user, kind, 1.0, "{}", t)


@pytest.fixture
def batches(tmp_path):
    # user 1: three distinct clicks, one re-delivered; user 2: two clicks,
    # one of them a duplicate; user 3: views only
    b0 = _write(tmp_path, "b0.parquet", [_ev(1, 1, "click", 1), _ev(2, 2, "click", 2), _ev(3, 3, "view", 3)])
    b1 = _write(tmp_path, "b1.parquet", [_ev(4, 1, "click", 4), _ev(1, 1, "click", 1), _ev(2, 2, "click", 2)])
    b2 = _write(tmp_path, "b2.parquet", [_ev(5, 1, "click", 0), _ev(6, 2, "click", 6)])
    return [b0, b1, b2]


def test_reference_counts_distinct_event_ids_and_late_events(batches):
    t = lambda minute: int(dt.datetime(2024, 1, 1, 0, minute, 30, tzinfo=dt.timezone.utc).timestamp())
    assert reference.segment_members(batches[:2], "click", 2) == {(1, t(4))}
    # the late click (minute 0) counts but does not move last_event_time
    assert reference.segment_members(batches, "click", 3) == {(1, t(4))}
    assert reference.segment_members(batches, "click", 2) == {(1, t(4)), (2, t(6))}


def test_planted_wrong_membership_is_caught(batches):
    want = reference.segment_members(batches, "click", 2)
    assert reference.diff_members(set(want), want) is None
    for planted in (want | {(3, 0)}, want - {min(want)}, {(u, t + 1) for u, t in want}):
        assert reference.diff_members(planted, want) is not None


def test_oracle_diff_catches_a_wrong_row(tmp_path):
    gen.write_corpus(5, 0.001, str(tmp_path))
    oracle = reference.OracleCorpus(str(tmp_path))
    try:
        sql = "SELECT r_name, r_regionkey FROM region"
        rows = [dict(r) for r in oracle.answer("regions", sql)]
        assert oracle.diff("regions", sql, list(reversed(rows))) is None
        assert oracle.diff("regions", sql, rows[1:]) is not None
        bad = [dict(rows[0], r_name="MARS")] + rows[1:]
        assert oracle.diff("regions", sql, bad) is not None
    finally:
        oracle.close()


@pytest.mark.parametrize(
    "n, p, beyond",
    [(6, 75, 1), (40, 75, 10), (100, 90, 10), (1000, 99, 10)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p, beyond):
    value, got_p, got_beyond = workloads.tail([float(i) for i in range(n)])
    assert (got_p, got_beyond) == (p, beyond)
    assert value == n - beyond - 1
