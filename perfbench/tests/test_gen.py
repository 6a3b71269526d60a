"""The seeded input generator: same seed, same inputs; the stream has the
late and duplicate deliveries the workloads rely on."""

import pandas as pd
import pytest

from perfbench import gen, reference


def _stream(seed, **kw):
    return gen.event_stream(seed, sf=0.01, n_batches=30, **kw)


def test_same_seed_gives_identical_batches():
    a, b = _stream(7), _stream(7)
    assert a.lower_bounds == b.lower_bounds
    assert len(a.batches) == len(b.batches) == 30
    for x, y in zip(a.batches, b.batches):
        pd.testing.assert_frame_equal(x, y)


def test_different_seed_gives_different_batches():
    a, b = _stream(7), _stream(8)
    assert any(not x.equals(y) for x, y in zip(a.batches, b.batches))


def test_batches_hold_late_and_duplicate_deliveries():
    s = _stream(7, late_share=0.2, dup_share=0.1)
    width = s.lower_bounds[1] - s.lower_bounds[0]
    late = dups = 0
    seen = set()
    for b, df in enumerate(s.batches):
        lo = pd.Timestamp(s.lower_bounds[b])
        assert (df["processing_time"] >= lo).all()
        if b + 1 < len(s.batches):
            assert (df["processing_time"] < lo + width).all()
        assert (df["processing_time"] >= df["ts"]).all()
        late += int((df["ts"] < lo - width).sum())
        dups += sum(1 for e in df["event_id"] if e in seen)
        seen.update(df["event_id"])
    n = s.n_events
    assert 0.05 * n < late < 0.3 * n
    assert 0.05 * n < dups < 0.15 * n


def test_controls_are_validated():
    with pytest.raises(ValueError):
        _stream(1, late_share=1.5)


def test_corpus_is_deterministic():
    a, b, c = gen.corpus(3, 0.001), gen.corpus(3, 0.001), gen.corpus(4, 0.001)
    assert set(a) == set(reference.CORPUS_TABLES)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
