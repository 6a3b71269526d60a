"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from ``--seed``:

- ``event_stream``: an sf-scaled ``events`` table (same columns and value
  ranges as the TPC-H-ish corpus ``events``) with a seeded
  ``processing_time``, cut into processing-time batches.  A share of events
  is delivered one or more batches after its event-time slice (late data)
  and a share is delivered twice with the same ``event_id`` (at-least-once
  delivery).  Batch ``b`` covers processing times
  ``[lower_bounds[b], lower_bounds[b + 1])``.
- ``write_corpus``: the star-schema corpus (region ... lineitem, events,
  documents, embeddings) as parquet files in the layout the package's
  ``sources.catalog.load_table`` reads.

Same seed, same bytes; no wall clock and no global random state are used.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH = dt.datetime(2024, 1, 1)
SPAN_DAYS = 30
_US_PER_DAY = 86_400 * 10**6

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
BATCH_SCHEMA = EVENT_SCHEMA.append(pa.field("processing_time", pa.timestamp("us")))


def events(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    """``events`` at scale factor ``sf``: 10^6*sf rows over 15000*sf users and
    30 days, ordered by ``ts`` with ``event_id`` = rank."""
    n = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    offs = np.sort(rng.integers(0, SPAN_DAYS * _US_PER_DAY, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Timestamp(EPOCH) + pd.to_timedelta(offs, unit="us"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


@dataclass(frozen=True)
class EventStream:
    """Processing-time batches of an event log, in delivery order."""

    batches: list[pd.DataFrame]
    lower_bounds: list[dt.datetime]

    @property
    def n_events(self) -> int:
        return sum(len(b) for b in self.batches)


def event_stream(
    seed: int,
    *,
    sf: float = 0.1,
    n_batches: int = 32,
    late_share: float = 0.1,
    dup_share: float = 0.05,
    max_lag: int = 3,
) -> EventStream:
    """Slice ``events`` into ``n_batches`` processing-time batches.

    Each event is due in the batch of its event-time slice.  With
    probability ``late_share`` it arrives 1..``max_lag`` batches later;
    with probability ``dup_share`` a second copy (same ``event_id`` and
    payload) arrives 0..``max_lag`` batches after the first.  Deliveries
    past the last batch are clamped into it.
    """
    if n_batches < 1 or not 0 <= late_share <= 1 or not 0 <= dup_share <= 1:
        raise ValueError("need n_batches >= 1 and shares in [0, 1]")
    rng = np.random.default_rng(seed)
    ev = events(rng, sf)
    width_us = SPAN_DAYS * _US_PER_DAY // n_batches
    offs = (ev["ts"] - pd.Timestamp(EPOCH)) // pd.Timedelta(microseconds=1)
    due = np.minimum(offs.to_numpy() // width_us, n_batches - 1)
    late = rng.random(len(ev)) < late_share
    delivery = due + np.where(late, rng.integers(1, max_lag + 1, len(ev)), 0)
    dup = rng.random(len(ev)) < dup_share
    dup_delivery = delivery[dup] + rng.integers(0, max_lag + 1, int(dup.sum()))

    stream = pd.concat([ev, ev[dup]], ignore_index=True)
    batch_of = np.minimum(np.concatenate([delivery, dup_delivery]), n_batches - 1)
    # arrive inside the batch window, never before the event happened
    event_us = np.concatenate([offs.to_numpy(), offs.to_numpy()[dup]])
    lo = np.maximum(event_us, batch_of * width_us)
    hi = np.where(
        batch_of == n_batches - 1, SPAN_DAYS * _US_PER_DAY, (batch_of + 1) * width_us
    )
    arrival_us = lo + (rng.random(len(stream)) * (hi - lo)).astype(np.int64)
    stream["processing_time"] = pd.Timestamp(EPOCH) + pd.to_timedelta(
        arrival_us, unit="us"
    )
    stream["batch"] = batch_of
    stream = stream.sort_values(["processing_time", "event_id"], kind="stable")
    batches = [
        part.drop(columns="batch").reset_index(drop=True)
        for _, part in stream.groupby("batch", sort=True)
    ]
    if len(batches) != n_batches:
        raise ValueError("a batch is empty; use fewer batches or a larger sf")
    lower_bounds = [
        EPOCH + dt.timedelta(microseconds=b * width_us) for b in range(n_batches)
    ]
    return EventStream(batches, lower_bounds)


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


# -- star-schema corpus --------------------------------------------------------

_WORDS = np.array(
    (
        "a the data spark query table column row key value filter join group "
        "agg sort hash scan merge stream batch window order line part customer "
        "vector index fast slow big small partition shuffle plan cache"
    ).split()
)
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _dates(rng, n: int, start: str, days: int) -> pd.Series:
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, days, n), unit="D")


def corpus(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The corpus tables at scale factor ``sf`` (row counts follow the
    TPC-H ratios: 1.5M orders and ~4 lines per order per unit sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_docs, n_vec = int(1_500_000 * sf), int(50_000 * sf), int(20_000 * sf)

    tables: dict[str, pd.DataFrame] = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}" for a, b in zip(
                        _WORDS[rng.integers(0, len(_WORDS), n_part)],
                        _WORDS[rng.integers(0, len(_WORDS), n_part)],
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[
                    rng.integers(0, 4, n_part)
                ],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
                "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n_ord)],
            }
        ),
    }

    lines = rng.integers(1, 8, n_ord)
    orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(orderkey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": flags,
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
        }
    )

    tables["events"] = events(rng, sf)

    docs = []
    for _ in range(n_docs):
        if docs and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = docs[rng.integers(0, len(docs))].split()
            words[rng.integers(0, len(words))] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = list(_WORDS[rng.integers(0, len(_WORDS), rng.integers(8, 90))])
        docs.append(" ".join(words))
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs,
            "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[
                rng.integers(0, 6, n_docs)
            ],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
        }
    )

    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_vec, 64))).astype(np.float32)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    return tables


def write_corpus(seed: int, sf: float, out_dir: str) -> None:
    """Write ``corpus(seed, sf)`` as ``<out_dir>/<table>.parquet``; timestamps
    are microseconds without a time zone, as in the corpus of TESTDATA.md."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in corpus(seed, sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        for i, field in enumerate(table.schema):
            if pa.types.is_timestamp(field.type):
                table = table.set_column(
                    i, field.name, table.column(i).cast(pa.timestamp("us"))
                )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
