"""Exact DuckDB references the benchmark checks the program's outputs against.

- ``segment_members``: latest-wins membership with ``last_event_time`` of the
  event-time cascade, recomputed exactly over every event delivered so far
  (late and duplicate deliveries included): a user is in the segment iff it
  has at least ``threshold`` distinct ``event_id``s of ``event_type``;
  ``last_event_time`` is the newest such event's time in whole unix seconds.
- ``OracleCorpus``: the registered DuckDB oracle of each query, run over the
  generated corpus and compared with the Spark rows the way the repository's
  oracle-parity tests compare them (same columns, same row count, equal
  values as an order-insensitive multiset).
"""

from __future__ import annotations

import math
import os

import duckdb

CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def segment_members(
    batch_files: list[str], event_type: str, threshold: int
) -> set[tuple[int, int]]:
    """{(user_id, last_event_time)} over the union of ``batch_files``."""
    with duckdb.connect() as con:
        rows = con.execute(
            """
            SELECT user_id,
                   CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT)
            FROM read_parquet(?)
            WHERE event_type = ?
            GROUP BY user_id
            HAVING count(DISTINCT event_id) >= ?
            """,
            [batch_files, event_type, threshold],
        ).fetchall()
    return {(int(u), int(t)) for u, t in rows}


def diff_members(got: set, want: set) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if got == want:
        return None
    extra, missing = sorted(got - want), sorted(want - got)
    return (
        f"{len(extra)} unexpected (first {extra[:3]}), "
        f"{len(missing)} missing (first {missing[:3]}) of {len(want)}"
    )


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _sorted_rows(rows: list[dict]) -> list[tuple]:
    return sorted((tuple(_norm(r[k]) for k in sorted(r)) for r in rows), key=repr)


class OracleCorpus:
    """Oracle answers over one corpus directory, computed once per query."""

    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        for t in CORPUS_TABLES:
            path = os.path.join(corpus_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._answers: dict[str, list[dict]] = {}

    def close(self) -> None:
        self.con.close()

    def answer(self, name: str, sql: str) -> list[dict]:
        if name not in self._answers:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._answers[name] = [dict(zip(cols, row)) for row in cur.fetchall()]
        return self._answers[name]

    def diff(self, name: str, sql: str, spark_rows: list[dict]) -> str | None:
        """None when ``spark_rows`` match the oracle, else the first difference."""
        duck_rows = self.answer(name, sql)
        if spark_rows and duck_rows and sorted(spark_rows[0]) != sorted(duck_rows[0]):
            return f"columns: spark={sorted(spark_rows[0])} duck={sorted(duck_rows[0])}"
        if len(spark_rows) != len(duck_rows):
            return f"row count: spark={len(spark_rows)} duck={len(duck_rows)}"
        for i, (a, b) in enumerate(zip(_sorted_rows(spark_rows), _sorted_rows(duck_rows))):
            if a != b:
                return f"sorted row {i}: spark={a!r} duck={b!r}"
        return None
