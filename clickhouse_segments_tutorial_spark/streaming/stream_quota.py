"""Streaming per-source quota gate: cross-batch token-budget admission.

The streaming twin of :func:`operators.sampling.quota_by_group` — the
same per-domain contribution cap, enforced at INGEST time instead of in
a batch rewrite: parquet docs appear in ``docs_dir``; each
``run_available_now`` drains new files and admits each source's docs (in
``order_col`` order) while the source's cumulative token count stays
within the budget. The cumulative count follows the batch operator's
window semantics exactly — it includes REJECTED docs' weights (the
running total is over everything seen, so the admitted set is the
order-prefix before the first budget violation), which is what makes the
two paths byte-identical and lets them share one oracle.

State design (applyInPandasWithState, keyed by source):
- state = ONE long per source (total weight seen) — O(#sources), the
  smallest possible state for the semantics; compare stream_dedup's
  O(distinct fp).
- the per-batch group update is vectorized: concat the Arrow chunks,
  sort by order_col, one numpy cumsum, one boolean mask — no per-row
  Python.
- at-least-once caveat: a REPLAYED doc re-adds its weight (the gate is
  not idempotent by itself); run it downstream of the ingest-gate dedup
  (stream_dedup) when the source can re-deliver, mirroring the
  reference's idempotent-ingest layering (2-idempotent.test.ts).

Determinism contract: the admitted set equals the batch operator's
output iff docs arrive in ``order_col`` order ACROSS batches per source
(within a batch any order is fine — the update sorts). The registered
query feeds waves split on doc_id, the same contract the incremental
curator documents for its waves.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.text import token_count
from ..sources.catalog import read_parquet


class StreamingQuotaGate:
    """File-source ingest gate enforcing a per-``group_col`` weight budget
    across runs (checkpointed state survives restarts)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        schema,
        budget: int,
        group_col: str = "source",
        order_col: str = "doc_id",
        text_col: str = "text",
        weight_expr=None,
        group_type: str = "string",
        order_type: str = "long",
    ):
        """``weight_expr``: per-row admission weight Column; defaults to
        ``token_count(text_col)`` (the per-source token quota). Pass
        ``F.lit(1)`` for a row-count cap — e.g. the streaming
        cluster-balance gate, where budget = max vectors per cluster.
        ``group_type``/``order_type``: SQL types of the key columns in
        the state output schema (the quota default is a string source
        keyed by long doc_id; cluster balance uses an int cluster keyed
        by the md5 order string)."""
        self.spark = spark
        self.schema = schema
        self.budget = int(budget)
        self.group_col = group_col
        self.order_col = order_col
        self.text_col = text_col
        self.weight_expr = weight_expr
        self.group_type = group_type
        self.order_type = order_type
        self.docs_dir = os.path.join(workdir, "docs_in")
        self.checkpoint = os.path.join(workdir, "checkpoint")
        self.accepted_path = os.path.join(workdir, "accepted")
        os.makedirs(self.docs_dir, exist_ok=True)

    def _admitted(self) -> DataFrame:
        group_col, order_col, budget = self.group_col, self.order_col, self.budget
        weight = (
            token_count(self.text_col)
            if self.weight_expr is None
            else self.weight_expr
        )
        stream = (
            self.spark.readStream.schema(self.schema)
            .parquet(self.docs_dir)
            .select(
                group_col,
                order_col,
                weight.cast("int").alias("n_tokens"),
            )
        )
        out_schema = (
            f"{group_col} {self.group_type}, {order_col} {self.order_type}, "
            "n_tokens int, cum_tokens long"
        )

        def update(key, pdf_iter, state: GroupState):
            seen = state.get[0] if state.exists else 0
            pdf = pd.concat(list(pdf_iter), ignore_index=True)
            pdf = pdf.sort_values(order_col, ignore_index=True)
            cum = seen + pdf["n_tokens"].astype("int64").cumsum()
            state.update((int(seen + pdf["n_tokens"].sum()),))
            kept = pdf[cum <= budget].assign(cum_tokens=cum[cum <= budget])
            yield pd.DataFrame(
                {
                    group_col: kept[group_col],
                    order_col: kept[order_col],
                    "n_tokens": kept["n_tokens"],
                    "cum_tokens": kept["cum_tokens"].astype("int64"),
                }
            )

        return stream.groupBy(group_col).applyInPandasWithState(
            update,
            out_schema,
            "seen long",
            "append",
            GroupStateTimeout.NoTimeout,
        )

    def ingest_wave(self, wave: DataFrame) -> None:
        """Feed one wave and drain it: write the wave as ONE parquet file
        and run an availableNow pass. One file per wave because files
        within a single availableNow run may split across micro-batches
        in file order, and the cross-batch determinism contract requires
        ``order_col`` order per group ACROSS batches (module docstring) —
        this helper is the one definition site of that choreography for
        every registered streaming-gate twin."""
        wave.coalesce(1).write.mode("append").parquet(self.docs_dir)
        self.run_available_now()

    def run_available_now(self) -> None:
        q = (
            self._admitted()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", self.accepted_path)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def accepted(self) -> DataFrame:
        if not os.path.exists(self.accepted_path):
            raise RuntimeError("no batches processed yet")
        return read_parquet(self.spark, self.accepted_path)
