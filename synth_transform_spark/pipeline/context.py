"""Cross-round ID mapping ("translator") as DataFrames.

Reference: Context.mappings / map / translate
(/root/reference/synth/utils.py:263-298) — the backbone of surrogate-key
reassignment across the four source databases. There a dict
``{table → {(round, original_id) → new_id}}`` probed per row; here each
mapping is a DataFrame ``(synth_round, original_id, new_id)`` consumed via
(broadcast) equi-joins — SURVEY.md §2.3 J4/J5.

Round-agnostic mappings (Country codes — etl.py:239-241 maps without a
round) use synth_round = NULL and join on the key only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


@dataclass
class PipelineContext:
    """Holds the mapping DataFrames built up as steps run."""

    mappings: dict[str, DataFrame] = field(default_factory=dict)

    def set_mapping(self, name: str, mapping: DataFrame) -> None:
        """Register a mapping DF with columns (synth_round?, original_id, new_id)."""
        self.mappings[name] = mapping

    def translate(
        self,
        df: DataFrame,
        name: str,
        key_col: str,
        round_col: str | None = "synth_round",
        out_col: str | None = None,
    ) -> DataFrame:
        """Left-join ``df`` against mapping ``name``: adds ``out_col`` (default
        ``<key_col>_new``) with the translated id, NULL on miss — the
        dict-probe-with-default-None semantics of utils.py:283-294."""
        out_col = out_col or f"{key_col}_new"
        m = self.mappings[name]
        if round_col is None or "synth_round" not in m.columns:
            m2 = m.select(
                F.col("original_id").alias("_k"), F.col("new_id").alias(out_col)
            )
            cond = [df[key_col] == m2["_k"]]
        else:
            m2 = m.select(
                F.col("synth_round").alias("_r"),
                F.col("original_id").alias("_k"),
                F.col("new_id").alias(out_col),
            )
            cond = [df[key_col] == m2["_k"], df[round_col] == m2["_r"]]
        joined = df.join(F.broadcast(m2), cond, "left")
        return joined.drop("_k", "_r") if "_r" in m2.columns else joined.drop("_k")
