"""Window-ordered turn assembly.

north_star: "window-ordered turn assembly per conv_id (row_number over
(conv_id, turn_idx) preserving stable turn ordering and per-turn text
equality)". The window's hash-partitioning by conv_id doubles as the
explicit pre-extraction repartition: downstream extraction tasks see
whole conversations without a second shuffle.

Reference analog: kgsum has no windows; its nearest is keep-last dedup
(/root/reference/src/util.py:235) and per-file sequential processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assemble_turns(transcripts: DataFrame) -> DataFrame:
    """Attach `rn = row_number() over (partition by conv_id order by turn_idx)`.

    Input rows may arrive in any physical order; the window re-establishes
    stable per-conversation ordering. Invariants (tested):
      - output (conv_id, turn_idx, text) ≡ input  (per-turn text equality);
      - rn == turn_idx + 1 when turn_idx is dense from 0.
    ts is a deterministic tiebreaker in case of duplicate turn_idx ingestion.
    """
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc(), F.col("ts").asc())
    return transcripts.withColumn("rn", F.row_number().over(w))


def dedupe_turns_keep_last(transcripts: DataFrame) -> DataFrame:
    """Keep-last semantics for re-ingested turns (reference J3 analog:
    pandas drop_duplicates keep='last', /root/reference/src/util.py:235 —
    made explicit here with ts as the ingestion-order column)."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.col("ts").desc())
    return (
        transcripts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


def with_context(transcripts: DataFrame, n_prev: int = 2,
                 out_col: str = "context_text") -> DataFrame:
    """Context-window assembly (SURVEY §2.6's rowsBetween case): attach the
    last n_prev turns plus the current one as a single space-joined context
    string — the substrate for cross-turn coreference / dialogue-state
    features. Explicit frame spec: rowsBetween(-n_prev, 0) over the same
    conv_id window as assemble_turns, so no extra shuffle when composed."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").asc(), F.col("ts").asc())
        .rowsBetween(-n_prev, Window.currentRow)
    )
    return transcripts.withColumn(
        out_col, F.array_join(F.collect_list("text").over(w), " ")
    )
