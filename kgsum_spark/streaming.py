"""Structured Streaming ingestion: incremental transcript → triples.

The reference is batch-only; its closest analogs are incremental shard
writing with skip-if-exists resume and chunked offset batching
(SURVEY.md §2.11, /root/reference/src/dataset_preparation.py:530-594,
config.py:33-34). Those map to exactly what Structured Streaming's
checkpointed micro-batches give us for free: each micro-batch is a
resumable shard with recorded offsets.

Two modes:
- `streaming_extraction`: stateless stream → regex extraction (the batch
  Catalyst plan, no Python worker) → append sink. No window needed
  (extraction is per-turn); ordering-dependent work stays in batch.
- `streaming_extraction_foreach_batch`: per-micro-batch full stage-1
  (window turn-assembly included — windows are legal on the batch df
  inside foreachBatch), appended to the triples table. This is the mode a
  production incremental pipeline uses; canonicalization stays a periodic
  batch job over the accumulated raw triples.

Windowed-aggregate example with watermarking included for the streaming-
analytics surface (triples/minute per predicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .assembly import assemble_turns
from .extraction import extract_raw_triples


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_extraction(stream: DataFrame, out_path: str,
                         checkpoint: str):
    """Stateless streaming extraction: turns stream → triples appended.
    Returns the started StreamingQuery (caller triggers/awaits)."""
    triples = extract_raw_triples(stream)
    return (
        triples.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_extraction_foreach_batch(stream: DataFrame, out_path: str,
                                       checkpoint: str):
    """Per-micro-batch stage-1 with window turn assembly (legal inside
    foreachBatch), exactly-once via the streaming checkpoint."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        raw = extract_raw_triples(assemble_turns(batch).drop("rn"))
        raw.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stateful_conversation_progress(stream: DataFrame):
    """Custom stateful streaming operator (applyInPandasWithState): per
    conversation, maintain running (n_turns, n_triple_turns, max_turn_idx)
    state across micro-batches and emit the updated row each time the
    conversation receives turns. State survives restarts via the streaming
    checkpoint — the streaming twin of the batch pipeline's resume markers.
    """
    import pandas as pd  # noqa: F401

    out_schema = ("conv_id string, n_turns long, n_triple_turns long, "
                  "max_turn_idx int")
    state_schema = "n_turns long, n_triple_turns long, max_turn_idx int"

    def update(key, pdfs, state):
        n_turns, n_triple, max_idx = (
            state.get if state.exists else (0, 0, -1)
        )
        # one vectorized regex over the batch — no per-row Python .apply
        anchored_re = "(?: is a | was created by | same as | also known as )"
        for pdf in pdfs:
            n_turns += len(pdf)
            txt = pdf["text"].fillna("")
            n_triple += int(txt.str.contains(anchored_re, regex=True).sum())
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_triple, max_idx))
        import pandas as pd

        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n_turns],
             "n_triple_turns": [n_triple], "max_turn_idx": [max_idx]}
        )

    return (
        stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def turns_per_window(stream: DataFrame, window: str = "5 minutes",
                     watermark: str = "10 minutes") -> DataFrame:
    """Streaming windowed aggregate with late-data watermark: turns and
    triple-bearing turns per event-time window per role."""
    anchored = F.col("text").rlike(" is a | was created by | same as ")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("role"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(anchored, 1).otherwise(0)).alias("n_triple_turns"),
        )
    )


def streaming_minhash_signatures(
    stream: DataFrame, sig_path: str, checkpoint: str,
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, num_perm: int = 64, seed: int = 42,
    files_per_epoch: int | None = None,
):
    """Streaming NEAR-dup, stage 1: per micro-batch, compute MinHash
    signatures for the batch's documents and write them to a parquet
    signature store partitioned by `epoch` (the micro-batch id). The write
    is IDEMPOTENT — dynamic partition overwrite keyed on epoch_id — so a
    foreachBatch retry after a partial write replaces that epoch's
    directory instead of duplicating rows (foreachBatch is at-least-once;
    a blind append would leak duplicates to any sig_path consumer).
    Signature work is strictly per-doc — no
    cross-doc join ever runs inside the stream. The expensive pair-space
    work (LSH banding + exact verify) is deliberately a PERIODIC BATCH job
    over the accumulated store (`neardup_refresh`), mirroring the batch
    pipeline's staging: streams append cheap per-row state, cross-row
    joins run where Spark can shuffle freely. This is the standard
    lambda-style split for streaming similarity — candidates between two
    in-flight micro-batches appear at the next refresh, not mid-stream."""
    from .datapipe.dedup import minhash_signatures

    def handle(batch: DataFrame, epoch_id: int) -> None:
        sigs = minhash_signatures(batch, id_col, text_col, n, num_perm, seed)
        if files_per_epoch is not None:
            # Long-running streams write epochs forever: without a bound
            # each epoch emits defaultParallelism files and the store the
            # periodic refresh scans accumulates task-count x epoch tiny
            # files. Size this to ~128MB-target files for the epoch's
            # signature volume (num_perm longs per doc).
            sigs = sigs.coalesce(max(files_per_epoch, 1))
        (sigs.withColumn("epoch", F.lit(epoch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("epoch").parquet(sig_path))

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def neardup_refresh(
    spark: SparkSession, sig_path: str, docs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, num_perm: int = 64, bands: int = 32, rows_per_band: int = 2,
    threshold: float = 0.5, max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Streaming NEAR-dup, stage 2 (periodic batch refresh): LSH-band the
    ACCUMULATED signature store (all epochs — pairs spanning micro-batches
    are first-class), verify candidates with exact n-gram Jaccard against
    the document store, and return (a, b, jaccard >= threshold). Re-run on
    a schedule or after N appended epochs; cost is candidate-proportional,
    and the signature store is num_perm longs per doc (vocabulary-sized).
    Re-ingested doc ids keep their latest signature (keep-last by epoch).

    max_bucket_size defaults ON here (unlike the batch operators, whose
    callers see their corpus): a long-running stream's store grows
    unattended, and one boilerplate/exact-template cluster of m docs
    would emit C(m,2) candidates from a single band bucket — the refresh
    that worked at 5k docs hangs at 100k replicated (measured,
    tools/streaming_bench.py). Capped buckets bound each refresh at
    O(buckets · cap²) regardless of store skew; exact-template mass
    belongs to exact dedup (hash-groupBy), not the pair space."""
    from pyspark.sql import Window

    from .datapipe._util import persist_tracked
    from .datapipe.dedup import (exact_ngram_jaccard_on_pairs,
                                 minhash_lsh_candidates)

    sigs = spark.read.parquet(sig_path)
    w = Window.partitionBy("id").orderBy(F.col("epoch").desc())
    # persisted: the LSH bucket self-join (and its bucket-size window)
    # consumes this frame once per side — without the persist the store
    # scan + keep-last window run twice per refresh
    sigs = persist_tracked(
        sigs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("id", "sig")
    )
    cand = minhash_lsh_candidates(
        sigs, bands, rows_per_band, num_perm, max_bucket_size=max_bucket_size
    ).select("a", "b")
    return (
        exact_ngram_jaccard_on_pairs(cand, docs, id_col, text_col, n)
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_stream(stream: DataFrame, key_cols: list[str],
                 ts_col: str = "ts", watermark: str = "10 minutes") -> DataFrame:
    """Streaming deduplication with bounded state:
    `dropDuplicatesWithinWatermark` keeps each key's state only until the
    watermark passes it, so state size is O(keys per watermark window) —
    the streaming twin of the batch exact-dedup operator. Late duplicates
    beyond the watermark are NOT deduped (the documented tradeoff of
    bounded state; widen the watermark to widen the guarantee)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(key_cols)
    )
