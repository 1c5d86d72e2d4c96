"""Seeded transcript workloads for the KG-construction benchmark.

Every workload starts from one `kgsum_spark.synth.generate_corpus` call and
is replicated in Spark to its full size, then written to parquet with a
fixed file count and row order before anything is timed:

  kg_ascii       the synth corpus as generated (printable ASCII).
  kg_unicode     the same, with a triple-free non-ASCII sentence appended to
                 every turn; the golden triple set is unchanged.
  kg_wide_vocab  many replicas of a small corpus, each with its coined entity
                 tokens renamed, so the vocabulary grows with the replicas.

Replica `r` of conversation `c` is `c#r`; `base_conv_id` strips the suffix.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kgsum_spark import schemas
from kgsum_spark.synth import generate_corpus

FILES = 16
UNICODE_TAIL = " naïve café note ok."
# placeholder written before each coined entity token in the kg_wide_vocab
# base corpus; each replica swaps it for its own zero-padded id with a
# literal (non-regex) replace
_MARK = "\x02"
_REP_DIGITS = 5


@dataclass(frozen=True)
class Spec:
    n_convs: int        # synth conversations in the base corpus
    n_groups: int       # synth entity groups (coined tokens)
    replicas: int       # copies of the base corpus in the input
    unicode: bool = False
    rename: bool = False


WORKLOADS = {
    "kg_ascii": Spec(n_convs=5_000, n_groups=190, replicas=4),
    "kg_unicode": Spec(n_convs=5_000, n_groups=190, replicas=4, unicode=True),
    "kg_wide_vocab": Spec(n_convs=20, n_groups=400, replicas=10_000, rename=True),
}


@dataclass
class Inputs:
    transcripts: str      # parquet dir of the transcript table
    golden: str           # parquet dir of distinct golden (subj, pred, obj)
    turns: int
    golden_triples: int
    input_bytes: int


def base_conv_id():
    """The synth conversation id of a replicated row (`c#r` → `c`)."""
    return F.substring_index(F.col("conv_id"), "#", 1)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, fns in os.walk(path)
        for fn in fns
        if not fn.startswith((".", "_"))
    )


def _mark_entities(text: pd.Series, tokens: list[str]) -> pd.Series:
    """Prefix every coined entity token with _MARK (case-insensitive, whole
    word). Entity surfaces always start with their coined token, so the
    replica id lands at the front of every normalized mention: the order of
    norms inside a replica, and so every canonical id, is preserved."""
    rx = re.compile(r"\b(?:" + "|".join(map(re.escape, tokens)) + r")\b", re.I)
    return text.str.replace(rx, lambda m: _MARK + m.group(0), regex=True)


def build_inputs(spark: SparkSession, workload: str, seed: int,
                 out_dir: str) -> Inputs:
    spec = WORKLOADS[workload]
    corpus = generate_corpus(spec.n_convs, seed=seed, n_groups=spec.n_groups)
    pdf = corpus.transcripts.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    if spec.rename:
        tokens = sorted({g.base.split(" ")[0] for g in corpus.groups})
        pdf["text"] = _mark_entities(pdf["text"], tokens)
    gold = corpus.golden[["subj", "pred", "obj"]].drop_duplicates()

    base = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    reps = spark.range(0, spec.replicas, 1, FILES).select(
        F.col("id").cast("int").alias("rep"))
    df = reps.crossJoin(F.broadcast(base))
    text = F.col("text")
    if spec.unicode:
        text = F.concat(text, F.lit(UNICODE_TAIL))
    rep_id = F.lpad(F.col("rep").cast("string"), _REP_DIGITS, "0")
    if spec.rename:
        text = F.replace(text, F.lit(_MARK), rep_id)
    tpath = os.path.join(out_dir, "transcripts")
    # FILES even files of whole conversations, each in a fixed order, so the
    # pipeline's scan splits evenly over the cores; the cross join alone
    # writes one file per non-empty replica
    df.select(
        F.concat("conv_id", F.lit("#"), rep_id).alias("conv_id"),
        "turn_idx", "role", text.alias("text"), "tool", "ts",
    ).repartition(FILES, "conv_id").sortWithinPartitions("conv_id", "turn_idx") \
        .write.mode("overwrite").parquet(tpath)

    g = spark.createDataFrame(gold, "subj string, pred string, obj string")
    if spec.rename:
        # canonical ids are "ent:" + norm; the replica id prefixes the norm
        g = reps.crossJoin(F.broadcast(g))
        ent = lambda c: F.when(  # noqa: E731
            F.col(c).startswith("ent:"),
            F.concat(F.lit("ent:"), rep_id, F.substring(c, 5, 1 << 30)),
        ).otherwise(F.col(c))
        g = g.select(ent("subj").alias("subj"), "pred", ent("obj").alias("obj"))
    gpath = os.path.join(out_dir, "golden")
    g.write.mode("overwrite").parquet(gpath)
    return Inputs(
        transcripts=tpath,
        golden=gpath,
        turns=len(pdf) * spec.replicas,
        golden_triples=len(gold) * (spec.replicas if spec.rename else 1),
        input_bytes=dir_bytes(tpath),
    )
