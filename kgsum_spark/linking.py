"""Candidate entity linking: token-blocking + similarity joins.

Design for 10^12-turn scale: similarity runs over the *distinct normalized
vocabulary* (norms), not over mention occurrences — dedup-before-join
collapses the power-law occurrence skew (a hot entity appearing in 10% of
turns is still ONE vocabulary row). The occurrence→canonical mapping
(pipeline stage 3) is a plain left join of the big triples table against
that small vocabulary map; Spark's planner broadcasts the map while it is
under `autoBroadcastJoinThreshold` and otherwise takes a shuffle join
that AQE's skew split spreads when one key is hot.

Reference analog: the owl:sameAs edge set (select_local_con,
/root/reference/src/dataset_preparation.py:354-368) is the only linking
signal kgsum has; we add token-blocking similarity edges on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extraction import mention_norm
from .rules import JACCARD_THRESHOLD
from .schemas import PRED_SAMEAS


def distinct_norms(mentions: DataFrame) -> DataFrame:
    """Vocabulary table: one row per normalized mention, with its block key
    and token set. This is the skew-collapsing dedup."""
    return (
        mentions.select("norm", "block_key")
        .distinct()
        .withColumn("tokens", F.split(F.col("norm"), " "))
    )


def similarity_edges(norms: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Within-block self-join, token-set Jaccard ≥ threshold → edges(a, b).

    The self-join is on block_key (hash shuffle); a < b halves the pairs.
    Jaccard via array_intersect/size — all JVM expressions, codegen'd.
    At scale: block sizes are bounded by vocabulary (not corpus) frequency;
    AQE skew-join splits any residual hot block.
    """
    a = norms.select(
        F.col("norm").alias("a"), F.col("block_key").alias("bk"),
        F.col("tokens").alias("ta"),
    )
    b = norms.select(
        F.col("norm").alias("b"), F.col("block_key").alias("bk"),
        F.col("tokens").alias("tb"),
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size(F.col("ta")) + F.size(F.col("tb")) - inter
    return (
        a.join(b, "bk")
        .filter(F.col("a") < F.col("b"))
        .withColumn("jac", inter / union)
        .filter(F.col("jac") >= threshold)
        .select("a", "b")
    )


def sameas_edges(raw_triples: DataFrame) -> DataFrame:
    """Explicit alias edges from extracted `owl:sameAs` triples whose object
    is itself a mention (the 'also known as' rule) — normalized pairs."""
    return (
        raw_triples.filter((F.col("pred") == PRED_SAMEAS) & F.col("obj_is_mention"))
        .select(mention_norm(F.col("subj")).alias("a"),
                mention_norm(F.col("obj")).alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != ""))
        .distinct()
    )


def all_edges(mentions: DataFrame, raw_triples: DataFrame,
              norms: DataFrame | None = None) -> DataFrame:
    """similarity ∪ sameAs edges. Pass a pre-materialized `norms`
    (distinct_norms output, e.g. localCheckpointed) to avoid recomputing
    the mention scan for the similarity side."""
    if norms is None:
        norms = distinct_norms(mentions)
    return similarity_edges(norms).unionByName(sameas_edges(raw_triples)).distinct()


def minhash_similarity_edges(norms: DataFrame,
                             threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """MinHash+LSH alternative to token-blocking for the similarity edges
    (the north_rule names both): unigram shingles over the normalized
    vocabulary = token-SET Jaccard, exact-verified on LSH candidates.

    Strictly higher recall than token-blocking at the same threshold:
    blocking only pairs norms sharing their FIRST token, minhash pairs any
    candidates with overlapping token sets ('acme labs' ↔ 'labs acme').
    Cost is vocabulary-sized either way (linking dedups before similarity).
    """
    from .datapipe.dedup import minhash_neardup_verified

    df = norms.select(F.col("norm"))
    return (
        minhash_neardup_verified(df, id_col="norm", text_col="norm",
                                 n=1, threshold=threshold)
        .select("a", "b")
    )
