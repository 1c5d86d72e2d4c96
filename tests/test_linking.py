"""Blocking, similarity edges, and the skew-split map join that replaced
the salted-join fallback."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgsum_spark.linking import distinct_norms, similarity_edges


def _mentions(spark, norms):
    rows = [(n, n, n.split(" ")[0]) for n in norms]
    return spark.createDataFrame(rows, "mention string, norm string, block_key string")


def test_similarity_edges_link_abbrev(spark):
    m = _mentions(spark, ["zorblax labs", "zorblax", "velara corp", "velara"])
    edges = {(r["a"], r["b"]) for r in similarity_edges(distinct_norms(m)).collect()}
    assert ("zorblax", "zorblax labs") in edges
    assert ("velara", "velara corp") in edges
    assert len(edges) == 2  # no cross-block pairs


def test_similarity_respects_threshold(spark):
    # 1/3 jaccard must NOT link ("zorblax" vs 3-token name)
    m = _mentions(spark, ["zorblax alpha beta", "zorblax"])
    edges = similarity_edges(distinct_norms(m)).collect()
    assert edges == []


def test_salted_join_equals_broadcast(spark):
    """The name is kept from the deleted salted join, whose job this now
    checks is done by AQE: with broadcast off and 40% of the big side on
    one key, the plain left join's final plan splits the hot partition
    (`SortMergeJoin(skew=true)`) and gives the broadcast join's rows."""
    big = spark.range(0, 20_000).select(
        F.when(F.col("id") % 5 < 2, F.lit("hot"))
        .otherwise((F.col("id") % 97).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    mapping = spark.createDataFrame(
        [("hot", "mhot")] + [(str(i), f"m{i}") for i in range(0, 97, 2)],
        "k string, canon string",
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = big.join(mapping, "k", "left")
        got = sorted(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k in confs:
            spark.conf.unset(k)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan
    want = sorted(big.join(F.broadcast(mapping), "k", "left").collect())
    assert got == want
    assert sum(r["canon"] == "mhot" for r in got) == 8_000


def test_minhash_edges_superset_of_blocking(spark):
    """MinHash similarity edges must contain every token-blocking edge at
    the same threshold, plus cross-block pairs blocking cannot see."""
    from kgsum_spark.linking import (
        distinct_norms,
        minhash_similarity_edges,
        similarity_edges,
    )

    rows = [("acme labs",), ("acme",), ("labs acme corp",),
            ("zorblax",), ("zorblax labs",), ("other thing",)]
    mentions = spark.createDataFrame(rows, ["norm"]).withColumn(
        "block_key", F.substring_index("norm", " ", 1))
    norms = distinct_norms(mentions.select("norm", "block_key"))
    blocked = {(r["a"], r["b"]) for r in similarity_edges(norms).collect()}
    mh = {(r["a"], r["b"]) for r in
          minhash_similarity_edges(norms.select("norm")).collect()}
    assert blocked <= mh
    # cross-block pair invisible to blocking: 'acme labs' ~ 'labs acme corp'
    # (J = 2/3 ≥ 0.5; first tokens differ)
    assert ("acme labs", "labs acme corp") in mh
    assert ("acme labs", "labs acme corp") not in blocked
