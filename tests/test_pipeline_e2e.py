"""End-to-end: golden-triple P/R ≥ 0.95 (north_rule), resume correctness,
lineage markers, salted-join parity."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from kgsum_spark.pipeline import run_pipeline


def _pr(triples_df, golden_pdf):
    emitted = {
        (r["subj"], r["pred"], r["obj"])
        for r in triples_df.select("subj", "pred", "obj").distinct().collect()
    }
    golden = set(
        map(tuple, golden_pdf[["subj", "pred", "obj"]].drop_duplicates().values)
    )
    inter = emitted & golden
    return len(inter) / len(emitted), len(inter) / len(golden), emitted


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pipeline")
    return str(d)


@pytest.fixture(scope="module")
def result(spark, transcripts_df, work_dir):
    return run_pipeline(spark, transcripts_df, work_dir, resume=False)


@pytest.fixture(scope="module")
def baseline_set(result):
    # collected eagerly: later tests rewrite the checkpoint dir, which would
    # invalidate lazy re-reads of result.triples
    return {
        (r["subj"], r["pred"], r["obj"])
        for r in result.triples.select("subj", "pred", "obj").distinct().collect()
    }


def test_precision_recall(result, corpus):
    p, r, _ = _pr(result.triples, corpus.golden)
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"


def test_markers_and_lineage(result, work_dir):
    for stage in ["raw_triples", "entities", "triples"]:
        mp = os.path.join(work_dir, f"_MARKER_{stage}.json")
        assert os.path.exists(mp)
        meta = json.load(open(mp))
        assert meta["rows"] > 0
        assert sum(p["rows"] for p in meta["lineage"]) == meta["rows"]


def test_footer_lineage_distributed_matches_serial(spark, tmp_path):
    """Past _LINEAGE_DISTRIBUTE_THRESHOLD files the footer reads fan out
    over executors (r4 VERDICT #1: the serial driver walk was the last
    driver-side stall in the pipeline); the distributed pass must return
    byte-identical lineage to the serial fallback on a many-file stage,
    including partitioned (nested-dir) layouts."""
    from pyspark.sql import functions as F

    from kgsum_spark import pipeline as P

    df = spark.range(0, 10_000).withColumn("k", F.col("id") % 3)
    flat = str(tmp_path / "flat")
    df.repartition(96).write.parquet(flat)
    serial = P._footer_lineage(flat)                 # spark=None → serial
    dist = P._footer_lineage(flat, spark=spark, force_distribute=True)
    assert serial == dist
    assert sum(p["rows"] for p in dist) == 10_000
    assert len(dist) == 96

    nested = str(tmp_path / "nested")
    df.repartition(40).write.partitionBy("k").parquet(nested)  # 120 files
    assert P._footer_lineage(nested) == P._footer_lineage(
        nested, spark=spark, force_distribute=True)
    # scheme-aware threshold: local paths distribute late, remote early
    assert P._lineage_threshold(flat) == P._LINEAGE_DISTRIBUTE_THRESHOLD_LOCAL
    assert (P._lineage_threshold("s3://bucket/stage")
            == P._LINEAGE_DISTRIBUTE_THRESHOLD_REMOTE)


def test_resume_skips_all_stages(spark, transcripts_df, work_dir, baseline_set, corpus):
    res2 = run_pipeline(spark, transcripts_df, work_dir, resume=True)
    assert set(res2.metrics["resumed"]) == {"raw_triples", "entities", "triples"}
    _, _, e2 = _pr(res2.triples, corpus.golden)
    assert baseline_set == e2


def test_resume_mid_pipeline_identical_triples(
    spark, transcripts_df, work_dir, baseline_set, corpus
):
    # kill after stage 2: drop the triples marker → only stage 3 recomputes
    os.remove(os.path.join(work_dir, "_MARKER_triples.json"))
    shutil.rmtree(os.path.join(work_dir, "triples"))
    res3 = run_pipeline(spark, transcripts_df, work_dir, resume=True)
    assert set(res3.metrics["resumed"]) == {"raw_triples", "entities"}
    _, _, e3 = _pr(res3.triples, corpus.golden)
    assert baseline_set == e3


def test_salted_join_same_triples(spark, transcripts_df, tmp_path, baseline_set):
    res_s = run_pipeline(
        spark, transcripts_df, str(tmp_path / "salted"), resume=False,
        use_salted_join=True, n_salts=4,
    )
    b = {
        tuple(r) for r in res_s.triples.select("subj", "pred", "obj").distinct().collect()
    }
    assert baseline_set == b


def test_hostile_text_same_triples_cold_and_resumed(
    spark, corpus, tmp_path, baseline_set
):
    """`\\r\\n` sentence breaks and a non-ASCII, rule-free sentence on
    every turn must leave the graph unchanged, both on a cold run and when
    linking and materialization resume from the raw_triples checkpoint."""
    from kgsum_spark import schemas

    pdf = corpus.transcripts.copy()
    pdf["text"] = (pdf["text"].str.replace(". ", ".\r\n", regex=False)
                   + " naïve café note ok.")
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    wd = str(tmp_path / "hostile")

    def triples(res):
        return {tuple(r) for r in
                res.triples.select("subj", "pred", "obj").distinct().collect()}

    assert triples(run_pipeline(spark, tdf, wd, resume=False)) == baseline_set
    for stage in ("entities", "triples"):
        os.remove(os.path.join(wd, f"_MARKER_{stage}.json"))
    res = run_pipeline(spark, tdf, wd, resume=True)
    assert res.metrics["resumed"] == ["raw_triples"]
    assert triples(res) == baseline_set


def test_pred_partitioned_layout(work_dir):
    parts = os.listdir(os.path.join(work_dir, "triples"))
    assert any(p.startswith("pred=") for p in parts)


def test_corrupt_marker_triggers_recompute(spark, transcripts_df, tmp_path_factory):
    """A torn marker (crash mid-json-dump) must recompute the stage on
    resume, not crash or trust the partial checkpoint."""
    import json
    import os

    from kgsum_spark.pipeline import run_pipeline

    wd = str(tmp_path_factory.mktemp("corrupt"))
    first = run_pipeline(spark, transcripts_df, wd, resume=False)
    expect = {tuple(r) for r in
              first.triples.select("subj", "pred", "obj").distinct().collect()}
    with open(os.path.join(wd, "_MARKER_triples.json"), "w") as f:
        f.write('{"stage": "triples", "rows":')  # torn write
    res = run_pipeline(spark, transcripts_df, wd, resume=True)
    assert "triples" not in res.metrics["resumed"]
    assert {"raw_triples", "entities"} <= set(res.metrics["resumed"])
    got = {tuple(r) for r in
           res.triples.select("subj", "pred", "obj").distinct().collect()}
    assert got == expect
    with open(os.path.join(wd, "_MARKER_triples.json")) as f:
        assert json.load(f)["rows"] > 0  # marker rewritten whole


def test_auto_salted_join_parity(spark, transcripts_df, tmp_path_factory):
    """use_salted_join='auto' with a tiny threshold must take the salted
    path and produce the identical triple set as the broadcast path."""
    from pyspark.sql import functions as F  # noqa: F401

    from kgsum_spark.pipeline import run_pipeline

    wd_b = str(tmp_path_factory.mktemp("autosalt_b"))
    base = run_pipeline(spark, transcripts_df, wd_b, resume=False)
    expect = {tuple(r) for r in
              base.triples.select("subj", "pred", "obj").distinct().collect()}
    wd_s = str(tmp_path_factory.mktemp("autosalt_s"))
    salted = run_pipeline(spark, transcripts_df, wd_s, resume=False,
                          use_salted_join="auto", auto_salt_threshold=1)
    assert salted.metrics["salted_join"] is True
    got = {tuple(r) for r in
           salted.triples.select("subj", "pred", "obj").distinct().collect()}
    assert got == expect
    wd_a = str(tmp_path_factory.mktemp("autosalt_a"))
    auto = run_pipeline(spark, transcripts_df, wd_a, resume=False,
                        use_salted_join="auto")  # default threshold: broadcast
    assert auto.metrics["salted_join"] is False
