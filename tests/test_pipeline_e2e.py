"""End-to-end: golden-triple P/R ≥ 0.95 (north_rule), resume correctness,
lineage markers, salted-join parity."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from kgsum_spark import pipeline as P
from kgsum_spark.pipeline import run_pipeline


def _parquet_files(path):
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _footer_lineage(path):
    """Test oracle: rows per `part-NNNNN` file number summed from the
    parquet footers, zero-row entries dropped (as in the markers)."""
    agg: dict[int, int] = {}
    for fp in _parquet_files(path):
        pid = int(re.match(r"part-(\d+)", os.path.basename(fp)).group(1))
        agg[pid] = agg.get(pid, 0) + pq.ParquetFile(fp).metadata.num_rows
    return [{"part_id": k, "rows": v} for k, v in sorted(agg.items()) if v]


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
        assert meta["lineage"] == _footer_lineage(os.path.join(work_dir, stage))


def test_stage_lineage_matches_footer_oracle(spark, tmp_path):
    """Lineage from the write tasks' metrics equals the footer sums on a
    flat many-file write, a partitionBy write, a sparse write (tasks with
    no rows) and an empty write; bytes_written equals the parquet bytes on
    disk. The job tag leaves the caller's job group in place."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.range(0, 10_000).withColumn("k", F.col("id") % 3)
    writes = {
        "flat": (df.repartition(96), None),
        "nested": (df.repartition(40), ["k"]),                 # 120 files
        "sparse": (spark.range(10).repartition(16), None),     # 8 empty tasks
        "empty": (spark.createDataFrame([], "id long"), None),
    }
    sc.setJobGroup("outer_lineage_test", "caller's group")
    try:
        for stage, (d, partition_by) in writes.items():
            before = set(tracker.getJobIdsForGroup("outer_lineage_test"))
            ungrouped = set(tracker.getJobIdsForGroup(None))
            meta = P._write_stage(d, str(tmp_path), stage, partition_by)
            new_jobs = set(tracker.getJobIdsForGroup("outer_lineage_test")) - before
            assert new_jobs, stage
            assert set(tracker.getJobIdsForGroup(None)) == ungrouped, stage
            path = str(tmp_path / stage)
            assert meta["lineage"] == _footer_lineage(path), stage
            assert meta["bytes_written"] == sum(
                os.path.getsize(f) for f in _parquet_files(path)), stage
    finally:
        sc._jsc.clearJobGroup()
    assert set(sc.getJobTags()) == set()
    flat = json.load(open(tmp_path / "_MARKER_flat.json"))
    assert flat["partitions"] == 96 and flat["task_s"] > 0
    empty = json.load(open(tmp_path / "_MARKER_empty.json"))
    assert (empty["rows"], empty["partitions"], empty["lineage"]) == (0, 0, [])


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


def test_salted_join_same_triples(
    spark, transcripts_df, tmp_path, monkeypatch, baseline_set
):
    """With the salt gate forced open and 4 salts instead of _N_SALTS, the
    salted join gives the broadcast path's triples."""
    monkeypatch.setattr(P, "_SALT_ABOVE_ROWS", 0)
    monkeypatch.setattr(P, "_N_SALTS", 4)
    res_s = run_pipeline(spark, transcripts_df, str(tmp_path / "salted"), resume=False)
    assert res_s.metrics["salted_join"] is True
    b = {
        tuple(r) for r in res_s.triples.select("subj", "pred", "obj").distinct().collect()
    }
    assert baseline_set == b


def test_auto_salted_join_parity(
    spark, transcripts_df, tmp_path, monkeypatch, result, baseline_set
):
    """The salt gate reads the entities marker: at the default
    _SALT_ABOVE_ROWS the test corpus broadcasts; with the limit at 1 row
    the salted join is taken and gives the identical triple set."""
    assert result.metrics["salted_join"] is False
    monkeypatch.setattr(P, "_SALT_ABOVE_ROWS", 1)
    salted = run_pipeline(spark, transcripts_df, str(tmp_path / "auto"), resume=False)
    assert salted.metrics["salted_join"] is True
    got = {tuple(r) for r in
           salted.triples.select("subj", "pred", "obj").distinct().collect()}
    assert got == baseline_set


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
