"""End-to-end: golden-triple P/R ≥ 0.95 (north_rule), resume correctness,
lineage markers, and the stage-3 map join: broadcast with no hint by
default, the same triples when Spark must shuffle instead."""

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


def _spo_counts(triples):
    return {(r["subj"], r["pred"], r["obj"]): r["count"]
            for r in triples.groupBy("subj", "pred", "obj").count().collect()}


@pytest.fixture(scope="module")
def baseline_counts(result):
    # collected eagerly: later tests rewrite the checkpoint dir, which would
    # invalidate lazy re-reads of result.triples
    return _spo_counts(result.triples)


@pytest.fixture(scope="module")
def baseline_set(baseline_counts):
    return set(baseline_counts)


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


def _final_write_plan(spark, out_path):
    """The final adaptive plan tree of the newest SQL execution that wrote
    `out_path`, read from the SQL status store (filled with the UI off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(ex.length())):
        plan = ex.apply(i).physicalPlanDescription()
        if ("InsertIntoHadoopFsRelationCommand" in plan and out_path in plan
                and "isFinalPlan=true" in plan):
            return plan.split("== Initial Plan ==")[0]
    raise AssertionError(f"no final plan writes {out_path}")


def _spo(res):
    return {tuple(r) for r in
            res.triples.select("subj", "pred", "obj").distinct().collect()}


def test_salted_join_same_triples(spark, transcripts_df, tmp_path, baseline_set):
    """The name is kept from the deleted salted join: this is the path an
    entities map over autoBroadcastJoinThreshold (64 MB) takes. With
    broadcast off, stage 3 shuffles and gives the broadcast run's triples."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    wd = str(tmp_path / "shuffled")
    spark.conf.set(key, "-1")
    try:
        res = run_pipeline(spark, transcripts_df, wd, resume=False)
        got = _spo(res)
    finally:
        spark.conf.set(key, old)
    plan = _final_write_plan(spark, os.path.join(wd, "triples"))
    assert plan.count("SortMergeJoin") == 2 and "BroadcastHashJoin" not in plan
    assert got == baseline_set


def test_auto_salted_join_parity(spark, transcripts_df, tmp_path, work_dir,
                                 baseline_set):
    """The name is kept from the salt gate's auto-choice test: the default
    run still broadcasts the entities map, now with no hint, because its
    parquet is far under autoBroadcastJoinThreshold. Only stage 3 reruns,
    on a copy of the module run's work dir."""
    wd = str(tmp_path / "auto")
    shutil.copytree(work_dir, wd)
    os.remove(os.path.join(wd, "_MARKER_triples.json"))
    shutil.rmtree(os.path.join(wd, "triples"))
    res = run_pipeline(spark, transcripts_df, wd, resume=True)
    assert res.metrics["resumed"] == ["raw_triples", "entities"]
    plan = _final_write_plan(spark, os.path.join(wd, "triples"))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert _spo(res) == baseline_set


def test_same_triples_across_shuffle_partitions(
    spark, transcripts_df, tmp_path, baseline_counts
):
    """The (subj, pred, obj) multiset does not depend on the shuffle
    partition count (session default 8)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        for n in (4, 200):
            spark.conf.set(key, str(n))
            res = run_pipeline(spark, transcripts_df, str(tmp_path / f"p{n}"),
                               resume=False)
            assert _spo_counts(res.triples) == baseline_counts, n
    finally:
        spark.conf.set(key, old)


def test_failed_rerun_does_not_resume_stale_stages(spark, tmp_path, monkeypatch):
    """A rerun on other input that fails in stage 2 must not leave run 1's
    entities and triples markers to be resumed: recomputing a stage drops
    its marker and every later one first."""
    from kgsum_spark import schemas
    from kgsum_spark.synth import generate_corpus

    def tdf(n_convs, seed):
        c = generate_corpus(n_convs=n_convs, seed=seed)
        return spark.createDataFrame(c.transcripts, schema=schemas.TRANSCRIPTS)

    a, b = tdf(120, 7), tdf(60, 8)
    wd = str(tmp_path / "rerun")
    run_pipeline(spark, a, wd, resume=False)

    def boom(*args, **kwargs):
        raise RuntimeError("injected stage-2 failure")

    with monkeypatch.context() as m:
        m.setattr(P, "canonical_map", boom)
        with pytest.raises(RuntimeError, match="injected"):
            run_pipeline(spark, b, wd, resume=False)
    res = run_pipeline(spark, b, wd, resume=True)
    assert res.metrics["resumed"] == ["raw_triples"]
    cold = run_pipeline(spark, b, str(tmp_path / "cold"), resume=False)
    assert _spo_counts(res.triples) == _spo_counts(cold.triples)


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
