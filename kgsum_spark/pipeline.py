"""End-to-end staged pipeline with checkpoint/resume and lineage counters.

Each stage writes a parquet checkpoint and a JSON marker (rows, lineage,
bytes, task seconds, wall time); a stage whose marker exists is read back
instead of recomputed. Lineage comes from the write job's own task
metrics: rows written per task, keyed by the `part-NNNNN` file number.

  1. raw_triples  — scan → window turn assembly → regex extraction (one
                    Catalyst plan, no Python worker)
  2. entities     — mentions → blocking/similarity/sameAs edges → CC → map
  3. triples      — canonicalize subj/obj (map join) → pred-partitioned
                    graph table (the Iceberg-table analog; parquet in this
                    sandbox, `writeTo(...).append()` on a real catalog)

The final table is partitioned by `pred` so profile queries
(p == rdf:type, etc.) get file-level partition pruning (SURVEY.md §4).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .assembly import assemble_turns
from .canonicalize import canonical_map
from .extraction import extract_raw_triples, mention_norm, mentions_from_raw
from .linking import all_edges, distinct_norms

_STAGES = ("raw_triples", "entities", "triples")


@dataclass
class PipelineResult:
    triples: DataFrame
    metrics: dict = field(default_factory=dict)


def _marker_path(work_dir: str, stage: str) -> str:
    return os.path.join(work_dir, f"_MARKER_{stage}.json")


def _stage_done(work_dir: str, stage: str) -> bool:
    """A stage counts as done only if its marker parses and its data dir
    exists — a torn/corrupt marker (crash mid-json-dump) must trigger
    recompute, not a resume-time crash."""
    if not os.path.exists(os.path.join(work_dir, stage)):
        return False
    try:
        with open(_marker_path(work_dir, stage)) as f:
            json.load(f)
        return True
    except (OSError, ValueError):
        return False


def _seq(scala_seq):
    # by index: py4j iteration over a converted java.util.List costs ~15 ms
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _write_task_metrics(sc, tag: str) -> tuple[list[dict], int, float]:
    """(lineage, bytes written, task seconds) summed over the successful
    task records of every stage attempt of the jobs tagged `tag`. Raises
    rather than under-counts when the status store has evicted tasks
    (`spark.ui.retainedTasks`)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stage_ids = {sid for job in jsc.statusTracker().getJobIdsForTag(tag)
                 for sid in sc.statusTracker().getJobInfo(job).stageIds}
    rows: dict[int, int] = {}
    nbytes = run_ms = 0
    for sid in stage_ids:
        for att in _seq(store.stageData(sid, False, [], False, no_quantiles)):
            tasks = [t for t in _seq(store.taskList(sid, att.attemptId(), 2**31 - 1))
                     if t.status() == "SUCCESS"]
            if len(tasks) < att.numCompleteTasks():
                raise RuntimeError(
                    f"stage {sid} attempt {att.attemptId()}: the status store "
                    f"keeps {len(tasks)} of {att.numCompleteTasks()} successful "
                    "tasks; raise spark.ui.retainedTasks")
            for t in tasks:
                m, pid = t.taskMetrics().get(), t.partitionId()
                out = m.outputMetrics()
                rows[pid] = rows.get(pid, 0) + out.recordsWritten()
                nbytes += out.bytesWritten()
                run_ms += m.executorRunTime()
    lineage = [{"part_id": p, "rows": n} for p, n in sorted(rows.items()) if n]
    return lineage, nbytes, run_ms / 1000


def _write_stage(
    df: DataFrame, work_dir: str, stage: str, partition_by: list[str] | None = None
) -> dict:
    """Write checkpoint + marker. The write runs under its own job tag (a
    tag, unlike a job group, leaves the caller's group alone); lineage,
    bytes and task time come from that write's task records, with no
    listing or footer reads. A file's `part-NNNNN` is the partition id of
    the task that wrote it, which is the task index except in a retried
    attempt that reruns only the missing partitions."""
    t0 = time.time()
    path = os.path.join(work_dir, stage)
    # zstd writes checkpoints ~25% smaller than the default snappy. It is
    # set on this writer, not as a session conf, so every other parquet
    # write in the session keeps its own codec.
    writer = df.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    sc = df.sparkSession.sparkContext
    tag = f"kgsum_stage_{stage}_{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        writer.parquet(path)
    finally:
        sc.removeJobTag(tag)
    lineage, bytes_written, task_s = _write_task_metrics(sc, tag)
    meta = {
        "stage": stage,
        "rows": sum(p["rows"] for p in lineage),
        "partitions": len(lineage),
        "lineage": lineage,
        "bytes_written": bytes_written,
        "task_s": task_s,
        "wall_sec": round(time.time() - t0, 3),
        "schema": df.schema.jsonValue(),
    }
    with open(_marker_path(work_dir, stage), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def _read_stage(spark: SparkSession, work_dir: str, stage: str) -> DataFrame:
    """Read a checkpointed stage back using the schema recorded in its
    marker — robust to empty stages (no parquet files to infer from)."""
    from pyspark.sql.types import StructType

    with open(_marker_path(work_dir, stage)) as f:
        meta = json.load(f)
    reader = spark.read
    if "schema" in meta:
        reader = reader.schema(StructType.fromJson(meta["schema"]))
    return reader.parquet(os.path.join(work_dir, stage))


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    work_dir: str,
    resume: bool = True,
) -> PipelineResult:
    """Run (or resume) the stages under `work_dir`, a local or shared POSIX
    path (markers are written with `open()`). Resume takes a prefix of the
    stages: recomputing a stage first drops its marker and every later
    stage's, so a failed or torn rerun never leaves a later checkpoint of
    other input to be resumed."""
    os.makedirs(work_dir, exist_ok=True)
    metrics: dict = {"stages": {}, "resumed": []}

    def stage(name, compute, partition_by=None) -> DataFrame:
        if resume and _stage_done(work_dir, name):
            metrics["resumed"].append(name)
        else:
            t0 = time.time()
            for later in _STAGES[_STAGES.index(name):]:
                if os.path.exists(_marker_path(work_dir, later)):
                    os.remove(_marker_path(work_dir, later))
            meta = _write_stage(compute(), work_dir, name, partition_by)
            meta["stage_wall_sec"] = round(time.time() - t0, 3)
            metrics["stages"][name] = meta
        return _read_stage(spark, work_dir, name)

    # stage 1: extraction -------------------------------------------------
    raw = stage("raw_triples", lambda: extract_raw_triples(
        assemble_turns(transcripts).drop("rn")))

    # stage 2: linking + canonicalization ---------------------------------
    def entities_map() -> DataFrame:
        mentions = mentions_from_raw(raw)
        # the vocabulary is tiny (distinct norms, not occurrences) and has
        # three consumers (both sides of the similarity self-join + the CC
        # node set) — materialize it once. The edge frame has exactly ONE
        # consumer (connected_components' capped gate-collect), so it is
        # deliberately NOT checkpointed: an eager materialization here
        # would be one more scheduling-bound job of pure fixed cost.
        norms_tok = distinct_norms(mentions).localCheckpoint()
        edges = all_edges(mentions, raw, norms=norms_tok)
        return canonical_map(norms_tok.select("norm"), edges)

    entities = stage("entities", entities_map)

    # stage 3: canonical triple materialization ---------------------------
    def canonical_triples() -> DataFrame:
        t = raw.withColumn("subj_norm", mention_norm(F.col("subj"))).withColumn(
            "obj_norm",
            F.when(F.col("obj_is_mention"), mention_norm(F.col("obj"))),
        )
        smap = entities.select(
            F.col("norm").alias("subj_norm"), F.col("canonical_id").alias("subj_canon")
        )
        omap = entities.select(
            F.col("norm").alias("obj_norm"), F.col("canonical_id").alias("obj_canon")
        )
        # no hint: the planner broadcasts the map while the entities parquet
        # is under autoBroadcastJoinThreshold, else it shuffles and AQE
        # splits a hot key's partition
        t = t.join(smap, "subj_norm", "left").join(omap, "obj_norm", "left")
        return t.select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            "pred",
            F.when(F.col("obj_is_mention"), F.coalesce("obj_canon", "obj"))
            .otherwise(F.col("obj"))
            .alias("obj"),
            "obj_is_iri",
            "conv_id",
            "turn_idx",
            "part_id",
        )

    triples = stage("triples", canonical_triples, partition_by=["pred"])
    return PipelineResult(triples=triples, metrics=metrics)
