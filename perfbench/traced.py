"""The traced run: every layer's public functions timed on their own
materialized inputs, each layer under its own Spark job group, plus one
traced and one untraced cold pipeline for the tracing overhead.

Layers (kgsum_spark module names) and what is timed to a noop sink:

  extraction    assemble_turns + extract_raw_triples over the transcripts
  linking       mentions_from_raw, distinct_norms, all_edges (one child span
                each, on materialized raw triples / mentions / norms)
  canonicalize  canonical_map over materialized norms and edges
  pipeline      run_pipeline(resume=False) through triples.count()
  profile       build_profiles over the written triples table

The resume of a finished work dir is timed in its own span. Spans go to a
JSON file at the end; the per-layer metrics are medians over rounds.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import harness as H
from spans import MB, Tracer
from workloads import build_inputs

from kgsum_spark.assembly import assemble_turns
from kgsum_spark.canonicalize import canonical_map
from kgsum_spark.extraction import extract_raw_triples, mentions_from_raw
from kgsum_spark.linking import all_edges, distinct_norms
from kgsum_spark.pipeline import run_pipeline

LAYERS = ("extraction", "linking", "canonicalize", "pipeline", "profile")
# Rows the extractor cannot keep in the JVM plan: any character outside
# printable ASCII + \t \n \f. The benchmark's own predicate, so a change to
# the program's routing shows up as a change in the layer's wall, not here.
PYTHON_ROW_RE = r"[^\x20-\x7e\t\n\x0c]"

_SPARK_UNITS = {"task_s": "s", "jobs": "count", "shuffle_mb": "MB",
                "spill_mb": "MB", "gc_s": "s", "codegen_compiles": "count"}
# every per-layer metric the traced run prints, with its unit
PER_LAYER = {
    **{f"{layer}.{k}": u for layer in LAYERS
       for k, u in {"wall_s": "s", **_SPARK_UNITS}.items()},
    "extraction.turns_in": "count",
    "extraction.triples_out": "count",
    "extraction.triples_per_turn": "ratio",
    "extraction.python_rows": "count",
    "linking.vocab_rows": "count",
    "linking.candidate_pairs": "count",
    "linking.edges_out": "count",
    "linking.edge_yield": "ratio",
    "canonicalize.nodes": "count",
    "canonicalize.components": "count",
    "pipeline.raw_triples_s": "s",
    "pipeline.entities_s": "s",
    "pipeline.triples_s": "s",
    "pipeline.write_overhead_s": "s",
    "pipeline.files": "count",
    "pipeline.bytes_mb": "MB",
    "pipeline.resume_s": "s",
    "profile.graphs": "count",
    "trace.pipeline_s": "s",
    "trace.untraced_pipeline_s": "s",
    "trace.overhead_s": "s",
    "trace.residual_s": "s",
}


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


class LayerInputs:
    """Each layer's input written to parquet once, outside any span."""

    def __init__(self, transcripts: DataFrame, work: str):
        d = os.path.join(work, "layers")
        self.transcripts = transcripts
        self.raw = _materialize(
            extract_raw_triples(assemble_turns(transcripts).drop("rn")),
            os.path.join(d, "raw"))
        self.mentions = _materialize(mentions_from_raw(self.raw),
                                     os.path.join(d, "mentions"))
        self.norms = _materialize(distinct_norms(self.mentions),
                                  os.path.join(d, "norms"))
        self.edges = _materialize(
            all_edges(self.mentions, self.raw, norms=self.norms),
            os.path.join(d, "edges"))

    def counts(self) -> dict:
        turns = self.transcripts.count()
        triples = self.raw.count()
        vocab = self.norms.count()
        pairs = (self.norms.groupBy("block_key").count()
                 .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                 .first()[0]) or 0
        edges = self.edges.count()
        return {
            "extraction.turns_in": turns,
            "extraction.triples_out": triples,
            "extraction.triples_per_turn": triples / turns,
            "extraction.python_rows": self.transcripts.filter(
                F.col("text").rlike(PYTHON_ROW_RE)).count(),
            "linking.vocab_rows": vocab,
            "linking.candidate_pairs": int(pairs),
            "linking.edges_out": edges,
            "linking.edge_yield": edges / pairs if pairs else 0.0,
            "canonicalize.nodes": vocab,
        }


def one_round(tr: Tracer, li: LayerInputs, golden: DataFrame,
              work: str) -> tuple[dict, int, int]:
    """One traced round; returns its per-layer samples, the operations it
    timed and how many of them failed their check."""
    spark = tr.spark
    sample: dict[str, float] = {}

    with tr.span("round"):
        with tr.span("extraction", group=True) as ext:
            noop(extract_raw_triples(assemble_turns(li.transcripts).drop("rn")))
        with tr.span("linking", group=True) as lnk:
            with tr.span("linking.mentions_from_raw"):
                noop(mentions_from_raw(li.raw))
            with tr.span("linking.distinct_norms"):
                noop(distinct_norms(li.mentions))
            with tr.span("linking.all_edges"):
                noop(all_edges(li.mentions, li.raw, norms=li.norms))
        with tr.span("canonicalize", group=True) as can:
            noop(canonical_map(li.norms.select("norm"), li.edges))
        # the same cold pipeline without a job group or counters, right
        # before and right after the traced one: each pipeline in a young
        # JVM is a little faster than the last, so the traced wall minus
        # the mean of the two untraced walls is the tracing overhead
        untraced = []
        with tr.span("pipeline.untraced"):
            untraced.append(H.timed_pipeline(
                spark, li.transcripts, H.fresh_dir(os.path.join(work, "untraced")))[0])
        wd = H.fresh_dir(os.path.join(work, "traced"))
        with tr.span("pipeline", group=True) as pipe:
            _, res, n = H.timed_pipeline(spark, li.transcripts, wd)
        with tr.span("pipeline.untraced"):
            untraced.append(H.timed_pipeline(
                spark, li.transcripts, H.fresh_dir(os.path.join(work, "untraced")))[0])
        untraced_s = sum(untraced) / 2
        with tr.span("pipeline.resume", group=True) as rsm:
            n_resumed = run_pipeline(spark, li.transcripts, wd, resume=True) \
                .triples.count()
        with tr.span("profile", group=True) as prof:
            fp = H.profile_checksum(res.triples)
    ok_pipe = n > 0 and n_resumed == n and H.triples_match(res.triples, golden)
    graphs = H.with_graph(res.triples).select("g").distinct().count()
    ok_prof = fp[0] == graphs

    wall = lambda sp: sp["end"] - sp["start"]  # noqa: E731
    for name, sp in [("extraction", ext), ("linking", lnk),
                     ("canonicalize", can), ("pipeline", pipe),
                     ("profile", prof)]:
        sample[f"{name}.wall_s"] = wall(sp)
        for k in _SPARK_UNITS:
            sample[f"{name}.{k}"] = sp["spark"][k]
    stages = res.metrics["stages"]
    layer_alone = wall(ext) + wall(lnk) + wall(can)
    for st in H.STAGES:
        sample[f"pipeline.{st}_s"] = stages[st]["stage_wall_sec"]
    sample["pipeline.write_overhead_s"] = (
        sum(stages[st]["stage_wall_sec"] for st in H.STAGES) - layer_alone)
    dirs = H.stage_dirs(wd)
    sample["pipeline.files"] = sum(len(H.parquet_files(d)) for d in dirs)
    sample["pipeline.bytes_mb"] = sum(map(H.dir_bytes, dirs)) / MB
    sample["pipeline.resume_s"] = wall(rsm)
    sample["profile.graphs"] = fp[0]
    sample["canonicalize.components"] = spark.read.parquet(
        os.path.join(wd, "entities")).select("canonical_id").distinct().count()
    sample["trace.pipeline_s"] = wall(pipe)
    sample["trace.untraced_pipeline_s"] = untraced_s
    sample["trace.overhead_s"] = wall(pipe) - untraced_s
    sample["trace.residual_s"] = wall(pipe) - layer_alone
    # timed: extraction, linking, canonicalize, three pipelines, resume, profile
    return sample, 8, (not ok_pipe) + (not ok_prof)


def run_traced(args, work: str, out_path: str) -> tuple[dict, int, int]:
    spark = H.start_session(work)
    try:
        inputs = build_inputs(spark, args.workload, args.seed,
                              os.path.join(work, "inputs"))
        warm = H.Passes(spark, inputs, work)
        for _ in range(H.WARMUP_PASSES):
            warm.one_pass(record=False)
        li = LayerInputs(warm.transcripts, work)
        counts = li.counts()

        tr = Tracer(spark, run_id=f"{args.workload}-seed{args.seed}")
        samples: dict[str, list[float]] = {}
        attempted, failed = warm.attempted, warm.failed
        deadline = time.perf_counter() + args.seconds
        while not samples or time.perf_counter() < deadline:
            try:
                sample, a, f = one_round(tr, li, warm.golden, work)
            except Exception:  # noqa: BLE001 - a failed round is counted, not fatal
                traceback.print_exc()
                attempted, failed = attempted + 1, failed + 1
                break
            attempted, failed = attempted + a, failed + f
            for k, v in sample.items():
                samples.setdefault(k, []).append(v)
    finally:
        H.stop_session(spark)

    values = {**counts, **{k: statistics.median(v) for k, v in samples.items()}}
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in PER_LAYER.items() if k in values}
    with open(out_path, "w") as f:
        json.dump({"run_id": tr.run_id, "metrics": metrics,
                   "samples": samples, "spans": tr.spans_with_self_time()},
                  f, indent=1)
    for name, m in metrics.items():
        print(f"# {name:34s} {m['value']:.6g} {m['unit']}")
    return metrics, attempted, failed
