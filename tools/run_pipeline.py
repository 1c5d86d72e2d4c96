"""spark-submit entry point for the KG-construction pipeline (north_rule:
"run via spark-submit --py-files on multi-executor clusters").

Local smoke:
    python tools/run_pipeline.py --transcripts <parquet> --work-dir /tmp/kg

Cluster:
    zip -r kgsum_spark.zip kgsum_spark
    spark-submit --py-files kgsum_spark.zip tools/run_pipeline.py \
        --transcripts s3://…/transcripts --work-dir /shared/kg_work

--work-dir must be a local or shared POSIX path (e.g. an NFS or FUSE
mount): the stage markers are written with `open()`, so an object-store
URI does not work there. The input may be any path Spark can read.

The session comes from spark-submit's own master/memory settings on a
cluster; locally build_session provides a tuned local[N].
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True, help="input parquet/Iceberg path")
    ap.add_argument("--work-dir", required=True,
                    help="checkpoint + output dir (local or shared POSIX path)")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from kgsum_spark.pipeline import run_pipeline
    from kgsum_spark.session import build_session

    spark = SparkSession.getActiveSession() or build_session("kgsum_pipeline")
    transcripts = spark.read.parquet(args.transcripts)
    res = run_pipeline(spark, transcripts, args.work_dir, resume=not args.no_resume)
    n = res.triples.count()
    print(json.dumps({"triples": n, "metrics": res.metrics}))


if __name__ == "__main__":
    main()
