"""SparkSession builders.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions ~ cores (not the 200 default), AQE on (runtime coalesce +
skew-join), Arrow on (all our Python surface is pandas-UDF batched),
UTC session TZ so parquet timestamps compare exactly against DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "kgsum_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession with `cores` threads.

    cores=None → local[*]. shuffle_partitions defaults to max(cores, 8)
    so small local runs don't over-parallelize and big ones don't bottleneck
    on 200-way tiny shuffles. On a real cluster the same code runs under
    spark-submit, where master/memory come from the submit command and this
    builder only contributes SQL-level conf.
    """
    cpus = cores if cores is not None else int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    nshuffle = shuffle_partitions or max(cpus or (os.cpu_count() or 8), 8)

    # Make this package importable on python workers even when the driver
    # script runs from another cwd (local mode spawns workers from the
    # driver env; on a real cluster, ship the package via --py-files).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pypath if pypath else "")
        )

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row Arrow batches: the pandas UDFs (N-Triples parse, media
        # decode, ANN verify, language id) pay fixed per-batch costs (Arrow
        # slice assembly, pandas frame build, regex compile-cache lookups);
        # on a 16.4M-row regex UDF, 10k batches measured 10-15% slower and
        # 200k regressed (bigger-than-L3 working sets). ~20MB of text per
        # batch — far under executor memory, and the scan partition size
        # still caps the real chunk.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Size the whole-stage-codegen class cache to the application's
        # plan working set, not the 100-entry default. This app runs a
        # battery of distinct operators (~400 generated classes for the
        # bench suite alone, measured via CodegenMetrics); at the default,
        # every re-execution of an already-warm plan evicts+recompiles —
        # ~400 Janino compilations per bench pass, 0-2 once the cache
        # holds the working set. Scale-independent (keyed by generated
        # source, not data); compiled classes are deterministic, so this
        # caches compiler state only, never data or results. Caveat: the
        # cache is a JVM-wide static sized at the first compilation, so if
        # code was generated in this JVM before this conf applied (e.g.
        # get_or_create reusing an outside session), the cache keeps that
        # size while spark.conf.get still reports 4096.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_or_create(app_name: str = "kgsum_spark") -> SparkSession:
    """Reuse the active session if one exists (test/bench friendly)."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session(app_name)
