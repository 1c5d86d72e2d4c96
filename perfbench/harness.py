"""Session lifetime, the timed operations and their output checks, shared
by the untraced run (run.py) and the traced run (traced.py)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
import traceback

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgsum_spark.pipeline import PipelineResult, run_pipeline
from kgsum_spark.profile import build_profiles
from kgsum_spark.session import build_session

from workloads import base_conv_id, dir_bytes

GRAPHS = 64                # profile graphs: hash buckets of the base conv_id
DRIVER_MEMORY = "2g"
STAGES = ("raw_triples", "entities", "triples")
WARMUP_PASSES = 2          # full-size untimed passes before anything is timed
PROFILE_REPEATS = 3        # profile batteries timed per pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str) -> SparkSession:
    """local[nproc] session whose scratch space (local dirs, JVM and Python
    temp files, warehouse) all lives under `work`."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts   # spark-submit's launcher JVM
    n = nproc()
    return build_session(
        app_name="perfbench", cores=n, shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident size no longer
            # follows G1's adaptive heap sizing, which tracks how busy the
            # host is, so peak_rss_mb moves with everything outside the heap
            "spark.driver.extraJavaOptions":
                f"{jvm_opts} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        },
    )


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark: SparkSession) -> float:
    """VmHWM of the JVM plus every process under it (the Python workers)."""
    jvm = spark.sparkContext._gateway.proc.pid
    kb = sum(_vm_hwm_kb(p) for p in [jvm, *descendants(jvm)])
    return kb * 1024 / 1e6


def stop_session(spark: SparkSession, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM and every process under it, and wait for
    all of them to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    procs = [proc.pid, *descendants(proc.pid)]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in procs[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def stage_dirs(work_dir: str) -> list[str]:
    return [os.path.join(work_dir, s) for s in STAGES]


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, fn)
        for root, _dirs, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    ]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def timed_pipeline(spark: SparkSession, transcripts: DataFrame,
                   work_dir: str) -> tuple[float, PipelineResult, int]:
    """Cold `run_pipeline` through `triples.count()`."""
    t0 = time.perf_counter()
    res = run_pipeline(spark, transcripts, work_dir, resume=False)
    n = res.triples.count()
    return time.perf_counter() - t0, res, n


def triples_match(triples: DataFrame, golden: DataFrame) -> bool:
    """Distinct (subj, pred, obj) equal the (distinct) golden set: one full
    outer join in Spark, no row left unmatched on either side."""
    out = triples.select("subj", "pred", "obj").distinct() \
        .withColumn("_out", F.lit(True))
    gold = golden.withColumn("_gold", F.lit(True))
    unmatched = out.join(gold, ["subj", "pred", "obj"], "full_outer") \
        .filter(F.col("_out").isNull() | F.col("_gold").isNull())
    return unmatched.limit(1).count() == 0


def with_graph(triples: DataFrame) -> DataFrame:
    return triples.withColumn(
        "g", F.pmod(F.xxhash64(base_conv_id()), F.lit(GRAPHS)))


def profile_checksum(triples: DataFrame) -> tuple[int, int]:
    """`build_profiles` over every graph into a one-row sink: the profile
    row count and an order-free hash of every profile row. The sink is the
    output check, so every timed battery is also checked."""
    prof = build_profiles(with_graph(triples), "g")
    row = prof.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*prof.columns))).first()
    return int(row[0]), int(row[1])


def timed_profile(triples: DataFrame) -> tuple[float, tuple[int, int]]:
    t0 = time.perf_counter()
    fp = profile_checksum(triples)
    return time.perf_counter() - t0, fp


class Passes:
    """Passes of a cold pipeline followed by profile batteries, each
    operation checked after it is timed; samples are kept on request."""

    def __init__(self, spark, inputs, work: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.transcripts = spark.read.parquet(inputs.transcripts)
        self.golden = spark.read.parquet(inputs.golden)
        self.reference = None      # profile checksum of the first pass
        self.samples: dict[str, list[float]] = {
            "pipeline_s": [], "turns_per_s": [], "profile_s": [],
            "write_amp": []}
        self.attempted = 0
        self.failed = 0

    def one_pass(self, record: bool) -> None:
        """One cold pipeline, then PROFILE_REPEATS profile batteries over
        its triples table; 1 + PROFILE_REPEATS operations."""
        wd = fresh_dir(os.path.join(self.work, "run"))
        ok_pipe, ok_prof = False, 0
        try:
            dt, res, n = timed_pipeline(self.spark, self.transcripts, wd)
            ok_pipe = n > 0 and triples_match(res.triples, self.golden)
            if ok_pipe and record:
                self.samples["pipeline_s"].append(dt)
                self.samples["turns_per_s"].append(self.inputs.turns / dt)
                written = sum(map(dir_bytes, stage_dirs(wd)))
                self.samples["write_amp"].append(written / self.inputs.input_bytes)
            for _ in range(PROFILE_REPEATS if ok_pipe else 0):
                dt, fp = timed_profile(res.triples)
                if self.reference is None:
                    graphs = with_graph(res.triples).select("g").distinct().count()
                    self.reference = fp if fp[0] == graphs else (-1, 0)
                if fp == self.reference:
                    ok_prof += 1
                    if record:
                        self.samples["profile_s"].append(dt)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
        if not ok_pipe:
            print("perfbench: pipeline output does not match the golden set",
                  file=sys.stderr)
        elif ok_prof < PROFILE_REPEATS:
            print("perfbench: profiles differ from the first pass",
                  file=sys.stderr)
        self.attempted += 1 + PROFILE_REPEATS
        self.failed += (not ok_pipe) + PROFILE_REPEATS - ok_prof
