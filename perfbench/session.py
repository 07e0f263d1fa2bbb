"""Spark session sized for a 4-core, 15 GB host, owned by the benchmark.

All scratch (shuffle files, JVM and Python temp files) goes under the
benchmark's work directory. The settings are recorded in every result
artifact.
"""

from __future__ import annotations

import os

CORES = 4
NUM_BUCKETS = 8         # run_extraction num_buckets: 2 tasks per core
# Maximum JVM heap. The heap is neither pre-sized nor pre-touched, so
# the process tree's resident set follows what the job touches,
# shuffle and exchange buffers included. G1, the default collector
# here, grows the heap by how long its pauses take, so the JVM's
# resident set varied by 20% between runs of the same job. The serial
# collector with a fixed young generation sizes the heap from what
# survives collection alone: the young generation is a fixed share of
# the resident set and the rest follows retained data.
HEAP = "2g"
GC_OPTS = "-XX:+UseSerialGC -Xmn256m"

CONF = {
    "spark.master": f"local[{CORES}]",
    "spark.app.name": "perfbench",
    "spark.driver.memory": HEAP,
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.shuffle.partitions": str(NUM_BUCKETS),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
}


def prepare_env(work_dir: str, python_path: list[str]) -> None:
    """Environment the JVM and its Python workers inherit: the package
    and the benchmark on the import path, temp files in the work dir."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # the JVM that spark-submit runs first to build the launch command
    os.environ["SPARK_LAUNCHER_OPTS"] = _java_opts(work_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        python_path + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def _java_opts(work_dir: str) -> str:
    """JVM temp files in the work dir; no hsperfdata file under /tmp."""
    return (f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} "
            "-XX:-UsePerfData")


def conf(work_dir: str) -> dict:
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return {**CONF, "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"{_java_opts(work_dir)} {GC_OPTS}"}


def start(work_dir: str):
    """A new SparkSession; launches the JVM only if none is running."""
    from pyspark.sql import SparkSession
    builder = SparkSession.builder
    for k, v in conf(work_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, shutdown_jvm: bool = False) -> None:
    """Stop the session (its Python workers end with it); optionally end
    the JVM too and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    if not shutdown_jvm or SparkContext._gateway is None:
        return
    gateway = SparkContext._gateway
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()           # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
