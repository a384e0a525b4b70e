"""Spark session and code shipping for the benchmark.

Everything a run writes lives in its own work dir under ``WORK_ROOT``
inside the checkout: the code zip shipped to the Python workers, Spark's
local and warehouse dirs, the JVM temp dir, corpora, checkpoints and the
event log. The run removes it when it ends.
"""

from __future__ import annotations

import os
import shutil
import zipfile
from typing import Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "markdown_lab_spark"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir() -> str:
    """A fresh work dir for this process; its temp files, and those of
    the JVM and Python workers it starts, go there too."""
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile  # noqa: PLC0415

    tempfile.tempdir = os.environ["TMPDIR"]
    return work


def package_source() -> str:
    src = os.path.join(ROOT, PACKAGE)
    if not os.path.isdir(src):
        raise SystemExit(f"perfbench: no {PACKAGE}/ package under {ROOT}")
    return src


def build_code_zip(src: str, work: str) -> str:
    """Compile the package from the working tree into a zip of .pyc files
    shipped to the Python workers, so they run the same source as the
    driver whatever their cwd, without each worker compiling it again.
    The committed ``dist`` zip can lag the source and is never used."""
    path = os.path.join(work, f"{PACKAGE}.zip")
    with zipfile.PyZipFile(path, "w", optimize=0) as zf:
        zf.writepy(src)
    return path


def make_spark(work: str, parallelism: int, code_zip: str, event_log_dir: Optional[str] = None):
    """The benchmark's own session: ``local[parallelism]``, shuffle
    partitions equal to the cores, a 2 GB driver, no console progress
    bars (their carriage returns would interleave with metric lines)."""
    from pyspark.sql import SparkSession  # noqa: PLC0415

    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName("markdown_lab_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(parallelism))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
    )
    # explicit either way: a context started on a JVM launched with the
    # event log on would otherwise inherit it
    builder = builder.config("spark.eventLog.enabled", str(event_log_dir is not None).lower())
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        # Spark 4 otherwise writes rolled zstd files the reader cannot parse
        builder = (
            builder.config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(code_zip)
    return spark


def stop_spark(spark, shutdown_jvm: bool = True) -> None:
    """Stop the context; with ``shutdown_jvm`` also end the JVM (and the
    Python workers it forked) and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    spark.stop()
    gateway = SparkContext._gateway
    if not shutdown_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
