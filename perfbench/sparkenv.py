"""Run isolation and the Spark session the workloads share.

Each run gets a fresh scratch directory inside the checkout holding its
TMPDIR, SPARK_LOCAL_DIRS, warehouse, checkpoints and generated data;
``isolated_run`` removes it afterwards, so no stored state, spool or
checkpoint survives into the next run. The repository root goes on
PYTHONPATH before the JVM starts: the engine's session points Spark's
Python daemon at ``riemann_spark.daemon``, which the Python workers can
only import when the package is on their path.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import uuid
from contextlib import contextmanager

from common import ROOT

RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


@contextmanager
def isolated_run(tag: str):
    run_dir = os.path.join(RUNS_DIR, f"{tag}-{uuid.uuid4().hex[:8]}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "ckpt", "data", "wh")}
    for d in dirs.values():
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYTHONWARNINGS": "ignore",
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={dirs['wh']} "
                f'--driver-java-options "{java_opts}" pyspark-shell'
            ),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        yield dirs
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:  # another run still holds its directory there
            pass


def start_spark(app: str):
    """``riemann_spark.get_spark`` at local[nproc], quiet logs."""
    from riemann_spark import get_spark

    spark = get_spark(app, cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:  # a JVM this process did not launch
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
