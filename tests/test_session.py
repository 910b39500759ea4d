"""``get_spark`` sessions work outside the repository root: Python workers
import the package through ``spark.executorEnv.PYTHONPATH``. They also
write checkpoints through Hadoop's FileSystem API and leave the JIT pool's
size to HotSpot."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import kafka_streams_task_spark
from kafka_streams_task_spark.functions.geohash import geohash_encode

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(kafka_streams_task_spark.__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from kafka_streams_task_spark.functions.geohash import geohash_udf
from kafka_streams_task_spark.plans import get_spark

spark = get_spark(app_name="worker_imports", shuffle_partitions=1)
(row,) = spark.range(1).select(geohash_udf(4)(F.lit(51.51), F.lit(-0.07))).collect()
print("GEOHASH", row[0])
spark.stop()
"""


def test_workers_import_the_package_from_another_cwd():
    """The application finds the package only through its own
    ``sys.path``, from a temporary working directory with no PYTHONPATH
    set; the pandas UDF's worker must still import
    ``kafka_streams_task_spark``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    with tempfile.TemporaryDirectory(prefix="worker_imports_") as cwd:
        proc = subprocess.run(
            [sys.executable, "-c", _SCRIPT.format(repo=_REPO)],
            cwd=cwd,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
    assert "ModuleNotFoundError" not in proc.stderr, proc.stderr[-3000:]
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"GEOHASH {geohash_encode(51.51, -0.07, 4)}" in proc.stdout.splitlines()


def test_checkpoint_manager_and_jit_pool_come_from_get_spark(spark, tmp_path):
    """Checkpoints are written by the FileSystem-based manager, which
    renames without forking ``readlink``, and the compiler thread count is
    HotSpot's ergonomic choice for the host, not a pinned value."""
    jvm = spark.sparkContext._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CICompilerCount").getOrigin().toString() == "ERGONOMIC"
