"""SparkSession factory with scale-aware defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``); the same
config block is what we'd ship to a 1000-executor cluster, minus the master
and memory lines which come from the cluster manager there.

Design notes for 100 TB:
  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
    and dynamic broadcast conversion are the main levers that keep a static
    plan healthy at 1000x the data.
  - shuffle.partitions is a *starting* number; AQE coalesces down, and at
    cluster scale it should be set to ~2-3x total cores (we default it from
    the local core count here).
  - Arrow on: every Pandas-UDF operator (geohash, minhash, embedding math)
    moves columnar batches, not pickled rows.
  - Checkpoints go through Hadoop's FileSystem API, and the JIT pool is
    sized by HotSpot to the visible CPUs: on a 1,000-row micro-batch the
    fixed cost of each batch, not its work, sets the latency (reasons at
    each setting below).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_BLAS_PINNED = False


def pin_driver_blas_threads(n: int = 1) -> None:
    """Pin the driver process's OpenBLAS pool to ``n`` threads (opt-r16).

    The driver-side numpy trainers (IVF coarse k-means, PQ codebooks,
    semantic-dedup centroids) run many SMALL GEMMs (<=4096 x 64); at
    those sizes OpenBLAS's multi-thread handoff/spin costs 10-30x the
    arithmetic (measured: the 96 assignment GEMMs of one PQ codebook
    train run 3.1 s with the default pool, 0.29 s pinned to one
    thread). Worker-side numpy is untouched — this mutates only the
    current (driver) process's pool via openblas_set_num_threads, found
    through the loaded numpy BLAS (env vars are too late once numpy is
    imported). No-op when no OpenBLAS is loaded."""
    global _BLAS_PINNED
    if _BLAS_PINNED:
        return
    try:
        import ctypes

        import numpy  # noqa: F401  (ensures the BLAS lib is mapped)

        with open("/proc/self/maps") as f:
            paths = {
                line.split()[-1]
                for line in f
                if "openblas" in line.split()[-1].lower()
            }
        for p in sorted(paths):
            try:
                lib = ctypes.CDLL(p)
            except OSError:
                continue
            for fn in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                if hasattr(lib, fn):
                    getattr(lib, fn)(int(n))
                    _BLAS_PINNED = True
                    return
    except Exception:  # pragma: no cover - best-effort, never fail a session
        pass


_WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"
# the directory that holds the package, so Python workers import it from
# any working directory
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _worker_pythonpath(caller: str | None) -> str:
    """The workers' PYTHONPATH: the caller's entries, then the package's
    parent directory unless the caller already lists it."""
    parts = [p for p in (caller or "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in parts:
        parts.append(_PACKAGE_PARENT)
    return os.pathsep.join(parts)


def get_spark(
    app_name: str = "kafka_streams_task_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # opt-r16 (guide §2.2/§2.5): AQE's coalescer sizes partitions by
        # BYTES, so a post-shuffle stage whose rows are cheap to move but
        # expensive to process (candidate-pair verify, array explode +
        # per-pair cosine/hamming math) collapses to ONE task whenever
        # its input is under the 1 MB default floor — measured: the
        # embedding-cosine verify ran 1.6 s of CPU in a single task on a
        # 32-core session (3x the query's wall). A small floor keeps
        # CPU-dense small shuffles at the session's parallelism; at
        # cluster scale real shuffle sizes are orders of magnitude above
        # either floor, so the knob only binds where it should. Cluster
        # profiles that want the 1 MB default back pass it in extra_conf.
        # r16 second pass: 64k still coalesced the embedding verify to 8
        # tasks (~512 KB of candidate pairs carrying seconds of numpy
        # cosine per task — maxTask 5.3 s); with parallelismFirst the
        # floor only binds on sub-~2 MB exchanges, so 16k trades a few
        # near-empty tasks on tiny shuffles for 4x parallelism on the
        # dense ones.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local test files are 10-40MB singles; smaller split target keeps
        # all cores busy on a scan (cluster deployments with many files
        # raise this back toward the 128m default through extra_conf).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Every micro-batch renames its offset, commit and file-source log
        # entries, plus one state delta and one checksum file per state
        # partition. Spark's default FileContext manager resolves links on
        # each rename (RawLocalFileSystem.getFileLinkStatus ->
        # FileUtil.readLink), which without libhadoop forks `readlink` four
        # times per rename (file and .crc, source and destination).
        # FileSystem.rename is one rename(2) on local disk and atomic on
        # HDFS, so the logs keep their all-or-nothing commit; .crc files
        # and Spark's checkpoint checksums stay on.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # JDK17's UseDynamicNumberOfCompilerThreads keeps ~1 C2 thread on a
        # fresh JVM, so the burst of whole-stage-codegen classes a query
        # workload generates queues behind a single JIT compiler and queries
        # run 2-10x slower until the backlog drains (measured: q1 repeat 6s vs
        # 0.8s warm on local[32]). Start the whole static pool at once, and
        # let HotSpot size it to the visible CPUs (3 threads at 4 CPUs, 15
        # at 32): one fixed count oversubscribes a small host's cores.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-UseDynamicNumberOfCompilerThreads",
        )
    )
    extra_conf = dict(extra_conf or {})
    extra_conf[_WORKER_PATH_KEY] = _worker_pythonpath(extra_conf.get(_WORKER_PATH_KEY))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    pin_driver_blas_threads()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

