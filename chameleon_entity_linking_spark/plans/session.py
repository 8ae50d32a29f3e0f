"""SparkSession factory with scale-conscious defaults.

The reference is a single-process pipeline with hand-rolled physical
tricks (in-RAM hash joins, manual 9x1M encode shards, pickle caches —
see SURVEY.md §4). Here every one of those is delegated to Catalyst /
AQE / Tungsten; the only non-default knobs we set are the ones the
optimizer cannot infer:

- AQE on (runtime coalesce, skew-join split, join-strategy re-pick).
- ``spark.sql.shuffle.partitions`` sized to cores (local) — on a real
  cluster this would be ~2-3x total executor cores; AQE coalesces down.
- Arrow on, with a bounded batch size so pandas-UDF scoring batches fit
  executor memory regardless of row width (the analogue of the
  reference's inference batch size, BiEncoder/model.py:71).
- An explicit checkpoint dir for the iterative connected-components
  job (lineage truncation — classic iterative-join requirement).

``scratch_dir`` is the one rule for where session-scoped scratch data
(CC contraction spills, the driver queries' warehouses) lives.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

# glibc-malloc tuning for the (long-lived, reused) executor Python
# workers: retain freed pages in the arena instead of munmap-ing every
# large numpy/Arrow temp back to the OS. Virtualized hosts can make
# first-touch page faults 10-100x slower than warm pages (measured in
# this sandbox: 75MB/s fault bandwidth vs 10GB/s warm memcpy during
# host-memory-pressure windows) — and the default mmap/trim behavior
# re-faults the SAME per-batch buffers on every Arrow batch. Keeping
# the high-water mark resident turns that into a once-per-worker cost,
# exactly like the JVM reusing its heap. ~1TB thresholds = "never
# mmap, never trim"; bounded by worker count x per-worker high-water
# (vectorized kernels run ~tens of MB per batch).
_PY_WORKER_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 40),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 40),
}


# default driver heap: at most 24g, and at most this share of physical
# memory — the rest stays free for the JVM's off-heap use, the Python
# workers (~1.1 GB in a 4-core perfbench run) and the OS page cache
_DRIVER_MEM_SHARE = 0.4
_DRIVER_MEM_MAX_MB = 24 * 1024


def _parse_jvm_mem_mb(mem: str) -> float:
    """Parse a JVM memory string the way Spark does: optional k/m/g/t
    suffix (with or without a trailing 'b'), and a PLAIN number means
    MiB (Spark's byteStringAsMb default unit) — NOT bytes. Raises
    ValueError on anything else."""
    mem = mem.strip().lower()
    units = {"k": 1 / 1024, "m": 1.0, "g": 1024.0, "t": 1024.0 * 1024}
    if mem.endswith("b") and len(mem) > 1 and mem[-2] in units:
        mem = mem[:-1]  # "24gb" -> "24g"
    if mem and mem[-1] in units:
        return float(mem[:-1]) * units[mem[-1]]
    return float(mem)  # suffix-less: MiB, matching Spark's reading


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: min(24g, 40% of MemTotal).
    Without a readable ``meminfo`` (non-Linux hosts) it is 24g."""
    try:
        with open(meminfo) as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    mb = int(total_kb / 1024 * _DRIVER_MEM_SHARE)
    return "24g" if mb >= _DRIVER_MEM_MAX_MB else f"{mb}m"


def get_spark(
    app_name: str = "chameleon_entity_linking_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_cores: int = 8,
    executor_mem: str = "12g",
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores`` controls ``local[N]`` parallelism; shuffle partitions
    default to ``max(cores, 8)`` so tiny inputs are not over-split and
    AQE can coalesce further at runtime.

    ``executors`` switches to ``local-cluster[E, executor_cores,
    mem]`` — E *separate executor JVMs* on this host (Spark's built-in
    multi-executor test mode). This is the faithful in-sandbox stand-in
    for an N- vs 4N-executor fleet: per-executor heaps/GC and a real
    inter-executor shuffle path, unlike ``local[N]``'s one shared JVM.
    """
    if executors is not None:
        cores = executors * executor_cores
        # Spark-conformant parsing ("4096m", "2G", plain MiB, ...) —
        # a bare rstrip('g') crashed on every non-lowercase-gigabyte
        # memory string
        mem_mb = int(_parse_jvm_mem_mb(str(executor_mem)))
        master = f"local-cluster[{executors},{executor_cores},{mem_mb}]"
    else:
        cores = cores or DEFAULT_CPUS
        master = f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(master)
        .config("spark.executor.memory", executor_mem)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in _PY_WORKER_MALLOC_ENV.items():
        # executor-launched Python workers (local-cluster / real
        # clusters) read executorEnv; local-mode workers inherit the
        # driver process env — set both so the malloc behavior is
        # identical at every master
        builder = builder.config(f"spark.executorEnv.{k}", v)
        os.environ.setdefault(k, v)
    # Profiling hook: SPARK_GRAFT_EVENTLOG_DIR turns on the standard
    # Spark history eventlog (how every perf claim in bench/SCALING.md
    # is attributed — per-stage task time, GC, spill, stragglers).
    # Default off: the log is ~100MB/run at bench scale.
    evdir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evdir)
            .config("spark.eventLog.compress", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if executors is not None:
        # multi-executor mode: executor Python workers have their own
        # sys.path — ship the package the same way spark-submit
        # --py-files would
        spark.sparkContext.addPyFile(_package_zip())
    ckpt = os.environ.get(
        "SPARK_GRAFT_CHECKPOINT_DIR",
        os.path.join(tempfile.gettempdir(), "cel_spark_checkpoints"),
    )
    spark.sparkContext.setCheckpointDir(ckpt)
    return spark


# shared-storage URI for session scratch data on a non-local master
SCRATCH_DIR_CONF = "spark.chameleon.cc.spillDir"
_LOCAL_SCRATCH: list[str] = []


def _pid_running(pid: int) -> bool:
    try:
        os.kill(pid, 0)  # signal 0: an existence probe, nothing is sent
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive, owned by another user
    return True


def _sweep_stale_scratch(root: str) -> list[str]:
    """Remove the ``cel_scratch_<pid>_*`` dirs under ``root`` whose
    owner pid no longer runs, and return them. ``atexit`` never runs
    in a killed process (a driver timeout, an OOM kill), so without
    this sweep each such process leaks its whole scratch warehouse."""
    removed = []
    for path in glob.glob(os.path.join(root, "cel_scratch_*_*")):
        pid = os.path.basename(path).split("_")[2]
        if pid.isdigit() and not _pid_running(int(pid)):
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed


def scratch_dir(spark: SparkSession) -> str | None:
    """Where this session's scratch data lives: data that lazily-read
    DataFrames still point at, so it must outlive any one query.

    Under a local master (executors share the driver's filesystem) it
    is one temp dir per process, ``cel_scratch_<pid>_*``, removed at
    interpreter exit — nothing external can delete a file a DataFrame
    still reads mid-session. The first call in a process also sweeps
    the dirs of processes that died without running their exit hook
    (``_sweep_stale_scratch``). On any other master it is the
    ``spark.chameleon.cc.spillDir`` URI (hdfs://, s3a://, ...), or
    None when that conf is unset."""
    if spark.conf.get("spark.master", "").startswith("local"):
        if not _LOCAL_SCRATCH:
            root = tempfile.gettempdir()
            _sweep_stale_scratch(root)
            d = tempfile.mkdtemp(prefix=f"cel_scratch_{os.getpid()}_", dir=root)
            _LOCAL_SCRATCH.append(d)
            atexit.register(shutil.rmtree, d, ignore_errors=True)
        return _LOCAL_SCRATCH[0]
    return spark.conf.get(SCRATCH_DIR_CONF, None)


def _package_zip() -> str:
    """Zip the package for --py-files-style distribution."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(tempfile.gettempdir(), "cel_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(
                        full, os.path.dirname(pkg_dir)
                    )
                    z.write(full, rel)
    return out

