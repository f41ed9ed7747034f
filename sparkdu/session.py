"""SparkSession builder with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _reap_stale_local_dirs(root: str) -> None:
    """Best-effort cleanup of tmpfs shuffle dirs left by dead processes.

    Dirs are named by owning pid; a crashed/OOM-killed run never removes
    its own, and tmpfs is RAM — so each new session sweeps siblings whose
    pid no longer exists."""
    import shutil

    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            os.kill(int(name), 0)  # raises if the pid is gone
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except OSError:
            pass  # pid exists but not ours to signal — leave it


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: a quarter of physical memory (MemTotal), at most
    16g; 16g when MemTotal is unreadable. A fixed 16g was OOM-killed on
    16 GB hosts, where the heap and the Python workers share the RAM."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(16 * 1024, int(line.split()[1]) // 4096)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def get_spark(
    app: str = "sparkdu",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 256,
) -> SparkSession:
    """local[*] in-sandbox; on a cluster spark-submit supplies the master.

    Arrow batch rows capped at 256 — balances per-batch IPC overhead against
    mega-page memory (worst case 256 x 8 MiB cap = 2 GiB, far under the
    per-executor budget; typical batch ~3 MB) (SURVEY SS4.3 item 2).
    """
    if master is None:
        master = os.environ.get("SPARKDU_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARKDU_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (the legacy default) writes NO usable column statistics;
        # TIMESTAMP_MICROS makes footer min/max available for the
        # snapshots.annotate_stats/plan_files file-skipping path
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory",
                os.environ.get("SPARKDU_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    # local mode: shuffle/spill to tmpfs — the html payload shuffles once and
    # disk IO is pure overhead (measured ~1.8x end-to-end on the bench
    # corpus). On a real cluster spark.local.dir is NVMe and set by the
    # cluster manager; this only applies in-sandbox.
    local_dir = os.environ.get("SPARKDU_LOCAL_DIR")
    if local_dir is None and os.access("/dev/shm", os.W_OK):
        # per-process subdir: concurrent sessions (bench + tests) must not
        # share shuffle roots — one JVM's shutdown cleanup can race another's
        # live temp_shuffle files
        _reap_stale_local_dirs("/dev/shm/spark-local")
        local_dir = f"/dev/shm/spark-local/{os.getpid()}"
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    return b.getOrCreate()
