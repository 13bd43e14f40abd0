"""SparkSession factory with the engine's standard tuning.

Scale notes (design target: 1000-executor cluster, ~100 TB input):
  * AQE on — runtime coalescing + skew-join splitting for the big shuffles
    (block self-join, connected-components iterations).
  * Arrow on — every Python crossing is a vectorized pandas UDF batch.
  * UTC session timezone — timestamp determinism across machines/locales
    (the byte-identical-extraction invariant extends to derived columns).
  * Partition sizing: code passes no partition count, AQE sizes every
    shuffle, and minPartitionNum floors scans.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def package_zip() -> str:
    """Zip this package for shipping to executors (the `--py-files` artifact,
    per north_rule). Local mode needs it too: Python workers are separate
    processes that don't inherit the driver's sys.path mutations, and our
    pandas UDFs are module-level (pickled by reference)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # already imported from a --py-files zip (spark-submit path):
        # the archive that contains us IS the artifact
        return pkg_dir.split(".zip")[0] + ".zip"
    staging = tempfile.mkdtemp(prefix="mdmpublic-pyfiles-")
    base = os.path.join(staging, "mdmpublic_spark_pkg")
    shutil.copytree(pkg_dir, os.path.join(base, "mdmpublic_spark"))
    return shutil.make_archive(base, "zip", base)


def _master_slots(master: str) -> int:
    """Task slots implied by a local[N] master (N, or the machine's cores
    for local[*]); for cluster masters the executor count isn't knowable
    at session-build time, so fall back to the machine's cores — the
    resulting scan-split floor is a lower bound a real cluster's
    spark-submit conf should override (spark.sql.files.minPartitionNum
    ≈ 3x total executor cores)."""
    m = re.match(r"local\[(\*|\d+)\]", master)
    if m and m.group(1) != "*":
        return int(m.group(1))
    return os.cpu_count() or 8


def _local_dir() -> str:
    """Shuffle/spill scratch directory (``spark.local.dir``).

    On a real cluster every executor node brings its own local disks, so
    aggregate shuffle-write bandwidth grows with the cluster — Spark's
    shuffle is *designed* around that. This sandbox is one VM where all
    32 worker threads share a single virtio disk: an 8 GB shuffle write
    that took 14 core-seconds at 8 concurrent writers took 1,459
    core-seconds at 32 (measured, score stage) purely from I/O-queue
    collapse — a topology artifact a multi-node deployment doesn't have.
    Prefer the RAM-backed tmpfs (/dev/shm, 126 GB here) so local-mode
    shuffle bandwidth scales with cores the way per-node disks scale
    with executors; cluster managers override spark.local.dir anyway
    (SPARK_LOCAL_DIRS / yarn.nodemanager.local-dirs), so this default
    only ever binds in local mode."""
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d:
        return d
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        p = os.path.join(shm, "mdm-spark-local")
        os.makedirs(p, exist_ok=True)
        return p
    return tempfile.gettempdir()


def get_spark(
    app_name: str = "mdmpublic-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` falls back to ``$SPARK_GRAFT_MASTER`` then ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")) or None
    if shuffle_partitions is None:
        # DECOUPLED from the core count, and identical at every parallelism
        # level. Partition count controls the per-task working set (shuffled
        # hash-join build sides, sort buffers, Arrow batches); core count
        # controls concurrency. Tying them together made each build side 4x
        # larger at local[8] than local[32] — measured as GC collapse at 32
        # cores (score stage 580s -> 144s just from 32 -> 256 partitions).
        # 256 ≈ 2-3x the largest sandbox core budget; AQE coalesces the
        # small stages back down, so tiny queries pay no extra task floors.
        # On a real cluster set ~2-3x total cores via conf (or rely on AQE
        # from this same initial value).
        shuffle_partitions = 256

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing: 32 MB advisory bounds every task's working set
        # (cache-friendly, spill-free — measured: the score join at 256
        # size-bounded partitions ran 580s -> 144s vs core-tied counts),
        # while parallelismFirst=true keeps the coalesce FLOOR at the
        # default parallelism. The floor matters because shuffle-byte
        # size is a poor proxy for downstream CPU: a few-MB shuffle that
        # feeds an Arrow-UDF map (minhash, scoring) coalesced to 1-2
        # partitions serializes the whole stage onto 1-2 cores — event-log
        # measured 1-2-task stages of 3-11s each while 30 cores idled.
        # With initial partitions fixed at 256 (decoupled from cores,
        # above), big shuffles are unaffected by the floor: 256 stays 256.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
        # NB: shuffled-hash join preference is NOT set session-wide —
        # shuffled-hash cannot spill its build side, so a global default
        # risks executor OOM on misestimated/skewed partitions at the
        # 100 TB design point. The one join that measurably needs it (the
        # score-stage features join) carries a scoped shuffle_hash hint
        # (operators/scoring.py:score_pairs).
        # parquet scans: 128 MiB splits keep partitions executor-memory sized
        # at 100 TB (≈800k tasks — fine; Spark scheduling handles millions).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ... but floor the split COUNT at 3 waves of task slots. Spark
        # sizes splits as min(maxPartitionBytes, max(openCost,
        # totalBytes/minPartitionNum)) with minPartitionNum defaulting to
        # ONE wave, so a mid-sized table (totalBytes within ~1-3x of
        # 128 MiB x cores) scans as barely-more-than-cores fat splits and
        # the last partial wave straggles: measured at 1.92M pages /
        # local[8], the extract table (~1.3 GB) scanned as 10x128 MiB
        # tasks, running the CPU-heavy feature-hash stage as 8+2 waves —
        # 84 s wall vs 51 s of task-time/core (evlog stage 96), and the
        # same 10 splits left 22 of 32 cores idle at local[32] (features
        # 83.5 s > local[8]'s 69.9 s in one bench rep). 3 waves caps the
        # tail-wave loss at ~1/3 wave ≈ 11%; at 100 TB
        # totalBytes/minPartitionNum >> 128 MiB so this floor never binds
        # and splits stay 128 MiB.
        .config("spark.sql.files.minPartitionNum", str(3 * _master_slots(master)))
        # deterministic float behavior in pandas UDFs regardless of host arrow
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        # Smaller Arrow batches pipeline the JVM->worker feed against the
        # UDF compute instead of ping-ponging 36MB chunks, and fit the
        # working set in cache: score stage 62s -> 21s at this setting
        # (2048 beat both 1024 and 4096; default 10000 was the worst).
        # Our UDF inputs carry int64 feature arrays, so rows are wide.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Fixed-size heap + throughput GC (only binds when this call
        # actually launches the JVM; pyspark passes pre-context builder
        # conf to spark-submit). This sandbox VM is thin-provisioned:
        # first-touched guest pages pay host-side faults, so G1's
        # grow/uncommit/recommit cycle re-pays them forever — measured as
        # 56-96% kernel/sys CPU at local[32] and a 2x stage-wall hit
        # (tools/bench_scaling.py has the A/B numbers). Xms=Xmx ends the
        # commit churn; ParallelGC never uncommits and was 3x faster than
        # G1 on the Arrow-churn score stage. No AlwaysPreTouch here: that
        # belongs to the measured long-lived bench processes, not to
        # short pytest/driver sessions where startup latency matters.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')} -XX:+UseParallelGC",
            ),
        )
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE", "/tmp/spark-warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to Python workers (idempotent per session)
    if not spark.conf.get("spark.mdmpublic.pyfilesShipped", None):
        spark.sparkContext.addPyFile(package_zip())
        spark.conf.set("spark.mdmpublic.pyfilesShipped", "true")
    return spark
