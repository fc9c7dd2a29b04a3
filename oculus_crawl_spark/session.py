"""SparkSession factory — one place for every engine-relevant config.

Settings are chosen for the 100 TB design point and merely *sized* for
the sandbox (local[32], single JVM): AQE on (runtime re-plan + skew-join
splitting + partition coalescing), Arrow on (every Python crossing is a
record-batch, never a row), UTC timezone (DuckDB-oracle comparability),
shuffle partitions ~ cores (AQE shrinks further when data is small).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# local[N] and local[N,maxFailures]: the masters whose core count N this
# builder knows. local[*] and cluster masters do not match.
_LOCAL_CORES = re.compile(r"local\[(\d+)(?:\s*,\s*\d+)?\]")


def merge_processor_pin(
    master: str, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """Merge the ActiveProcessorCount pin INTO the caller's extra_conf.

    local[k] must mean k CPUs to the WHOLE JVM, not just the task
    scheduler: without the pin the JVM sizes GC and internal thread
    pools to the host's visible CPUs, which on a steal-prone shared VM
    measurably serializes multi-core runs (x128 build at local[8]:
    133s -> 93s with the pin). Returned as ONE dict so the builder
    applies each key exactly once — setting the merged value and then
    re-applying the caller's raw extraJavaOptions silently dropped the
    pin (last builder.config for a key wins). A caller that already
    pins ActiveProcessorCount wins. On a real cluster the resource
    manager sets executor cores and this is inert (no local[k] match)."""
    merged = dict(extra_conf or {})
    m = _LOCAL_CORES.fullmatch(master)
    if m:
        apc = f"-XX:ActiveProcessorCount={m.group(1)}"
        prev = merged.get("spark.driver.extraJavaOptions", "")
        if "ActiveProcessorCount" not in prev:
            merged["spark.driver.extraJavaOptions"] = f"{prev} {apc}".strip()
    return merged


def get_spark(
    app_name: str = "oculus_crawl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default *).
    On a real cluster this function is still the entry point — master and
    memory come from spark-submit and the builder settings are no-ops.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # "~ cores", with a floor of 32: a local[128] session would
        # otherwise cap every shuffle stage at 32 tasks and idle 96
        # cores (AQE coalesces, never widens). Non-local / local[*]
        # masters keep the fixed default — executor counts are the
        # cluster manager's knowledge, not this builder's.
        m = _LOCAL_CORES.fullmatch(master)
        shuffle_partitions = max(32, int(m.group(1))) if m else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Dynamic partition overwrite: the resumable merge (E14) rewrites
        # only the term_bucket partitions it actually recomputed.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Arrow batch size: per-BATCH pandas construction overhead in the
        # Python worker is the dominant cost of a mapInPandas crossing at
        # small batch sizes (measured: 10k-row batches => 1500 DataFrame
        # constructions per 15M-row stage). 200k numeric rows ~ 6 MB per
        # batch — still memory-safe, 20x less per-batch overhead.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
    )
    extra_conf = merge_processor_pin(master, extra_conf)
    # Shuffle/spill scratch on tmpfs: this sandbox host shows very high
    # kernel-time cost per filesystem syscall, and shuffle-file traffic
    # through ext4 measurably serializes multi-core runs. tmpfs scratch
    # consumes RAM, so the default only triggers when /dev/shm has
    # generous headroom (>= 32 GiB free); set SPARK_GRAFT_LOCAL_DIR to a
    # path to force it, or to '-' to disable. On a real cluster
    # spark.local.dir comes from the cluster config and this is inert.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 32 << 30:
                local_dir = "/dev/shm/ocs_spark_local"
        except OSError:
            pass
    if local_dir and local_dir != "-":
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
