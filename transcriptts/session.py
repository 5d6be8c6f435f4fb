"""SparkSession factory tuned for the transcript rollup engine.

Defaults target the sandbox (single JVM, local[N]) but every knob is the one
you would also set on a real multi-executor cluster: AQE on (post-shuffle
coalescing + skew splitting), Arrow transfer for every pandas/Arrow UDF hop,
shuffle partitions sized to cores, zstd-compressed parquet.

Precedence, lowest first: these defaults, then the values a spark-submit
launcher set (``--master``, ``--conf``), then explicit ``get_spark``
arguments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _launcher_conf() -> dict[str, str]:
    """spark.* values set by the spark-submit that launched this process
    (its driver JVM carries them as system properties); empty in a plain
    Python process, whose JVM get_spark starts itself."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()  # attaches to the launcher's JVM
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "transcriptts",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    launcher = _launcher_conf()
    given = {k: str(v) for k, v in (("spark.master", master),
                                    ("spark.sql.shuffle.partitions", shuffle_partitions))
             if v is not None}
    given.update(extra_conf or {})
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or launcher.get("spark.master") or f"local[{cpus}]"
    # 4 tasks per core, NOT 1: measured on the 16M-turn tier rollup, one
    # shuffle partition per core runs 2-4x slower at every parallelism level
    # (single oversized percentile buffers + zero straggler smoothing); 4x
    # gives AQE room to coalesce down instead of being floor-limited.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = 4 * (cpus if n == "*" else max(int(n), 1))

    conf = {
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        # Byte-based post-shuffle coalescing is right for JVM aggregates but
        # wrong for CPU-bound grouped Python kernels: a few-MB input gets
        # coalesced to 1-2 partitions and the kernel stage runs on one core
        # (measured 105s -> 11.5s for penalty selection at local[32]).
        # Shuffle width is already sized to cores above, so coalescing buys
        # little here; Python kernel stages set their own width (one wave of
        # task slots) with an explicit exchange that AQE never coalesces,
        # see partitioning.per_series, so they hold in sessions that
        # re-enable this too.
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        # zstd pages for every table the engine writes (raw store, tiers,
        # convstate, cold archive, compaction): against snappy, on the
        # maintain benchmark (seed 7, local[4]), it shrinks the raw store by
        # 23%, the 1m tier by 16%, the archive and convstate by 8% and the
        # 1h/1d tiers by 2-5%. Readers need no setting; files of either
        # codec read together.
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    # Shuffle spill dir on tmpfs when it is actually big enough: the
    # sandbox's root disk serializes concurrent shuffle writes (~25% of
    # wall at 32 cores), but containers commonly mount a tiny (64 MB)
    # RAM-backed /dev/shm where large spills would fail — so require
    # >= 8 GiB free (or force with SPARK_GRAFT_TMPFS=1/0). A real cluster
    # uses per-executor local NVMe instead.
    tmpfs_pref = os.environ.get("SPARK_GRAFT_TMPFS")
    use_tmpfs = False
    if tmpfs_pref == "1":
        use_tmpfs = os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
    elif tmpfs_pref != "0" and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        st = os.statvfs("/dev/shm")
        use_tmpfs = st.f_bavail * st.f_frsize >= 8 << 30
    if use_tmpfs:
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        conf["spark.local.dir"] = shm
    # a launcher's values stay as it set them (any SparkSession.builder
    # option would override them); explicit arguments override both
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        if k not in launcher:
            builder = builder.config(k, v)
    for k, v in given.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
