"""SparkSession factory with the engine's tuned defaults.

Tuned for correctness-critical determinism (fixed shuffle partitions
in tests, no wall-clock anywhere) and for scale behavior that
survives a 1000-executor cluster: AQE on (runtime coalescing + skew
join splitting), Arrow enabled for every pandas UDF hop, and
broadcast thresholds left to AQE's runtime statistics.
"""

from __future__ import annotations

import os
import sys


def get_spark(
    app: str = "crypto_crawler_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
):
    # local-mode python workers must be able to import this package
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pp + (os.pathsep if pp else "") + repo_root
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from pyspark.sql import SparkSession

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # shuffle/spill scratch on tmpfs when available: a laptop-class
    # single disk serializes shuffle I/O and masks thread scaling; a
    # real cluster has one or more local SSDs per executor.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_graft_scratch"
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    # the engine's daemon saves each Python task the re-read of every
    # zip on the workers' sys.path (see worker_daemon.py); it must be
    # importable when the daemon starts, which the PYTHONPATH set above
    # guarantees only where the workers are local
    if master.startswith("local"):
        b = b.config("spark.python.daemon.module", "crypto_crawler_rs_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
