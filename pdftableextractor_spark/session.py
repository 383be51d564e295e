"""Tuned SparkSession builder.

Defaults chosen for the 100 TB design point, scaled to sandbox local mode:
Arrow transport on (every kernel is an Arrow batch), AQE on with skew-join
splitting (heavy-tailed doc sizes), shuffle partitions sized to cores in
local mode (a real cluster run overrides via spark-submit --conf), and
a driver heap of half of physical memory, at most 32g (SPARK_DRIVER_MEM
overrides it). ``local[*]`` (the default master) is sized from the cores
the JVM sees.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "pdftableextractor-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # under spark-submit a gateway JVM already carries the CLI --master;
    # calling builder.master() there would silently CLOBBER it (a local[4]
    # submit ran at local[32] before this check). Only set a master when one
    # was requested explicitly or we are a plain python launch.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    n = None  # local[*] and cluster masters: defaultParallelism, below
    if master and master.startswith("local[") and master != "local[*]":
        n = int(master[len("local[") : -1])
    # local mode runs everything in the driver JVM; a small heap turns
    # string/regex work on every core into GC thrash (measured 5x)
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 21
    heap = os.environ.get("SPARK_DRIVER_MEM", f"{min(half_mb, 32 << 10)}m")
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local inputs are small; the default 64m advisory size would let AQE
        # coalesce post-shuffle stages below the core count
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # small-input locality: testdata files are tens of MB; the default
        # 128m would hand a whole file to one task. Harmless at cluster
        # scale (real inputs have many files); override via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(os.getcwd(), "_artifacts", "spark-warehouse"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # 4x cores: enough granularity for AQE to balance uneven partitions
    # without starving any core (same rule of thumb as a real cluster).
    # Set post-start (runtime-settable) so the submit-provided master's
    # parallelism is what gets sized.
    cores = n if n is not None else spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * cores))
    return spark
