"""SparkSession construction tuned for the crawl engine.

Local-mode defaults mirror what a 1000-executor deployment would set
cluster-wide: AQE on (runtime re-plan + skew-join splitting), Arrow
execution for pandas UDFs, shuffle partitions sized to parallelism
(never the 200 default), UTC session timezone so results compare
bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

#: Default number of shuffle partitions per core of parallelism. At
#: cluster scale you want 2-3x total cores so AQE can coalesce down;
#: in local mode 1x cores is the sweet spot for these data sizes.
SHUFFLE_PARTITIONS_PER_CORE = 1


def get_spark(
    app_name: str = "spider_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or the
    CPUs this process may run on; the driver heap defaults to
    ``$SPARK_GRAFT_DRIVER_MEM`` or a quarter of physical RAM. In a real
    deployment this module is bypassed and the session comes from
    spark-submit; every config here is also valid cluster-side.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    # local mode: the driver JVM also runs every task, and its RSS grows
    # past the heap (off-heap Arrow buffers, metaspace) with the Python
    # workers beside it — a quarter of RAM keeps all of it on the machine
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{ram_mb // 4}m"
    # explicit override: on a real cluster shuffle partitions are sized
    # by DATA (so each partition's sort fits in task memory), not by
    # core count — the scaling study pins this equal across its two
    # parallelism configs so partition-size effects (spill on the
    # smaller config) don't masquerade as scaling behavior
    shuffle_env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle_env:
        shuffle_parts = int(shuffle_env)
    else:
        shuffle_parts = cpus * SHUFFLE_PARTITIONS_PER_CORE

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Shuffle/spill files on tmpfs are OPT-IN (bench entrypoints set
    # $SPARK_GRAFT_LOCAL_DIR=/dev/shm): on a single box the disk is
    # shared by all cores, so spill bandwidth is a SERIAL fraction that
    # caps multi-core scaling and tmpfs restores the per-core bandwidth
    # a cluster would have — but a RAM-backed dir turns a big spill
    # into ENOSPC/OOM, so ordinary sessions keep the disk-backed default.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if shm and os.path.isdir(shm) and os.access(shm, os.W_OK):
        local_dir = os.path.join(shm, "spark-local")
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``spider_spark`` importable on executor Python workers.

    The local-mode equivalent of ``spark-submit --py-files pkg.zip``
    (the north-rule deployment shape): zip this package and
    ``addPyFile`` it, so pandas-UDF closures unpickle on workers even
    when the driver's cwd/sys.path is elsewhere. Idempotent per session.
    """
    if getattr(spark, "_spider_spark_shipped", False):
        return
    spark.sparkContext.addPyFile(str(package_zip(Path(__file__).resolve().parent)))
    spark._spider_spark_shipped = True


def package_zip(pkg_dir: Path) -> Path:
    """Zip of the ``.py`` files under ``pkg_dir`` as package
    ``spider_spark``, named by a digest of their paths and bytes, so a
    session never ships another tree's code under the same name.

    The zip goes into a fresh temp directory that is removed when this
    process exits, not sooner: Spark's file server may serve the path
    to an executor's first fetch at any time."""
    files = [
        (str(Path("spider_spark") / py.relative_to(pkg_dir)), py.read_bytes())
        for py in sorted(pkg_dir.rglob("*.py"))
    ]
    digest = hashlib.sha1()
    for name, data in files:
        digest.update(b"%d:%s%d:%s" % (len(name), name.encode(), len(data), data))
    zdir = tempfile.mkdtemp(prefix="spider_spark_pyfiles_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = Path(zdir) / f"spider_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for name, data in files:
            zf.writestr(name, data)
    return zpath
