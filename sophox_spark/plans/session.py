"""SparkSession factory tuned for the engine.

Local-mode settings mirror what we'd submit on a real cluster
(``spark-submit --py-files sophox_spark.zip``): AQE on (runtime
re-plan, skew-join splitting — the cluster analog of the reference's
manual worker-count formula /root/reference/docker/startup.sh:147-151),
shuffle partitions sized to cores instead of the 200 default, Arrow
enabled for every Python-adjacent exchange, UTC session time so results
compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 48 GB. The JVM grows its
    heap toward the cap under allocation pressure, and a cap the host
    cannot back ends in the kernel killing the JVM mid-job."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(48 << 10, host_mb // 2)}m"


def get_spark(
    app: str = "sophox_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` controls ``local[N]`` — the scaling benchmark calls this
    twice (local[8] vs local[32]) in separate processes to evidence the
    N→4N scaling-efficiency criterion.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # one BLAS thread per python WORKER: parallelism comes from the N
    # concurrent workers, and OpenBLAS's per-gemm thread pool on top of
    # that thrashes (spin-waiting threads from 32 processes serialized
    # the mapInPandas JPEG stage ~12x in the sf1 soak). Set before the
    # JVM launches so worker daemons inherit it at numpy-init time; the
    # DRIVER's numpy (already initialized) keeps its threaded BLAS,
    # which is the right split — driver-side codec microbenches are
    # single-process, workers are many-per-host.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    # under spark-submit (SPARK_GRAFT_INHERIT_MASTER=1) the master and
    # driver memory are launch-time properties owned by the submit
    # command; overriding them here would silently fork the deployment
    # story, so they are left alone
    inherit = os.environ.get("SPARK_GRAFT_INHERIT_MASTER") == "1"
    builder = SparkSession.builder
    if not inherit:
        # python workers import the package from its parent directory,
        # so a session started from any cwd runs its Python stages
        # (spark-submit ships the package through --py-files instead)
        pkg_parent = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        ).config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(filter(None, [pkg_parent, os.environ.get("PYTHONPATH")])),
        )
    b = (
        builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sophox_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
