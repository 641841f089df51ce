"""SparkSession builder tuned for the engine.

Scale posture (designed for 1000-executor clusters, tested on local[N]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- Arrow on: every pandas-UDF stage moves data as columnar Arrow batches.
- UTC session timezone: grid arithmetic must be timezone-stable.
- Arrow batch size bounded so one conversation's grid fits a batch without
  blowing Python-worker memory (SURVEY §4 physical-choice list).
"""

from __future__ import annotations

import glob as _glob
import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def probe_iceberg() -> str | None:
    """Probe for an iceberg-spark-runtime jar (round-3 verdict item 7).
    Search order: $ROVE_ICEBERG_JAR, $SPARK_HOME/jars, pyspark's bundled
    jars dir. Returns the jar path or None; logs the outcome either way.
    When found, `get_spark` wires a real Iceberg hadoop catalog (``rove``)
    and `sources.tables.open_table` routes tier tables through it instead
    of the parquet shim."""
    explicit = os.environ.get("ROVE_ICEBERG_JAR")
    if explicit and os.path.isfile(explicit):
        log.info("iceberg probe: using $ROVE_ICEBERG_JAR=%s", explicit)
        return explicit
    candidates = []
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        candidates.append(os.path.join(spark_home, "jars"))
    try:
        import pyspark

        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in candidates:
        hits = sorted(_glob.glob(os.path.join(d, "iceberg-spark-runtime*.jar")))
        if hits:
            log.info("iceberg probe: found %s", hits[-1])
            return hits[-1]
    log.info(
        "iceberg probe: no iceberg-spark-runtime jar in %s — tier tables use "
        "the documented parquet shim (sources.tables.PartitionedTable)",
        candidates,
    )
    return None


def _export_pythonpath() -> str:
    """Make the package importable in executor Python workers regardless of
    the driver's cwd (grouped-UDF closures reference this package by name).
    On a real cluster this is ``spark-submit --py-files rove_spark.zip``;
    for local/driver-embedded use, PYTHONPATH reaches the forked workers."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    return pkg_root


#: BLAS/OpenMP thread pinning for Python workers: parallelism comes from
#: Spark tasks (one worker per core), so each worker must run BLAS
#: single-threaded. Default OpenBLAS spawns one thread per CPU per call —
#: 32 workers × 32 threads oversubscribes the box ~1000× and a 100×100
#: LAPACK inverse measured 30 ms vs 0.35 ms pinned (85×; round-7 profile
#: of sct_kernel). Respects explicit caller settings.
_BLAS_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def _pin_blas_threads() -> None:
    for var in _BLAS_ENV:
        os.environ.setdefault(var, "1")


def get_spark(
    app_name: str = "rove_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _export_pythonpath()
    _pin_blas_threads()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # heuristic: 2x cores for local mode; a real cluster would size by data
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 64 if n == "*" else max(8, 2 * int(n))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is parallelism-first but floors each coalesced
        # partition at minPartitionSize (Spark's 1 MB default, kept): a
        # CPU-heavy, small-byte shuffle can collapse to 1-2 partitions and
        # run serial. Round 7 first lowered this floor globally, then
        # pinned every known-heavy operator path explicitly instead
        # (parallel_groups before each expensive checkpoint/pipeline);
        # with the pins in place a 16k/64k/1m A/B showed the low floor
        # only added task-scheduling overhead on the many small tier
        # cascades (rollup_1d +0.5 s at sf0.1). A deployment with
        # unpinned CPU-dense small-byte stages can set it through
        # ``extra_conf``.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.warehouse.dir", os.environ.get("ROVE_WAREHOUSE", "/tmp/rove_warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # throughput-oriented GC: batch jobs prefer ParallelGC's higher
        # throughput over G1's pause targets (~20% on the rollup job here)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC -Dderby.system.home=/tmp/rove_derby",
        )
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # cluster deployments: ship the BLAS pinning to executor-side
        # Python workers too (local mode inherits the driver env)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", os.environ["OPENBLAS_NUM_THREADS"])
        .config("spark.executorEnv.OMP_NUM_THREADS", os.environ["OMP_NUM_THREADS"])
        .config("spark.executorEnv.MKL_NUM_THREADS", os.environ["MKL_NUM_THREADS"])
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill dir: prefer tmpfs — on a real cluster each executor has
    # local NVMe, so shuffle IO scales with nodes; on this single box the
    # network-attached root disk would be one shared bottleneck that
    # falsely caps core-scaling measurements
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        b = b.config("spark.local.dir", os.path.join(shm, "rove_spark_local"))
    extra_conf = dict(extra_conf or {})
    iceberg_jar = probe_iceberg()
    if iceberg_jar:
        for k, v in _iceberg_confs(iceberg_jar, extra_conf).items():
            b = b.config(k, v)
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _iceberg_confs(iceberg_jar: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """Iceberg catalog configs, COMMA-MERGED with caller-supplied
    ``spark.jars`` / ``spark.sql.extensions`` popped from ``extra_conf``.
    Overwriting either would half-break the session: dropping the jar
    fails startup with ClassNotFound, while a caller extensions entry
    applied after this block would silently replace the Iceberg
    extensions while the rove catalog confs remain — leaving Iceberg
    DDL/DELETE broken in a session ``open_table`` still routes to
    ``IcebergTable``."""
    wh = os.environ.get("ROVE_WAREHOUSE", "/tmp/rove_warehouse")
    caller_jars = extra_conf.pop("spark.jars", None)
    iceberg_ext = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    caller_ext = extra_conf.pop("spark.sql.extensions", None)
    return {
        "spark.jars": f"{iceberg_jar},{caller_jars}" if caller_jars else iceberg_jar,
        "spark.sql.extensions": (
            f"{iceberg_ext},{caller_ext}" if caller_ext else iceberg_ext
        ),
        "spark.sql.catalog.rove": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.rove.type": "hadoop",
        "spark.sql.catalog.rove.warehouse": os.path.join(wh, "iceberg"),
    }
