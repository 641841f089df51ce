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
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

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
    candidates = _spark_jar_dirs()
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


#: Local file system for a local-mode session (``jvm/NioLocalFileSystem.java``):
#: Hadoop's own spawns ``chmod`` from the JVM for every file and directory
#: it creates when the native hadoop library is missing (Spark's builds
#: ship none) — ~25 processes per daily ``run_job``, each a clone of the
#: multi-GB driver until it execs. The class sets the same modes in-process.
_NIO_FS_CLASS = "rove_spark.jvm.NioLocalFileSystem"
_NIO_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")


def _spark_jar_dirs() -> list[str]:
    """$SPARK_HOME/jars, then pyspark's bundled jars dir."""
    dirs = []
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        dirs.append(os.path.join(spark_home, "jars"))
    try:
        import pyspark

        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    return dirs


def _nio_fs_classes(pkg_root: str) -> str | None:
    """Directory with the compiled ``NioLocalFileSystem``, compiled with
    ``javac`` against Spark's Hadoop API jar on first use and kept under
    ``<pkg_root>/.rove_jvm/<digest of source and javac command>``; None when
    there is no ``javac`` or jar, or the compile fails."""
    java_home = os.environ.get("JAVA_HOME")
    javac = os.path.join(java_home, "bin", "javac") if java_home else None
    if not (javac and os.path.isfile(javac)):
        javac = shutil.which("javac")
    jars = [j for d in _spark_jar_dirs() for j in sorted(_glob.glob(os.path.join(d, "hadoop-client-api-*.jar")))]
    if not javac or not jars:
        return None
    # Spark 4 runs on Java 17+: class files any of its JVMs load
    cmd = [os.path.realpath(javac), "-nowarn", "--release", "17", "-cp", jars[-1]]
    with open(_NIO_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read() + "\0".join(cmd).encode()).hexdigest()[:16]
    out = os.path.join(pkg_root, ".rove_jvm", digest)
    if os.path.isdir(out):
        return out
    try:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(out))
        r = subprocess.run(
            cmd + ["-d", tmp, _NIO_FS_SOURCE], capture_output=True, text=True, timeout=300
        )
        if r.returncode != 0:
            log.warning("NioLocalFileSystem did not compile; keeping Hadoop's local file system: %s", r.stderr)
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent session compiled it first
            shutil.rmtree(tmp, ignore_errors=True)
    except (OSError, subprocess.SubprocessError) as e:
        log.warning("NioLocalFileSystem not compiled (%s); keeping Hadoop's local file system", e)
        return None
    return out


def _nio_fs_confs(master: str, pkg_root: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """``file:`` through ``NioLocalFileSystem`` in a local-mode session,
    whose tasks run in the driver JVM. A JVM that is already up keeps its
    class path, so there the class is used only if it is on it; a caller
    ``spark.driver.extraClassPath`` popped from ``extra_conf`` is appended."""
    if not (master == "local" or master.startswith("local[")):
        return {}
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        try:
            SparkContext._gateway.jvm.java.lang.Class.forName(_NIO_FS_CLASS)
        except Exception:  # noqa: BLE001 - py4j error: the class is not on the class path
            return {}
        return {"spark.hadoop.fs.file.impl": _NIO_FS_CLASS}
    classes = _nio_fs_classes(pkg_root)
    if classes is None:
        return {}
    caller_cp = extra_conf.pop("spark.driver.extraClassPath", None)
    return {
        "spark.driver.extraClassPath": f"{classes}{os.pathsep}{caller_cp}" if caller_cp else classes,
        "spark.hadoop.fs.file.impl": _NIO_FS_CLASS,
    }


def get_spark(
    app_name: str = "rove_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    pkg_root = _export_pythonpath()
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
        # no Python call-site capture: with it on, pyspark wraps every
        # F.* / Column call in _with_origin, which makes ~4 extra py4j
        # round trips per call (active session, a conf read, origin
        # set/clear) and tries `import IPython` each time. Planning the
        # daily job made ~2,500 round trips with it on. It only adds
        # the Python call site to analysis error messages;
        # ``extra_conf`` can turn it back on for debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # shuffle spill dir: prefer tmpfs — on a real cluster each executor has
    # local NVMe, so shuffle IO scales with nodes; on this single box the
    # network-attached root disk would be one shared bottleneck that
    # falsely caps core-scaling measurements
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        b = b.config("spark.local.dir", os.path.join(shm, "rove_spark_local"))
    extra_conf = dict(extra_conf or {})
    for k, v in _nio_fs_confs(master, pkg_root, extra_conf).items():
        b = b.config(k, v)
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
