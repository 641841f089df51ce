"""SparkSession builder tuned for the engine.

Scale posture (designed for 1000-executor clusters, tested on local[N]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- Arrow on: every pandas-UDF stage moves data as columnar Arrow batches.
- UTC session timezone: grid arithmetic must be timezone-stable.
- Arrow batch size bounded so one conversation's grid fits a batch without
  blowing Python-worker memory (SURVEY §4 physical-choice list).
"""

from __future__ import annotations

import contextlib
import glob as _glob
import hashlib
import json
import logging
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

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
#: multi-GB driver until it execs. The class sets the same modes in-process;
#: its ``Fs`` does so for ``FileContext`` (structured-streaming checkpoints,
#: ~13 spawns per micro-batch before).
_NIO_FS_CLASS = "rove_spark.jvm.NioLocalFileSystem"
_NIO_AFS_CLASS = _NIO_FS_CLASS + "$Fs"
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


def _is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def _jdk_tool(name: str) -> str | None:
    """``$JAVA_HOME/bin/<name>``, else ``<name>`` on PATH: where
    ``spark-class`` finds ``java``."""
    java_home = os.environ.get("JAVA_HOME")
    tool = os.path.join(java_home, "bin", name) if java_home else None
    return tool if tool and os.path.isfile(tool) else shutil.which(name)


def _nio_fs_jar(jvm_dir: str) -> str | None:
    """Jar of ``NioLocalFileSystem``, compiled with ``javac`` against
    Spark's Hadoop API jar on first use and kept as
    ``<jvm_dir>/<digest of source and javac command>.jar`` (a jar, not a
    class directory: class-data sharing refuses a non-empty directory on
    the class path); None when there is no ``javac`` or API jar, or the
    compile fails."""
    javac = _jdk_tool("javac")
    jars = [j for d in _spark_jar_dirs() for j in sorted(_glob.glob(os.path.join(d, "hadoop-client-api-*.jar")))]
    if not javac or not jars:
        return None
    # Spark 4 runs on Java 17+: class files any of its JVMs load
    cmd = [os.path.realpath(javac), "-nowarn", "--release", "17", "-cp", jars[-1]]
    with open(_NIO_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read() + "\0".join(cmd).encode()).hexdigest()[:16]
    jar = os.path.join(jvm_dir, digest + ".jar")
    if os.path.isfile(jar):
        return jar
    try:
        os.makedirs(jvm_dir, exist_ok=True)
        with tempfile.TemporaryDirectory() as classes:
            r = subprocess.run(
                cmd + ["-d", classes, _NIO_FS_SOURCE], capture_output=True, text=True, timeout=300
            )
            if r.returncode != 0:
                log.warning("NioLocalFileSystem did not compile; keeping Hadoop's local file system: %s", r.stderr)
                return None
            part = f"{jar}.{os.getpid()}.part"
            with zipfile.ZipFile(part, "w") as z:
                for d, _, files in sorted(os.walk(classes)):
                    for name in sorted(files):
                        z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), classes))
            try:
                # never replace a jar: its size and mtime key the CDS archive
                os.link(part, jar)
            except FileExistsError:  # a concurrent session built it first
                pass
            finally:
                os.unlink(part)
    except (OSError, subprocess.SubprocessError) as e:
        log.warning("NioLocalFileSystem not built (%s); keeping Hadoop's local file system", e)
        return None
    return jar


def _nio_fs_confs(master: str, jvm_dir: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """``file:`` through ``NioLocalFileSystem`` in a local-mode session,
    whose tasks run in the driver JVM. A JVM that is already up keeps its
    class path, so there the class is used only if it is on it; a caller
    ``spark.driver.extraClassPath`` popped from ``extra_conf`` is appended."""
    if not _is_local(master):
        return {}
    from pyspark import SparkContext

    fs = {"spark.hadoop.fs.file.impl": _NIO_FS_CLASS, "spark.hadoop.fs.AbstractFileSystem.file.impl": _NIO_AFS_CLASS}
    if SparkContext._gateway is not None:
        try:
            SparkContext._gateway.jvm.java.lang.Class.forName(_NIO_AFS_CLASS)
        except Exception:  # noqa: BLE001 - py4j error: the class is not on the class path
            return {}
        return fs
    jar = _nio_fs_jar(jvm_dir)
    if jar is None:
        return {}
    caller_cp = extra_conf.pop("spark.driver.extraClassPath", None)
    return {"spark.driver.extraClassPath": f"{jar}{os.pathsep}{caller_cp}" if caller_cp else jar, **fs}


#: Driver JVM start-up from a dynamic class-data-sharing archive (JDK 13+,
#: JEP 350): the classes a session loads, already parsed and verified.
#: With it a fresh local session started in ~3.5 s instead of ~6.4 s and
#: ran its first job in ~1.1 s instead of ~2.6 s (4 cores). The first
#: session of a key records the archive (``-XX:ArchiveClassesAtExit``:
#: ~4 s slower to that point, and ~10 s at JVM exit to write ~150 MB); a
#: later one adopts it. HotSpot maps an archive only for the same JVM
#: build, the same class path (entries, sizes, mtimes) and compatible
#: -X/-XX flags, so the key is those and nothing else: ``-D`` properties,
#: which callers vary per run, and ``-Xlog`` stay out. Under the default
#: ``-Xshare:auto`` a mismatched archive is skipped; a truncated one
#: crashes HotSpot 17 (SIGBUS), hence the size check in ``_cds_archive``.
_USE_ARCHIVE = "-XX:SharedArchiveFile="
_RECORD_ARCHIVE = "-XX:ArchiveClassesAtExit="
_QUIET_CDS = "-Xlog:cds*=off"
#: a caller's own sharing flags win: no archive of ours then
_CALLER_CDS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: first bytes of a dynamic archive; HotSpot writes its header last
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
#: what else the launcher and the ``java`` command take JVM flags and
#: class path entries from
_JVM_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def _stamp(path: str) -> list:
    try:
        st = os.stat(path)
    except OSError:
        return [path]
    return [path, st.st_size, st.st_mtime_ns]


def _driver_class_path(conf: dict[str, str], conf_dir: str) -> list | None:
    """Stamps of a client-mode driver's class path as Spark's launcher
    builds it: ``spark.driver.extraClassPath``, the conf dir,
    ``$SPARK_HOME/jars/*``, then the Hadoop and YARN conf dirs and
    ``SPARK_DIST_CLASSPATH``. None when it holds a non-empty directory,
    which class-data sharing refuses."""
    from pyspark.find_spark_home import _find_spark_home

    entries = [
        *conf.get("spark.driver.extraClassPath", "").split(os.pathsep),
        conf_dir,
        os.path.join(_find_spark_home(), "jars", "*"),
        *(e for v in _CLASS_PATH_ENV for e in os.environ.get(v, "").split(os.pathsep)),
    ]
    stamps = []
    for e in filter(None, entries):
        if e.endswith("*"):
            stamps += [_stamp(j) for j in sorted(_glob.glob(e[:-1] + "*.jar"))]
        elif os.path.isdir(e):
            if os.listdir(e):
                return None
            stamps.append([e])
        else:
            stamps.append(_stamp(e))
    return stamps


def _cds_confs(master: str, jvm_dir: str, conf: dict[str, str]) -> dict[str, str]:
    """``spark.driver.defaultJavaOptions`` that start a fresh local
    driver JVM from the archive of its key under ``jvm_dir``, or record
    that archive; a caller's value from ``conf`` follows ours. Spark's
    conf dir holds only ``*.template`` files in a stock install, and
    ``SPARK_CONF_DIR`` is pointed at an empty ``<jvm_dir>/conf`` instead.
    {} for a non-local master, a JVM that is up, a caller's own sharing
    flags, a conf dir with a live file, or another non-empty directory on
    the class path."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if not _is_local(master) or SparkContext._gateway is not None:
        return {}
    caller = conf.get("spark.driver.defaultJavaOptions", "")
    sources = [caller, conf.get("spark.driver.extraJavaOptions", "")] + [os.environ.get(v, "") for v in _JVM_OPTIONS_ENV]
    opts = " ".join(sources).split()
    if any(c in o for o in opts for c in _CALLER_CDS):
        return {}
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
        log.info("%s holds a live file: the driver JVM starts without a class-data archive", conf_dir)
        return {}
    empty = os.path.join(jvm_dir, "conf")
    java = _jdk_tool("java")
    class_path = _driver_class_path(conf, empty)
    if java is None or class_path is None:
        return {}
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    flags = [o for o in opts if o.startswith("-X") and not o.startswith("-Xlog")]
    key = hashlib.sha256(
        json.dumps(
            [
                [_stamp(os.path.join(java_home, "lib", f)) for f in (os.path.join("server", "libjvm.so"), "modules")],
                class_path,
                "-Xmx" + conf.get("spark.driver.memory", ""),
                flags,
            ]
        ).encode()
    ).hexdigest()[:16]
    keep = {empty, *conf.get("spark.driver.extraClassPath", "").split(os.pathsep)}
    try:
        os.makedirs(empty, exist_ok=True)
        archive = _cds_archive(jvm_dir, key, keep)
    except OSError as e:
        log.warning("no class-data archive for the driver JVM (%s)", e)
        return {}
    os.environ["SPARK_CONF_DIR"] = empty
    if archive is not None:
        flag = _USE_ARCHIVE + archive
    else:
        flag = _RECORD_ARCHIVE + os.path.join(jvm_dir, f"cds-{key}.{os.getpid()}.part")
    # HotSpot logs to stdout, the Python program's own: a recording warns
    # there of every class it cannot archive. A skipped archive is
    # reported by _drop_unmapped_archive instead.
    return {"spark.driver.defaultJavaOptions": f"{flag} {_QUIET_CDS} {caller}".strip()}


def _cds_archive(jvm_dir: str, key: str, keep: set[str]) -> str | None:
    """The archive of ``key`` under ``jvm_dir``, ``cds-<key>.<size>.jsa``;
    None when there is none yet. Using an archive stamps its mtime. An
    earlier session's finished recording (``cds-<key>.<pid>.part`` with
    its header written) is adopted, and adopting removes everything else
    under ``jvm_dir`` but ``keep`` and the files of the most recently
    used other key: older keys' archives and recordings, and class
    directories of the earlier layout. Two session shapes alternating in
    one checkout (a test suite's heap and a script's) thus each keep
    their archive. An archive that is no longer its recorded size is
    removed: HotSpot 17 maps a truncated one and dies of SIGBUS."""
    pattern = os.path.join(_glob.escape(jvm_dir), f"cds-{key}.*")
    for archive in _glob.glob(pattern + ".jsa"):
        if str(os.path.getsize(archive)) == archive.rsplit(".", 2)[1]:
            with contextlib.suppress(OSError):
                os.utime(archive)
            return archive
        log.warning("%s is not the size it was recorded at; removed", archive)
        os.unlink(archive)
    for part in _glob.glob(pattern + ".part"):
        with open(part, "rb") as f:
            if f.read(len(_ARCHIVE_MAGIC)) != _ARCHIVE_MAGIC:
                continue  # its JVM is still writing it, or died doing so
        archive = os.path.join(jvm_dir, f"cds-{key}.{os.path.getsize(part)}.jsa")
        os.rename(part, archive)
        break
    else:
        return None
    used: dict[str, float] = {}
    for name in os.listdir(jvm_dir):
        other = name.split(".")[0]
        if name.startswith("cds-") and other != f"cds-{key}":
            with contextlib.suppress(OSError):  # a concurrent session moved it
                mtime = os.path.getmtime(os.path.join(jvm_dir, name))
                used[other] = max(used.get(other, mtime), mtime)
    recent = max(used, key=used.get, default=None)
    for name in os.listdir(jvm_dir):
        path = os.path.join(jvm_dir, name)
        if path == archive or path in keep or name.split(".")[0] == recent:
            continue
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            with contextlib.suppress(OSError):
                os.unlink(path)
    return archive


def _drop_unmapped_archive(cds: dict[str, str]) -> None:
    """Remove the archive a fresh driver JVM was started with if the JVM
    did not map it (HotSpot skipped it as mismatched or damaged), so the
    next fresh session records it again."""
    from pyspark import SparkContext

    archive = next(
        (o[len(_USE_ARCHIVE) :] for o in cds.get("spark.driver.defaultJavaOptions", "").split() if o.startswith(_USE_ARCHIVE)),
        None,
    )
    proc = getattr(SparkContext._gateway, "proc", None)
    if archive is None or proc is None:
        return
    try:
        with open(f"/proc/{proc.pid}/maps") as f:
            if os.path.realpath(archive) in f.read():
                return
    except OSError:  # no /proc: nothing to tell from
        return
    log.warning("the driver JVM did not map %s; removed, the next fresh session records it again", archive)
    with contextlib.suppress(OSError):
        os.unlink(archive)


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
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
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
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.warehouse.dir": os.environ.get("ROVE_WAREHOUSE", "/tmp/rove_warehouse"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # throughput-oriented GC: batch jobs prefer ParallelGC's higher
        # throughput over G1's pause targets (~20% on the rollup job here)
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Dderby.system.home=/tmp/rove_derby",
        "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        # cluster deployments: ship the BLAS pinning to executor-side
        # Python workers too (local mode inherits the driver env)
        "spark.executorEnv.OPENBLAS_NUM_THREADS": os.environ["OPENBLAS_NUM_THREADS"],
        "spark.executorEnv.OMP_NUM_THREADS": os.environ["OMP_NUM_THREADS"],
        "spark.executorEnv.MKL_NUM_THREADS": os.environ["MKL_NUM_THREADS"],
        "spark.ui.enabled": "false",
        # no Python call-site capture: with it on, pyspark wraps every
        # F.* / Column call in _with_origin, which makes ~4 extra py4j
        # round trips per call (active session, a conf read, origin
        # set/clear) and tries `import IPython` each time. Planning the
        # daily job made ~2,500 round trips with it on. It only adds
        # the Python call site to analysis error messages;
        # ``extra_conf`` can turn it back on for debugging.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    # shuffle spill dir: prefer tmpfs — on a real cluster each executor has
    # local NVMe, so shuffle IO scales with nodes; on this single box the
    # network-attached root disk would be one shared bottleneck that
    # falsely caps core-scaling measurements
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        conf["spark.local.dir"] = os.path.join(shm, "rove_spark_local")
    extra_conf = dict(extra_conf or {})
    jvm_dir = os.path.join(pkg_root, ".rove_jvm")
    conf.update(_nio_fs_confs(master, jvm_dir, extra_conf))
    iceberg_jar = probe_iceberg()
    if iceberg_jar:
        conf.update(_iceberg_confs(iceberg_jar, extra_conf))
    conf.update(extra_conf)
    cds = _cds_confs(master, jvm_dir, conf)
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**conf, **cds}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _drop_unmapped_archive(cds)
    return spark


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
