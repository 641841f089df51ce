"""Local-mode sessions from ``get_spark`` route ``file:`` through
``NioLocalFileSystem``: Hadoop's local file system otherwise spawns a
``chmod`` process from the driver JVM for every file and directory a
write creates (Spark's builds ship no native hadoop library). Their
driver JVM starts from a class-data-sharing archive kept beside the
class's jar."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import threading
import time
import zipfile

import pytest
from pyspark import SparkContext

from rove_spark import session


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


class _Spawns:
    """Counts processes the JVM starts while the block runs (polled
    /proc; a miss can only undercount)."""

    def __enter__(self):
        self.jvm = SparkContext._gateway.proc.pid
        self.known = set(os.listdir("/proc"))
        self.children: list[str] = []
        self._stop = False
        self._thread = threading.Thread(target=self._run)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop:
            for name in os.listdir("/proc"):
                if name.isdigit() and name not in self.known:
                    self.known.add(name)
                    try:
                        with open(f"/proc/{name}/stat") as f:
                            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                        with open(f"/proc/{name}/cmdline", "rb") as f:
                            cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
                    except OSError:
                        continue
                    if ppid == self.jvm:
                        self.children.append(cmd)
            time.sleep(0.001)

    def __exit__(self, *exc):
        self._stop = True
        self._thread.join()


def test_partitioned_write_spawns_no_process(spark, tmp_path):
    assert _local_fs(spark).getClass().getName() == session._NIO_FS_CLASS
    out = tmp_path / "t"
    df = spark.range(60).selectExpr("id", "id % 3 AS day")
    with _Spawns() as spawns:
        for _ in range(2):
            df.write.mode("overwrite").partitionBy("day").parquet(str(out))
    assert spawns.children == []
    assert spark.read.parquet(str(out)).count() == 60
    part = out / "day=0"
    assert stat.S_IMODE(part.stat().st_mode) == 0o755
    files = [p for p in part.iterdir() if p.name.endswith(".parquet")]
    assert files and all(stat.S_IMODE(p.stat().st_mode) == 0o644 for p in files)


def test_set_permission_modes(spark, tmp_path):
    jvm = spark._jvm
    fs = _local_fs(spark)
    for mode in ("640", "700", "755", "000", "777"):
        p = tmp_path / f"f{mode}"
        p.write_bytes(b"x")
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        assert stat.S_IMODE(p.stat().st_mode) == int(mode, 8)
    # the sticky bit is beyond java.nio; it still goes through chmod
    d = tmp_path / "sticky"
    d.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)), jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert stat.S_IMODE(d.stat().st_mode) == 0o1777


def test_rename_onto_existing_file_fails(spark, tmp_path):
    jvm = spark._jvm
    fs = _local_fs(spark)
    a, b = tmp_path / "a", tmp_path / "b"
    a.write_bytes(b"a")
    b.write_bytes(b"b")
    path = jvm.org.apache.hadoop.fs.Path
    assert not fs.rename(path(str(a)), path(str(b)))
    assert b.read_bytes() == b"b"
    assert fs.rename(path(str(a)), path(str(tmp_path / "c")))
    assert (tmp_path / "c").read_bytes() == b"a"


def test_stream_checkpoint_spawns_no_process(spark, tmp_path):
    """Structured-streaming checkpoints write through ``FileContext``
    (``fs.AbstractFileSystem.file.impl``): Hadoop's ``LocalFs`` spawned
    ``chmod`` ~13 times per micro-batch there."""
    jvm = spark._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fc.getDefaultFileSystem().getClass().getName() == session._NIO_AFS_CLASS
    ckpt = tmp_path / "ckpt"
    with _Spawns() as spawns:
        q = (
            spark.readStream.format("rate").option("rowsPerSecond", 20).load()
            .writeStream.format("memory").queryName("rate_to_memory")
            .option("checkpointLocation", str(ckpt))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while (q.lastProgress or {}).get("batchId", -1) < 3 and time.time() < deadline:
                time.sleep(0.1)
            assert q.lastProgress["batchId"] >= 3
        finally:
            q.stop()
    assert spawns.children == []
    assert len(list((ckpt / "commits").iterdir())) >= 4
    assert spark.table("rate_to_memory").count() > 0


def test_nio_fs_confs(spark, monkeypatch, tmp_path):
    fs = {
        "spark.hadoop.fs.file.impl": session._NIO_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": session._NIO_AFS_CLASS,
    }
    # executors of a cluster or local-cluster master are other JVMs
    assert session._nio_fs_confs("spark://h:7077", str(tmp_path), {}) == {}
    assert session._nio_fs_confs("local-cluster[2,1,1024]", str(tmp_path), {}) == {}
    # a JVM that is up: only the file systems, its class path is fixed
    assert session._nio_fs_confs("local[2]", str(tmp_path), {}) == fs
    # a JVM still to start: the jar goes on its class path, ahead of the caller's
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_nio_fs_jar", lambda jvm_dir: "/c.jar")
    extra = {"spark.driver.extraClassPath": "/x.jar"}
    assert session._nio_fs_confs("local", str(tmp_path), extra) == {
        "spark.driver.extraClassPath": "/c.jar" + os.pathsep + "/x.jar",
        **fs,
    }
    assert extra == {}
    monkeypatch.setattr(session, "_nio_fs_jar", lambda jvm_dir: None)
    assert session._nio_fs_confs("local[4]", str(tmp_path), {}) == {}


def test_nio_fs_jar_builds_once(tmp_path, monkeypatch):
    jvm_dir = str(tmp_path / ".rove_jvm")
    jar = session._nio_fs_jar(jvm_dir)
    assert jar is not None and os.path.dirname(jar) == jvm_dir and jar.endswith(".jar")
    with zipfile.ZipFile(jar) as z:
        assert {"rove_spark/jvm/NioLocalFileSystem.class", "rove_spark/jvm/NioLocalFileSystem$Fs.class"} <= set(z.namelist())
    stamp = os.stat(jar).st_mtime_ns
    assert session._nio_fs_jar(jvm_dir) == jar
    assert os.stat(jar).st_mtime_ns == stamp
    broken = tmp_path / "NioLocalFileSystem.java"
    broken.write_text("class {")
    monkeypatch.setattr(session, "_NIO_FS_SOURCE", str(broken))
    assert session._nio_fs_jar(jvm_dir) is None
    assert os.listdir(jvm_dir) == [os.path.basename(jar)]


# --------------------------------------- class-data-sharing archive --


def _cds_env(monkeypatch, tmp_path):
    """A JVM still to start, a conf dir of templates and no JVM flags
    from the environment."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    conf_dir = tmp_path / "spark_conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    for v in session._JVM_OPTIONS_ENV + session._CLASS_PATH_ENV:
        monkeypatch.delenv(v, raising=False)
    return conf_dir


def _opts(cds):
    return cds["spark.driver.defaultJavaOptions"].split()


def test_cds_confs_key_and_placement(monkeypatch, tmp_path):
    conf_dir = _cds_env(monkeypatch, tmp_path)
    jvm_dir = str(tmp_path / ".rove_jvm")
    base = {"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Dderby.system.home=/a"}
    first = session._cds_confs("local[2]", jvm_dir, dict(base))
    flag, quiet = _opts(first)
    assert quiet == session._QUIET_CDS
    assert flag.startswith(session._RECORD_ARCHIVE + os.path.join(jvm_dir, "cds-"))
    # the conf dir of templates is swapped for an empty one
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(jvm_dir, "conf")
    assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    # -D properties and -Xlog change per run and do not key the archive
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Djava.io.tmpdir=/run/7")
    other_d = dict(base, **{"spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Dderby.system.home=/b -Xlog:class+load"})
    assert session._cds_confs("local[2]", jvm_dir, other_d) == first
    # -X/-XX flags, the heap size and the class path do
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:-UsePerfData")
    assert session._cds_confs("local[2]", jvm_dir, dict(base)) != first
    monkeypatch.delenv("JAVA_TOOL_OPTIONS")
    assert session._cds_confs("local[2]", jvm_dir, dict(base, **{"spark.driver.memory": "2g"})) != first
    jar = tmp_path / "x.jar"
    jar.write_bytes(b"PK")
    assert session._cds_confs("local[2]", jvm_dir, dict(base, **{"spark.driver.extraClassPath": str(jar)})) != first
    # a recorded archive is used, also under a caller's extraJavaOptions,
    # and a caller's defaultJavaOptions follow the CDS flag
    key = os.path.basename(flag).split(".")[0]
    archive = os.path.join(jvm_dir, key + ".7.jsa")
    with open(archive, "wb") as f:
        f.write(b"archive")
    caller = dict(base, **{"spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Dmine=1",
                           "spark.driver.defaultJavaOptions": "-Dcaller=1 -ea"})
    cds = session._cds_confs("local[2]", jvm_dir, caller)
    assert _opts(cds) == [session._USE_ARCHIVE + archive, session._QUIET_CDS, "-Dcaller=1", "-ea"]


def test_cds_archive_adopt_prune_and_truncation(tmp_path):
    jvm_dir = tmp_path / ".rove_jvm"
    (jvm_dir / "0123456789abcdef" / "rove_spark").mkdir(parents=True)  # class dir of the old layout
    (jvm_dir / "conf").mkdir()
    for name in ("abc.jar", "old.jar", "cds-other.9.jsa", "cds-other.77.part"):
        (jvm_dir / name).write_bytes(b"x")
    body = session._ARCHIVE_MAGIC + b"rest"
    (jvm_dir / "cds-k.11.part").write_bytes(b"\0" * 8)  # its JVM is still writing it
    keep = {str(jvm_dir / "conf"), str(jvm_dir / "abc.jar")}
    assert session._cds_archive(str(jvm_dir), "k", keep) is None
    (jvm_dir / "cds-k.12.part").write_bytes(body)
    archive = session._cds_archive(str(jvm_dir), "k", keep)
    assert archive == str(jvm_dir / f"cds-k.{len(body)}.jsa")
    # the other key is the most recently used one: its files stay
    assert sorted(os.listdir(jvm_dir)) == sorted(
        ["abc.jar", "conf", os.path.basename(archive), "cds-other.9.jsa", "cds-other.77.part"]
    )
    assert session._cds_archive(str(jvm_dir), "k", keep) == archive
    # an archive cut short is removed, not mapped
    with open(archive, "r+b") as f:
        f.truncate(4)
    assert session._cds_archive(str(jvm_dir), "k", keep) is None
    assert not os.path.exists(archive)


def test_cds_archive_keeps_the_last_used_other_key(tmp_path):
    """Two keys alternating in one ``jvm_dir`` keep their archives: a
    third key's adoption removes the least recently used key's files and
    keeps the other's, and using an archive makes its key the recent one."""
    jvm_dir = tmp_path / ".rove_jvm"
    jvm_dir.mkdir()
    body = session._ARCHIVE_MAGIC + b"rest"

    def archive(key: str, age: int) -> str:
        path = jvm_dir / f"cds-{key}.{len(body)}.jsa"
        path.write_bytes(body)
        os.utime(path, (time.time() - age, time.time() - age))
        return str(path)

    suite = archive("suite", 200)
    archive("script", 100)
    assert session._cds_archive(str(jvm_dir), "suite", set()) == suite  # now the recent one
    (jvm_dir / "cds-probe.12.part").write_bytes(body)
    probe = session._cds_archive(str(jvm_dir), "probe", set())
    assert sorted(os.listdir(jvm_dir)) == sorted(os.path.basename(p) for p in (suite, probe))
    assert session._cds_archive(str(jvm_dir), "suite", set()) == suite


def test_cds_confs_off(monkeypatch, tmp_path):
    conf_dir = _cds_env(monkeypatch, tmp_path)
    jvm_dir = str(tmp_path / ".rove_jvm")
    conf = {"spark.driver.memory": "1g"}
    # a non-local master runs its driver elsewhere
    assert session._cds_confs("spark://h:7077", jvm_dir, dict(conf)) == {}
    assert session._cds_confs("local-cluster[2,1,1024]", jvm_dir, dict(conf)) == {}
    # a caller's own sharing flags win
    assert session._cds_confs("local[2]", jvm_dir, dict(conf, **{"spark.driver.extraJavaOptions": "-Xshare:off"})) == {}
    # a live file in the conf dir: the launcher reads it, CDS is left off
    (conf_dir / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._cds_confs("local[2]", jvm_dir, dict(conf)) == {}
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)
    # as it is for another non-empty directory on the class path
    (conf_dir / "spark-defaults.conf").unlink()
    assert session._cds_confs("local[2]", jvm_dir, dict(conf, **{"spark.driver.extraClassPath": str(conf_dir)})) == {}
    assert not os.path.exists(jvm_dir)


_CHILD = """
import json, os, signal, sys
from pyspark import SparkContext
from rove_spark.session import get_spark

spark = get_spark("cds", master="local[1]", extra_conf=json.loads(sys.argv[1]))
assert spark.range(10).count() == 10
pid = SparkContext._gateway.proc.pid
print(json.dumps([pid, spark.conf.get("spark.driver.defaultJavaOptions", "")]), flush=True)
if sys.argv[2] == "kill":
    os.kill(pid, signal.SIGKILL)
"""  # or exits without spark.stop(): the JVM exits when its stdin closes


def _fresh_session(root, extra, exit="exit", **env):
    """Runs ``_CHILD`` on the package copy under ``root`` (whose
    ``.rove_jvm`` it uses) and waits for its JVM to end: on ``exit`` it
    writes its recording, if it makes one (~10 s here), on ``kill`` it
    writes none. Returns the JVM's ``defaultJavaOptions``."""
    env = dict(os.environ, **env, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = str(root) + os.pathsep + env.get("PYTHONPATH", "")
    # returns when the JVM, which shares the child's stdout, has ended
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, json.dumps(extra), exit], cwd=root, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    # nothing else: the JVM logs to the same stdout, also while recording
    [line] = r.stdout.splitlines()
    pid, opts = json.loads(line)
    deadline = time.time() + 60
    while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
        time.sleep(0.1)
    assert not os.path.exists(f"/proc/{pid}")
    return opts


def _context_source(log):
    """Where the JVM that wrote the ``class+load`` log ``log`` loaded
    SparkContext from."""
    [line] = [x for x in log.read_text().splitlines() if " org.apache.spark.SparkContext source: " in x]
    return line.split(" source: ", 1)[1]


def test_fresh_sessions_record_use_and_replace_the_archive(tmp_path):
    """Fresh driver JVMs on one ``.rove_jvm``: the first records the
    archive, the next loads SparkContext from it, one with another class
    path records its own key, a truncated archive is re-recorded, and a
    live conf file leaves sharing off; every session starts."""
    root = tmp_path / "root"
    shutil.copytree(os.path.dirname(session.__file__), root / "rove_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    jvm_dir = root / ".rove_jvm"
    (jvm_dir / "0123456789abcdef" / "rove_spark").mkdir(parents=True)  # class dir of the old layout

    def logged(name, **extra):
        opts = f"-XX:+UseParallelGC -Drun={name} -Xlog:class+load=info:file={tmp_path / name}"
        return {"spark.driver.extraJavaOptions": opts, **extra}

    opts = _fresh_session(root, {})
    if not opts:
        pytest.skip("no class-data archive here (no javac, or a live Spark conf dir)")
    assert opts.startswith(session._RECORD_ARCHIVE)
    [part] = jvm_dir.glob("cds-*.part")
    with open(part, "rb") as f:
        assert f.read(4) == session._ARCHIVE_MAGIC  # written by a script that never stopped its session

    opts = _fresh_session(root, logged("b.log"))
    [archive] = jvm_dir.glob("cds-*.jsa")
    assert opts.split()[0] == session._USE_ARCHIVE + str(archive)
    assert _context_source(tmp_path / "b.log").startswith("shared objects file")
    [jar] = jvm_dir.glob("*.jar")
    assert sorted(p.name for p in jvm_dir.iterdir()) == sorted([jar.name, "conf", archive.name])

    extra_jar = tmp_path / "extra.jar"
    with zipfile.ZipFile(extra_jar, "w") as z:
        z.writestr("x.txt", "x")
    opts = _fresh_session(root, logged("c.log", **{"spark.driver.extraClassPath": str(extra_jar)}), "kill")
    key = archive.name.split(".")[0]
    assert opts.startswith(session._RECORD_ARCHIVE) and key not in opts
    assert _context_source(tmp_path / "c.log").endswith(".jar")

    with open(archive, "r+b") as f:
        f.truncate(os.path.getsize(archive) // 2)
    opts = _fresh_session(root, logged("d.log"), "kill")
    assert opts.startswith(session._RECORD_ARCHIVE + str(jvm_dir / key)) and not archive.exists()
    assert _context_source(tmp_path / "d.log").endswith(".jar")

    live = tmp_path / "live_conf"
    live.mkdir()
    (live / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert _fresh_session(root, {}, SPARK_CONF_DIR=str(live)) == ""
