"""Local-mode sessions from ``get_spark`` route ``file:`` through
``NioLocalFileSystem``: Hadoop's local file system otherwise spawns a
``chmod`` process from the driver JVM for every file and directory a
write creates (Spark's builds ship no native hadoop library)."""

from __future__ import annotations

import os
import stat
import threading
import time

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


def test_nio_fs_confs(spark, monkeypatch, tmp_path):
    # executors of a cluster or local-cluster master are other JVMs
    assert session._nio_fs_confs("spark://h:7077", str(tmp_path), {}) == {}
    assert session._nio_fs_confs("local-cluster[2,1,1024]", str(tmp_path), {}) == {}
    # a JVM that is up: only the file system, its class path is fixed
    assert session._nio_fs_confs("local[2]", str(tmp_path), {}) == {
        "spark.hadoop.fs.file.impl": session._NIO_FS_CLASS
    }
    # a JVM still to start: the classes go on its class path, ahead of the caller's
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_nio_fs_classes", lambda root: "/c")
    extra = {"spark.driver.extraClassPath": "/x.jar"}
    assert session._nio_fs_confs("local", str(tmp_path), extra) == {
        "spark.driver.extraClassPath": "/c" + os.pathsep + "/x.jar",
        "spark.hadoop.fs.file.impl": session._NIO_FS_CLASS,
    }
    assert extra == {}
    monkeypatch.setattr(session, "_nio_fs_classes", lambda root: None)
    assert session._nio_fs_confs("local[4]", str(tmp_path), {}) == {}


def test_nio_fs_classes_compile_once(tmp_path, monkeypatch):
    out = session._nio_fs_classes(str(tmp_path))
    assert out is not None and out.startswith(str(tmp_path / ".rove_jvm"))
    assert os.path.isfile(os.path.join(out, "rove_spark", "jvm", "NioLocalFileSystem.class"))
    stamp = os.stat(out).st_mtime_ns
    assert session._nio_fs_classes(str(tmp_path)) == out
    assert os.stat(out).st_mtime_ns == stamp
    broken = tmp_path / "NioLocalFileSystem.java"
    broken.write_text("class {")
    monkeypatch.setattr(session, "_NIO_FS_SOURCE", str(broken))
    assert session._nio_fs_classes(str(tmp_path)) is None
    assert os.listdir(tmp_path / ".rove_jvm") == [os.path.basename(out)]
