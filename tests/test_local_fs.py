"""The engine jar: its `file:` filesystem (jvm/NioLocalFileSystem.java)
makes the same changes on disk as stock Hadoop without forking `chmod` or
`readlink`, its `replay` data source (jvm/ReplaySource.java) resolves by
name in every session, and the committed jar is what the sources build."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from binance_etl_spark import session
from binance_etl_spark.sources import fixtures as FX

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NIO = session._NIO_FS


def _local_uri(spark):
    return spark._jvm.java.net.URI("file:///")


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def _engine_raw(spark):
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(_local_uri(spark), _hadoop_conf(spark))
    return fs.getRawFileSystem()


def _stock_raw(spark):
    raw = spark._jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(_local_uri(spark), _hadoop_conf(spark))
    return raw


def test_session_binds_file_scheme_to_the_engine_classes(spark):
    jvm = spark._jvm
    conf = _hadoop_conf(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(_local_uri(spark), conf)
    assert fs.getClass().getName() == f"{NIO}$Local"
    assert fs.getRawFileSystem().getClass().getName() == f"{NIO}$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(_local_uri(spark), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == f"{NIO}$LocalFs"


class _RecordingBuilder:
    def __init__(self):
        self.master_url, self.conf = None, {}

    def appName(self, name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


@pytest.mark.parametrize("master", [None, "spark://cluster:7077"])
def test_only_a_local_master_binds_file_scheme_to_the_jar(monkeypatch, master):
    # a cluster's executors need not have the jar at the driver's path,
    # so a configured master keeps the stock `file:` binding
    class _Session:
        builder = _RecordingBuilder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    monkeypatch.delenv("SPARK_CONNECT_MODE_ENABLED", raising=False)
    if master:
        monkeypatch.setenv("SPARK_MASTER", master)
    else:
        monkeypatch.delenv("SPARK_MASTER", raising=False)
    b = session.get_spark("conf-probe")
    assert (b.master_url is None) == bool(master)
    jar_keys = ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl",
                "spark.driver.extraClassPath", "spark.executor.extraClassPath")
    bound = {k: b.conf[k] for k in jar_keys if k in b.conf}
    if master:
        assert bound == {}
        # the jar still reaches the driver and the executors
        assert b.conf["spark.jars"] == session._JVM_JAR
    else:
        assert bound == session.LOCAL_FS_CONF
        assert "spark.jars" not in b.conf  # local executors are the driver JVM
    assert all(b.conf[k] == v for k, v in session.ENGINE_CONF.items())


def test_format_replay_resolves_without_python_registration(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().conf()
    provider = jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource("replay", conf)
    assert provider.getName() == "binance_etl_spark.jvm.ReplaySource"
    assert not spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists("replay")
    log = tmp_path / "frames.jsonl"
    log.write_text('{"frame": "{}", "arrival_ms": 1, "seq": 0}\n')
    rows = spark.read.format("replay").option("path", str(log)).load().collect()
    assert [tuple(r) for r in rows] == [("{}", 1, 0)]


_SESSION_PROBE = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {root!r})
    from pyspark.sql import SparkSession
    from binance_etl_spark.session import get_spark
    from binance_etl_spark.sources import fixtures as FX
    from binance_etl_spark.sources.replay import read_replay, stream_replay

    mode, work = sys.argv[1], sys.argv[2]
    if mode == "cluster":
        # a master of its own: executors in separate JVMs
        spark = get_spark("jar-probe", {{"spark.master": os.environ["SPARK_MASTER"],
                                         "spark.executor.memory": "512m"}})
    else:
        # a bare builder, as a host process that owns the session makes
        spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    paths = FX.write_fixtures(work)
    batch = read_replay(spark, paths["trades"]).count()
    q = stream_replay(spark, paths["depth"], 2).writeStream.format("memory").queryName("probe").start()
    q.processAllAvailable()
    q.stop()
    streamed = spark.table("probe").count()
    executors = spark.sparkContext._jsc.sc().getExecutorIds().size()
    fs = spark._jsc.hadoopConfiguration().get("fs.file.impl")
    print("RESULT", batch, streamed, executors, fs)
    spark.stop()
    """
)


@pytest.mark.parametrize("mode", ["cluster", "bare"])
def test_replay_reads_in_cluster_and_bare_sessions(tmp_path, mode):
    """A configured master gets the jar through `spark.jars`: a separate
    executor JVM runs the replay tasks, and `file:` keeps its stock
    binding. A session built without get_spark gets it on first use."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "1"
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.pop("SPARK_MASTER", None)
    if mode == "cluster":
        env["SPARK_MASTER"] = "local-cluster[1,1,768]"
    out = subprocess.run(
        [sys.executable, "-c", _SESSION_PROBE.format(root=ROOT), mode, str(tmp_path / "fx")],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    _, batch, streamed, executors, fs = lines[-1].split(" ")
    assert (int(batch), int(streamed)) == (len(FX.trade_frames()), len(FX.depth_frames()))
    assert fs == "None"
    if mode == "cluster":
        assert int(executors) == 1


def test_set_permission_matches_stock_for_every_rwx_mode(spark, tmp_path):
    jvm = spark._jvm
    nio, stock = _engine_raw(spark), _stock_raw(spark)
    f = tmp_path / "file"
    f.write_text("x")
    d = tmp_path / "dir"
    d.mkdir()
    try:
        for target in (f, d):
            path = jvm.org.apache.hadoop.fs.Path(str(target))
            for mode in range(0o1000):
                perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
                nio.setPermission(path, perm)
                got = stat.S_IMODE(os.stat(target).st_mode)
                os.chmod(target, mode ^ 0o777)  # stock must change it back
                stock.setPermission(path, perm)
                want = stat.S_IMODE(os.stat(target).st_mode)
                assert (got, want) == (mode, mode), f"{target.name} {mode:o}"
    finally:
        os.chmod(d, 0o755)


def _link_status(fs, path) -> tuple:
    """The observable fields of ``fs.getFileLinkStatus(path)``, or the
    Java exception it raised."""
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as e:
        return (e.java_exception.getClass().getName(),)
    out = (
        st.getPath().toString(), st.isFile(), st.isDirectory(), st.isSymlink(),
        st.getLen(), st.getModificationTime(), st.getPermission().toString(),
    )
    return out + ((st.getSymlink().toString(),) if st.isSymlink() else ())


def test_file_link_status_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    nio, stock = _engine_raw(spark), _stock_raw(spark)
    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    # stock reads links of a scheme-qualified path as plain files, so
    # both spellings are checked
    for name in ("file", "dir", "link", "dangling"):
        for p in (str(tmp_path / name), f"file:{tmp_path / name}"):
            path = jvm.org.apache.hadoop.fs.Path(p)
            assert _link_status(nio, path) == _link_status(stock, path), p
    assert _link_status(nio, jvm.org.apache.hadoop.fs.Path(str(tmp_path / "link")))[3]
    missing = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing"))
    for fs in (nio, stock):
        assert _link_status(fs, missing) == ("java.io.FileNotFoundException",)


_FORK_PROBE = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {root!r})
    from binance_etl_spark.operators import snapshots as SNAP
    from binance_etl_spark.runner import start_jobs
    from binance_etl_spark.session import get_spark
    from binance_etl_spark.sources import fixtures as FX
    from binance_etl_spark.streaming.pipelines import stop_all

    work, log = sys.argv[1], sys.argv[2]
    spark = get_spark("fork-probe")
    SNAP.write_version(spark.range(20).toDF("id"), os.path.join(work, "table"))
    paths = FX.write_fixtures(os.path.join(work, "fx"))
    with open(paths["depth"]) as f:
        lines = f.readlines()
    spool = os.path.join(work, "spool.jsonl")
    sym = FX.SYMBOL.lower()
    config = {{
        "events": [f"binance.spot.{{sym}}.depth"],
        "storage": {{"format": "snapshot", "output_path": os.path.join(work, "lake")}},
        "sources": {{f"{{sym}}.depth": spool}},
        "snapshots": {{FX.SYMBOL: FX.snapshot()}},
    }}
    with open(spool, "w") as f:
        f.writelines(lines[:3])
    (q,) = start_jobs(spark, config)
    try:
        q.processAllAvailable()
        with open(spool, "a") as f:  # the second trigger
            f.writelines(lines[3:])
        q.processAllAvailable()
        batches = len(q.recentProgress)
    finally:
        stop_all(spark)
    with open(log) as f:
        forks = f.read().splitlines()
    # the shim sees a stock chmod, so an empty log means none was forked
    stock = spark._jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    stock.setPermission(
        spark._jvm.org.apache.hadoop.fs.Path(os.path.join(work, "fx")),
        spark._jvm.org.apache.hadoop.fs.permission.FsPermission(0o755),
    )
    with open(log) as f:
        canary = len(f.read().splitlines()) - len(forks)
    print("RESULT", batches, len(forks), canary, forks[:5])
    spark.stop()
    """
)


def test_snapshot_write_and_depth_triggers_fork_no_chmod_or_readlink(tmp_path):
    shim, log = tmp_path / "shim", tmp_path / "forks.log"
    shim.mkdir()
    log.write_text("")
    for tool in ("chmod", "readlink"):
        real = shutil.which(tool)
        assert real, f"{tool} not on PATH"
        (shim / tool).write_text(f'#!/bin/sh\necho "{tool} $*" >> "{log}"\nexec "{real}" "$@"\n')
        os.chmod(shim / tool, 0o755)
    env = dict(os.environ)
    env["PATH"] = f"{shim}{os.pathsep}{env.get('PATH', '')}"
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    work = tmp_path / "work"
    work.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", _FORK_PROBE.format(root=ROOT), str(work), str(log)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    _, batches, forks, canary, sample = lines[-1].split(" ", 4)
    assert int(batches) >= 2
    assert int(canary) == 1, "the PATH shim did not see a stock chmod"
    assert int(forks) == 0, sample


@pytest.mark.skipif(not (shutil.which("javac") and shutil.which("jar")), reason="needs a JDK")
def test_committed_jar_is_built_from_the_committed_source(tmp_path):
    jar = tmp_path / "rebuilt.jar"
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "build_jvm.py"), "--jar", str(jar)],
        check=True, timeout=300,
    )

    with zipfile.ZipFile(session._JVM_JAR) as z:
        names = z.namelist()
    assert "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister" in names
    sources = {os.path.basename(n).split("$")[0].removesuffix(".class") for n in names if n.endswith(".class")}
    assert sources == {"NioLocalFileSystem", "ReplaySource"}
    with open(session._JVM_JAR, "rb") as f:
        assert jar.read_bytes() == f.read()
