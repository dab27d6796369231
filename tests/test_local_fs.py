"""The session's ``file:`` filesystem (``nrt_spark.jvm.PosixLocalFileSystem``):
local writes set modes in the JVM instead of forking ``chmod``, write
the same modes and ``.crc`` files, keep the ``rename`` guard of the
filesystem it replaces, and the session falls back to the stock one
when the jar cannot be built."""

from __future__ import annotations

import json
import logging
import os
import shutil
import stat
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from nrt_spark import session

ROOT = Path(__file__).resolve().parent.parent
FS_KEYS = ("spark.hadoop.fs.file.impl", "spark.driver.extraClassPath")

requires_javac = pytest.mark.skipif(shutil.which("javac") is None,
                                    reason="no javac to build the jar")


@pytest.fixture
def fresh_jar_cache(monkeypatch, tmp_path):
    """``_local_fs_jar`` recomputed, with the cache under ``tmp_path``."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    session._local_fs_jar.cache_clear()
    yield tmp_path / "cache" / "nrt_spark"
    session._local_fs_jar.cache_clear()


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


@requires_javac
def test_local_writes_fork_no_chmod(tmp_path):
    """A ``partitionBy`` parquet write and an ``NrtEngine.save_state``
    snapshot fork no ``chmod`` (a logging wrapper first on ``PATH`` sees
    none), and every file and directory gets the mode a stock write
    gives it under the process umask, with its ``.crc`` beside it."""
    wrap, log, out = tmp_path / "bin", tmp_path / "chmod.log", tmp_path / "out"
    wrap.mkdir()
    (wrap / "chmod").write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {shutil.which("chmod")} "$@"\n')
    (wrap / "chmod").chmod(0o755)
    script = tmp_path / "driver.py"
    script.write_text(f"""
import json, os, sys
sys.path.insert(0, {str(ROOT)!r})
from pyspark.sql import functions as F
from nrt_spark.datagen import generate_tokens
from nrt_spark.engine import NrtEngine
from nrt_spark.session import get_spark

umask = os.umask(0)
os.umask(umask)
spark = get_spark(cores=2, driver_memory="1g", shuffle_partitions=2,
                  extra_conf={{"spark.hadoop.fs.permissions.umask-mode":
                               f"{{umask:03o}}"}})
spark.range(100, numPartitions=3).withColumn("p", F.col("id") % 3) \\
    .write.partitionBy("p").parquet({str(out / "table")!r})
eng = NrtEngine(spark, "ewma", num_buckets=16, trend=False)
eng.save_state(eng.fit(generate_tokens(spark, 32, n_obs=130),
                       history_end="2016-05-10"), {str(out / "state")!r})
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
print(json.dumps({{"umask": umask, "fs": fs.getClass().getName()}}))
spark.stop()
""")
    env = dict(os.environ, NRT_SESSION_WARMUP="0",
               PYSPARK_PYTHON=sys.executable,
               PATH=os.pathsep.join([str(wrap), os.environ["PATH"]]))
    res = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])

    assert got["fs"] == session.LOCAL_FS_CLASS
    assert not log.exists() or log.read_text() == ""
    umask = got["umask"]
    for table in ("table", "state"):
        files = dirs = 0
        for root, dnames, fnames in os.walk(out / table):
            assert stat.S_IMODE(os.stat(root).st_mode) == 0o777 & ~umask
            dirs += 1
            for f in fnames:
                mode = stat.S_IMODE(os.stat(Path(root, f)).st_mode)
                assert mode == 0o666 & ~umask, (root, f, oct(mode))
                if not f.endswith(".crc"):
                    files += 1
                    assert f".{f}.crc" in fnames, (root, f)
        assert files > 1 and dirs > 1, table


def test_rename_onto_existing_file_is_refused(spark, tmp_path):
    """The session's ``file:`` filesystem keeps the ``rename`` guard of
    Hive's ``ProxyLocalFileSystem``: an existing destination file is
    neither replaced nor touched."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    src, dst, free = tmp_path / "src", tmp_path / "dst", tmp_path / "free"
    src.write_text("source")
    dst.write_text("destination")

    def hpath(p: Path):
        return jvm.org.apache.hadoop.fs.Path(p.as_uri())

    assert fs.rename(hpath(src), hpath(dst)) is False
    assert src.read_text() == "source"
    assert dst.read_text() == "destination"
    assert fs.rename(hpath(src), hpath(free)) is True
    assert free.read_text() == "source" and not src.exists()


def test_running_jvm_loads_only_its_class_path(spark):
    """Once this process's JVM runs, only a jar on its class path can
    serve a later session (the shared session started with the jar)."""
    jar = spark.sparkContext.getConf().get("spark.driver.extraClassPath",
                                           None)
    if jar is None:
        pytest.skip("the shared session has no filesystem jar")
    assert session._jvm_can_load(jar.split(os.pathsep)[-1])
    assert not session._jvm_can_load("/nonexistent/fs.jar")


def _fake_jdk(jdk: Path) -> None:
    """A JDK whose ``javac`` fails every compile."""
    (jdk / "bin").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.0"\n')
    (jdk / "bin" / "javac").write_text(
        '#!/bin/sh\necho "error: cannot compile" >&2\nexit 2\n')
    (jdk / "bin" / "javac").chmod(0o755)


@pytest.mark.parametrize("case", ["no-javac", "compile-fails",
                                  "cache-unwritable"])
def test_fallback_sets_no_fs_keys(case, fresh_jar_cache, monkeypatch,
                                  tmp_path, caplog):
    """Without a jar the helper returns None, logs one warning, and the
    session conf carries neither key: writes go through the stock
    filesystem."""
    if case == "no-javac":
        monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    elif case == "compile-fails":
        _fake_jdk(tmp_path / "jdk")
        monkeypatch.setenv("PATH", str(tmp_path / "jdk" / "bin"))
    else:
        if shutil.which("javac") is None:
            pytest.skip("no javac: the cache is never reached")
        (tmp_path / "file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        for _ in range(2):
            conf = session._extra_conf({"spark.driver.extraClassPath": "a"})
            assert "spark.hadoop.fs.file.impl" not in conf
            assert conf["spark.driver.extraClassPath"] == "a"
            assert session._extra_conf(None).keys().isdisjoint(FS_KEYS)
    assert len([r for r in caplog.records if r.name == session.__name__]) == 1
    assert not list(fresh_jar_cache.glob("*.jar"))


def test_caller_conf_is_kept(monkeypatch):
    """A caller's ``extraClassPath`` is kept with the jar appended, and a
    caller's ``fs.file.impl`` wins."""
    monkeypatch.setattr(session, "_local_fs_jar", lambda *a: "/c/fs.jar")
    monkeypatch.setattr(session, "_jvm_can_load", lambda jar: True)
    assert {k: session._extra_conf(None)[k] for k in FS_KEYS} == {
        "spark.hadoop.fs.file.impl": session.LOCAL_FS_CLASS,
        "spark.driver.extraClassPath": "/c/fs.jar"}
    conf = session._extra_conf({"spark.hadoop.fs.file.impl": "my.Fs",
                                "spark.driver.extraClassPath": "/u/a.jar"})
    assert conf["spark.hadoop.fs.file.impl"] == "my.Fs"
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(
        ["/u/a.jar", "/c/fs.jar"])
    # a JVM launched without the jar cannot load the class
    monkeypatch.setattr(session, "_jvm_can_load", lambda jar: False)
    assert session._extra_conf(None).keys().isdisjoint(FS_KEYS)


@requires_javac
def test_jar_is_built_once(fresh_jar_cache):
    """The first call compiles into the cache; a later process's call
    (the in-process memo cleared) reuses the jar without compiling."""
    jar = session._local_fs_jar(_spark_home(), str(fresh_jar_cache))
    assert jar is not None and Path(jar).parent == fresh_jar_cache
    with zipfile.ZipFile(jar) as zf:
        assert {"nrt_spark/jvm/PosixLocalFileSystem.class",
                "nrt_spark/jvm/PosixLocalFileSystem$Raw.class"} <= set(
                    zf.namelist())
    mtime = os.stat(jar).st_mtime_ns
    session._local_fs_jar.cache_clear()
    assert session._local_fs_jar(_spark_home(), str(fresh_jar_cache)) == jar
    assert os.stat(jar).st_mtime_ns == mtime
    assert [p.name for p in fresh_jar_cache.iterdir()] == [Path(jar).name]
