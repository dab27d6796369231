"""The session's Python worker daemon (``nrt_spark.pydaemon``): workers
import pyspark from the installed package, the path filter keeps
everything it cannot replace, and a UDF starts from any cwd."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from nrt_spark.pydaemon import _is_jvm_archive, filter_path

ROOT = Path(__file__).resolve().parent.parent


def _layout(tmp_path: Path, installed: str | None = "4.1.2",
            py4j: bool = True) -> dict:
    """Spark's worker path entries plus a user zip and jar, and an
    install directory holding pyspark ``installed`` (None: absent)."""
    lib, jars, user, site = (tmp_path / d for d in
                             ("lib", "jars", "user", "site"))
    for d in (lib, jars, user, site):
        d.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(user / "deps.zip", "w") as zf:
        zf.writestr("deps/__init__.py", "")
    (jars / "spark-core_2.13-4.1.2.jar").write_bytes(b"")
    (user / "graphframes.jar").write_bytes(b"")
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f"__version__: str = '{installed}'\n")
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return {"cwd": str(tmp_path), "pyspark": str(lib / "pyspark.zip"),
            "py4j": str(lib / "py4j-0.10.9.9-src.zip"),
            "jar": str(jars / "spark-core_2.13-4.1.2.jar"),
            "user_zip": str(user / "deps.zip"),
            "user_jar": str(user / "graphframes.jar"), "site": str(site)}


def _worker_path(p: dict) -> list:
    # the order Spark gives a daemon started as ``python -m``: cwd,
    # Spark's archives, then the PYTHONPATH entries, then site-packages
    return [p["cwd"], p["py4j"], p["pyspark"], p["jar"], p["user_zip"],
            p["user_jar"], p["site"]]


def test_filter_drops_jvm_archives_and_keeps_user_ones(tmp_path):
    p = _layout(tmp_path)
    path = _worker_path(p)
    assert filter_path(path) == [p["cwd"], p["user_zip"], p["user_jar"],
                                 p["site"]]


@pytest.mark.parametrize("kw", [dict(installed=None),
                                dict(installed="4.0.0"), dict(py4j=False)],
                         ids=["missing", "other-version", "no-py4j"])
def test_filter_keeps_path_without_matching_install(tmp_path, kw):
    p = _layout(tmp_path, **kw)
    path = _worker_path(p)
    assert filter_path(list(path)) == path


def test_filter_keeps_path_without_pyspark_zip(tmp_path):
    """Nothing to check the install against: the path stays as built."""
    p = _layout(tmp_path)
    path = [e for e in _worker_path(p) if e != p["pyspark"]]
    assert filter_path(list(path)) == path


def test_workers_import_installed_pyspark(spark):
    """Every task imports pyspark from the driver's (installed) package,
    and no worker caches an importer for a JVM-supplied archive."""
    import pyspark

    # defined here so that it is pickled by value: the workers cannot
    # import this test module
    def _worker_imports(batches):
        import importlib
        import sys as _sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        importlib.invalidate_caches()
        zips = sorted(k for k, v in _sys.path_importer_cache.items()
                      if isinstance(v, zipimport.zipimporter))
        yield pd.DataFrame({"pyspark_file": [pyspark.__file__],
                            "zipimporters": [zips]})

    rows = (spark.range(8, numPartitions=8)
            .mapInPandas(_worker_imports,
                         "pyspark_file string, zipimporters array<string>")
            .collect())
    assert len(rows) == 8
    for r in rows:
        assert r.pyspark_file == pyspark.__file__
        assert os.path.isfile(r.pyspark_file)      # not inside an archive
        assert not [k for k in r.zipimporters
                    for p in (k, *map(str, Path(k).parents))
                    if _is_jvm_archive(p)]


def test_udf_starts_outside_repo_cwd(tmp_path):
    """A driver that finds ``nrt_spark`` only through ``sys.path.insert``
    (as ``jobs/*.py`` do), run from a directory outside the repository
    with no PYTHONPATH, still runs a Python UDF on the session's
    daemon."""
    script = tmp_path / "driver.py"
    script.write_text(f"""
import json, sys
sys.path.insert(0, {str(ROOT)!r})
from nrt_spark.session import get_spark

def probe(batches):
    import pandas as pd
    import pyspark
    n = sum(len(b) for b in batches)
    yield pd.DataFrame({{"n": [n], "f": [pyspark.__file__]}})

spark = get_spark(cores=2, driver_memory="1g", shuffle_partitions=2)
rows = spark.range(10, numPartitions=2).mapInPandas(
    probe, "n long, f string").collect()
print(json.dumps({{
    "n": sum(r.n for r in rows), "files": sorted({{r.f for r in rows}}),
    "daemon": spark.sparkContext.getConf().get(
        "spark.python.daemon.module")}}))
spark.stop()
""")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["NRT_SESSION_WARMUP"] = "0"
    env["PYSPARK_PYTHON"] = sys.executable
    res = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    import pyspark

    assert out == {"n": 10, "files": [pyspark.__file__],
                   "daemon": "nrt_spark.pydaemon"}
