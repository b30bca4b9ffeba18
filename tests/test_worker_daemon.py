"""Python workers run under ``worker_daemon``: Spark's archives come off the
worker's ``sys.path`` only when the installed pyspark can stand in for them,
and ``get_spark`` selects the daemon only where a worker can import it."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile
from types import SimpleNamespace

import pandas as pd
import pyspark
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spanner_data_validator_spark import session
from spanner_data_validator_spark.worker_daemon import without_spark_archives

DAEMON_KEY = "spark.python.daemon.module"


def _zip(path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)
    return str(path)


def _package(root, name: str, files: dict[str, str]) -> None:
    (root / name).mkdir(parents=True, exist_ok=True)
    for f, body in {"__init__.py": "", **files}.items():
        (root / name / f).write_text(body)


def _fake_path(tmp_path, installed_version: str = "4.1.2") -> list[str]:
    lib = tmp_path / "spark" / "python" / "lib"
    version = "__version__: str = '4.1.2'\n"
    site_dir = tmp_path / "site-packages"
    _package(site_dir, "pyspark", {"version.py": f"__version__: str = '{installed_version}'\n"})
    _package(site_dir, "py4j", {})
    return [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": version}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {"x.py": ""}),
        _zip(tmp_path / "user" / "deps.zip", {"deps/__init__.py": ""}),
        str(site_dir),
    ]


def test_filter_drops_only_spark_archives(tmp_path):
    path = _fake_path(tmp_path)
    assert without_spark_archives(path) == path[3:]  # deps.zip and site-packages


def test_filter_keeps_path_without_installed_pyspark(tmp_path):
    path = _fake_path(tmp_path)
    no_site = path[:4]
    assert without_spark_archives(no_site) == no_site
    shutil.rmtree(tmp_path / "site-packages" / "py4j")
    assert without_spark_archives(path) == path


def test_filter_keeps_path_when_versions_differ(tmp_path):
    path = _fake_path(tmp_path, installed_version="4.0.0")
    assert without_spark_archives(path) == path


def test_workers_import_installed_pyspark_without_zipimporters(spark):
    @F.pandas_udf(T.StringType())
    def where_from(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        n = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        return s.map(lambda _: f"{pyspark.__file__}|{n}")

    rows = spark.range(2, numPartitions=2).select(where_from(F.col("id").cast("string")).alias("w"))
    assert {r.w for r in rows.collect()} == {f"{pyspark.__file__}|0"}


def _conf_of_get_spark(monkeypatch, master: str) -> dict:
    conf = {}

    class Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            conf[k] = v
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    session.get_spark(master=master)
    return conf


def test_get_spark_sets_daemon_only_where_workers_import_package(monkeypatch, tmp_path):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(session.PACKAGE_ROOT)
    conf = _conf_of_get_spark(monkeypatch, "local[2]")
    assert conf[DAEMON_KEY] == "spanner_data_validator_spark.worker_daemon"
    assert DAEMON_KEY not in _conf_of_get_spark(monkeypatch, "spark://host:7077")

    monkeypatch.chdir(tmp_path)  # reached through a runtime sys.path insert only
    assert DAEMON_KEY not in _conf_of_get_spark(monkeypatch, "local[2]")

    archive = _zip(tmp_path / "sdv.zip", {"spanner_data_validator_spark/__init__.py": ""})
    monkeypatch.setenv("PYTHONPATH", archive)
    monkeypatch.setattr(session, "PACKAGE_ROOT", archive)
    assert DAEMON_KEY not in _conf_of_get_spark(monkeypatch, "local[2]")


def test_package_import_leaves_pyspark_unimported():
    code = ("import sys, spanner_data_validator_spark\n"
            "assert 'pyspark' not in sys.modules, 'package import pulled in pyspark'\n"
            "from spanner_data_validator_spark import get_spark\n"
            "print(get_spark.__module__)\n")
    root = session.PACKAGE_ROOT
    env = {**os.environ, "PYTHONPATH": root}
    out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "spanner_data_validator_spark.session"
