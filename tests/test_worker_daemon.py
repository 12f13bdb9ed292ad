"""The worker daemon that ``get_spark`` wires into local sessions: zip
archives are re-read only when their stat changes, late ``addPyFile`` zips
still import, the daemon starts from any cwd, and only ``local*`` masters
get it."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from geojson_spark import _daemon
from geojson_spark.session import _session_conf

DAEMON_KEYS = ("spark.python.daemon.module", "spark.executorEnv.PYTHONPATH")


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _count_rereads(monkeypatch) -> list:
    calls = []
    reread = _daemon._reread

    def counting(self):
        calls.append(self.archive)
        reread(self)

    monkeypatch.setattr(_daemon, "_reread", counting)
    return calls


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    zp = tmp_path / "a.zip"
    _write_zip(zp, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(zp))
    calls = _count_rereads(monkeypatch)
    for _ in range(3):
        _daemon.invalidate_caches(imp)
    assert calls == [str(zp)]  # only the importer's first invalidation reads
    assert _load(imp, "mod_a").X == 1


def test_zip_rewritten_in_place_is_reread(tmp_path, monkeypatch):
    zp = tmp_path / "a.zip"
    _write_zip(zp, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(zp))
    calls = _count_rereads(monkeypatch)
    _daemon.invalidate_caches(imp)
    ino = os.stat(zp).st_ino
    _write_zip(zp, {"mod_a.py": "X = 1\n", "mod_b.py": "Y = 2\n"})
    assert os.stat(zp).st_ino == ino
    _daemon.invalidate_caches(imp)
    assert len(calls) == 2
    assert _load(imp, "mod_b").Y == 2


def test_zip_replaced_with_same_size_and_mtime_is_reread(tmp_path, monkeypatch):
    """Only the inode tells this replacement apart."""
    zp, new = tmp_path / "a.zip", tmp_path / "new.zip"
    _write_zip(zp, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(zp))
    calls = _count_rereads(monkeypatch)
    _daemon.invalidate_caches(imp)
    _write_zip(new, {"mod_a.py": "X = 2\n"})
    old = os.stat(zp)
    os.utime(new, ns=(old.st_atime_ns, old.st_mtime_ns))
    os.replace(new, zp)
    st = os.stat(zp)
    assert (st.st_size, st.st_mtime_ns) == (old.st_size, old.st_mtime_ns)
    assert st.st_ino != old.st_ino
    _daemon.invalidate_caches(imp)
    assert len(calls) == 2
    assert _load(imp, "mod_a").X == 2


def test_daemon_imports_only_os_zipimport_and_pyspark_daemon():
    tree = ast.parse(open(_daemon.__file__, encoding="utf-8").read())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            imported |= {f"{node.module}.{a.name}" for a in node.names}
    assert imported == {"os", "zipimport", "pyspark.daemon"}


def test_daemon_conf_only_for_local_masters():
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        conf = _session_conf(master, 8, None)
        assert conf["spark.python.daemon.module"] == "geojson_spark._daemon"
        root = conf["spark.executorEnv.PYTHONPATH"]
        assert os.path.isfile(os.path.join(root, "geojson_spark", "_daemon.py"))
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443",
                   "mesos://host:5050"):
        conf = _session_conf(master, 8, None)
        assert not any(k in conf for k in DAEMON_KEYS), master
    override = {"spark.python.daemon.module": "pyspark.daemon",
                "spark.executorEnv.PYTHONPATH": "elsewhere"}
    assert {k: _session_conf("local[2]", 8, override)[k] for k in DAEMON_KEYS} == override


def test_add_py_file_after_first_task_imports(spark, tmp_path):
    """A zip shipped after the workers are up (and have skipped re-reads of
    their own archives) is a new path entry that the next task imports."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "geojson_spark._daemon"
    )

    @F.pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        f = zipimport.zipimporter.invalidate_caches
        return pd.Series([f.__code__.co_filename] * len(x))

    files = {r.f for r in spark.range(8).select(probe("id").alias("f")).collect()}
    assert files == {_daemon.__file__}

    name = f"late_mod_{uuid.uuid4().hex[:8]}"
    zp = tmp_path / f"{name}.zip"
    _write_zip(zp, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(zp))

    @F.pandas_udf("long")
    def late(x: pd.Series) -> pd.Series:
        return x * 0 + importlib.import_module(name).VALUE

    assert {r.v for r in spark.range(8).select(late("id").alias("v")).collect()} == {42}


CWD_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import functions as F
from geojson_spark.session import get_spark

spark = get_spark(master="local[1]", app_name="daemon-cwd", shuffle_partitions=1,
                  extra_conf={"spark.driver.memory": "1g"})

@F.pandas_udf("string")
def probe(x: pd.Series) -> pd.Series:
    import zipimport
    f = zipimport.zipimporter.invalidate_caches
    return pd.Series([f.__code__.co_filename] * len(x))

print("DAEMON_FILE", spark.range(3).select(probe("id").alias("f")).first().f)
spark.stop()
"""


def test_get_spark_daemon_starts_from_any_cwd(tmp_path):
    """The JVM launches ``python -m geojson_spark._daemon`` in the driver's
    cwd; a cwd without the package must still find it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(_daemon.__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", CWD_SCRIPT, repo],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("DAEMON_FILE ")]
    assert lines == [f"DAEMON_FILE {_daemon.__file__}"]
