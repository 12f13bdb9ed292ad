"""SparkSession helpers: engine defaults + --py-files-style self-shipping.

The engine is packaged for ``spark-submit --py-files geojson_spark.zip``
(north rule). When launched any other way (notebook, driver harness, REPL),
``attach_package`` re-creates that contract at runtime: it zips the package
and ships it to executors via ``addPyFile`` so pandas-UDF workers can import
``geojson_spark`` regardless of the driver's cwd.

``get_spark`` with a ``local*`` master also runs the Python workers under
``geojson_spark._daemon`` (see there). Sessions built any other way keep
PySpark's stock worker daemon.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_ATTACHED: set[str] = set()


def attach_package(spark: SparkSession) -> None:
    """Ship this package to executors (idempotent per SparkContext).

    Also pins ``spark.sql.session.timeZone`` to UTC (runtime-settable,
    per-session, so this covers externally-created sessions too): NTZ→TZ
    casts and ``F.window`` bucketing otherwise follow the HOST timezone,
    which would shear hour windows by the host's UTC offset and break
    engine↔oracle parity on any non-UTC machine."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sc = spark.sparkContext
    # applicationId, NOT id(sc): CPython recycles freed addresses, so a
    # fresh context created after an old one is GC'd can collide with a
    # stale id() entry and silently skip the addPyFile — every pandas-UDF
    # task on the new context would then die with ModuleNotFoundError
    key = sc.applicationId
    if key in _ATTACHED:
        return
    import geojson_spark

    pkg_dir = os.path.dirname(os.path.abspath(geojson_spark.__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"geojson_spark_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("geojson_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    _ATTACHED.add(key)


def _session_conf(
    master: str, shuffle_partitions: int, extra_conf: dict | None
) -> dict:
    """The conf ``get_spark`` builds its session from."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    if master.startswith("local"):
        # a local master forks its Python workers on this filesystem, so
        # they can run geojson_spark._daemon straight from this checkout
        conf["spark.python.daemon.module"] = "geojson_spark._daemon"
        conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
    conf.update(extra_conf or {})
    return conf


def get_spark(
    master: str | None = None,
    app_name: str = "geojson-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Engine-default session: AQE + skew join + Arrow on, sane batch size.

    With a ``local*`` master the Python workers run under
    ``geojson_spark._daemon``, which skips PySpark's per-task re-read of
    unchanged zip/jar archives on the worker path (hundreds of ms per task
    on Python 3.11). Other masters, and sessions built outside this function,
    use the stock PySpark daemon. Keys in ``extra_conf`` override every
    default, including the daemon's."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in _session_conf(master, shuffle_partitions or int(cpus), extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    attach_package(spark)
    return spark
