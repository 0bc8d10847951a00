"""SparkSession factory tuned for the local[N] test harness.

At 100 TB the same code runs unchanged on a cluster: the only knobs set here
that matter at scale (AQE, shuffle partitions, UTC session timezone, Arrow)
are cluster-appropriate defaults, not local hacks.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def default_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "phsqis-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    ``spark.sql.shuffle.partitions`` is the core count — the
    published guidance for local mode (the 200 default over-parallelizes
    small local data and under-parallelizes huge data; on a real cluster
    AQE coalescing makes the initial number less critical).
    """
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


_SHIPPED_ATTR = "_phsqis_pkg_shipped"


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    cloudpickle serializes module-level functions by reference (module name +
    qualname), so every operator that ships Python to workers — the hybrid
    demo's ``mapInArrow`` kernel, ``applyInPandasWithState``, the GEMM
    ``applyInPandas`` blocks — needs the package on the workers' import path.
    That happens for free when the driver process is launched from the repo
    directory, but not when a harness runs from another cwd — and never on a
    real cluster, where the package must ship with the job. This is the local
    analogue of ``spark-submit --py-files pkg.zip``: zip the package once per
    driver process and ``addPyFile`` it, which distributes the archive and
    prepends it to each worker's ``sys.path``. The zip is removed when the
    driver's interpreter exits.
    """
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    pkg_dir = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / f"phsqis_pkg_{os.getpid()}.zip"
    tmp = zpath.with_name(zpath.name + ".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            zf.write(p, arcname=f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
    tmp.replace(zpath)
    atexit.register(zpath.unlink, missing_ok=True)
    sc.addPyFile(str(zpath))
    setattr(sc, _SHIPPED_ATTR, True)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally provided session.

    The driver hands ``entry(spark)`` / ``queries()[name](spark, sf_dir)`` a
    session we did not build; pin the settings that affect result comparison
    (UTC timestamps for the DuckDB oracle) and plan quality (AQE).
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ship_package(spark)
    return spark
