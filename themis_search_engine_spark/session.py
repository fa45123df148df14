"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "themis-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Defaults chosen for the engine's workload shape:
    - AQE on: runtime coalescing of the term-keyed shuffle + skew-join
      handling on top of our explicit chunking (SURVEY.md §4).
    - Arrow on with a bounded batch size: every hot UDF is pandas/Arrow.
    - shuffle partitions sized to cores locally; on a real cluster callers
      pass ~2-3x total cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(cpus, 8)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def scratch_dir(prefix: str) -> str:
    """A fresh temporary directory removed when the interpreter exits.

    For process-lifetime caches (the registry's per-corpus serving
    indexes and artifacts): they must outlive any one call but not the
    process, or long soak runs fill the temp filesystem."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the --py-files mechanism).

    Executor Python workers don't inherit the driver's sys.path; without
    this, any mapInPandas/pandas UDF that closes over package functions
    raises ModuleNotFoundError on a real cluster (and in local mode when
    the driver script runs outside the repo). Idempotent per session.
    """
    import zipfile

    if spark.conf.get("themis.pyfiles.shipped", None) == "1":
        return
    # already launched with spark-submit --py-files <pkg>.zip? addPyFile of
    # a same-named zip would fail ("registered with different contents")
    submitted = spark.conf.get("spark.submit.pyFiles", "") or ""
    if "themis_search_engine_spark.zip" in submitted:
        spark.conf.set("themis.pyfiles.shipped", "1")
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        spark.sparkContext._temp_dir, "themis_search_engine_spark.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "themis_search_engine_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    spark.conf.set("themis.pyfiles.shipped", "1")
