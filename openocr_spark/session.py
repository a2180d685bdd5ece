"""Tuned SparkSession builder.

Defaults chosen for the 100 TB design point, scaled down to local[k]:
AQE on (runtime coalesce + skew-join splitting), Arrow on for pandas
UDF kernels with a bounded batch size so kernel memory is predictable
(SURVEY.md §4 O4/O11). Without `master`, the session runs
local[$SPARK_GRAFT_CPUS], default the cores this process may use.

The package ships to Python workers as a zip (`package_zip`,
`addPyFile`). When the package is a directory on disk, the workers also
run under `worker_daemon`, which stops each task from re-reading every
zip on the worker's `sys.path`; a driver that imports the package from
a zip (the spark-submit `--py-files` deploy) keeps Spark's own daemon,
since the daemon starts before any zip is shipped.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def package_zip() -> str:
    """Zip the openocr_spark package for --py-files shipment. Used both
    by get_spark (sc.addPyFile → workers get the module even when the
    driver runs outside the repo) and by spark-submit deployments."""
    out = os.path.join(tempfile.gettempdir(), "openocr_spark_pyfiles.zip")
    # a private temp file per call: concurrent sessions sharing the temp
    # dir never write into one file, and each zip gets a new inode
    fd, tmp = tempfile.mkstemp(suffix=".tmp", dir=os.path.dirname(out))
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(
            f, "w", zipfile.ZIP_DEFLATED
        ) as zf:
            for root, _dirs, files in os.walk(_PKG_DIR):
                if "__pycache__" in root:
                    continue
                for name in files:
                    if name.endswith(".py"):
                        full = os.path.join(root, name)
                        rel = os.path.join(
                            "openocr_spark", os.path.relpath(full, _PKG_DIR)
                        )
                        zf.write(full, rel)
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return out


def get_spark(
    app_name: str = "openocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # saveAsTable targets (bucketed-join tests / local catalogs) go
        # to tmp, never the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "openocr_warehouse"),
        )
        # kernel batch size: the batch extraction kernel processes a whole
        # Arrow batch at once, so its working set (mask stack, logits
        # block) scales with this value
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # payload tables carry ~60KB binary cells; the default 4096-row
        # columnar reader batch would reserve ~250MB per scan task
        # (4096 x cell) and OOM — 512 keeps scan batches ~30MB while
        # costing nothing measurable on narrow tables
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    # the daemon module must be importable from disk when the JVM starts
    # it, before addPyFile below ships the zip
    if os.path.isfile(os.path.join(_PKG_DIR, "worker_daemon.py")):
        conf["spark.python.daemon.module"] = "openocr_spark.worker_daemon"
        paths = [conf.get("spark.executorEnv.PYTHONPATH"), os.path.dirname(_PKG_DIR)]
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, paths))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # ship the package to Python workers (the --py-files mechanism), so
    # kernels deserialize regardless of the driver's cwd/sys.path
    spark.sparkContext.addPyFile(package_zip())
    return spark
