"""Tuned SparkSession builder.

Defaults chosen for the 100 TB design point, scaled down to local[k]:
AQE on (runtime coalesce + skew-join splitting), Arrow on for pandas
UDF kernels with a bounded batch size so kernel memory is predictable
(SURVEY.md §4 O4/O11).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the openocr_spark package for --py-files shipment. Used both
    by get_spark (sc.addPyFile → workers get the module even when the
    driver runs outside the repo) and by spark-submit deployments."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "openocr_spark_pyfiles.zip")
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "openocr_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    shutil.move(tmp, out)
    return out


def get_spark(
    app_name: str = "openocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
            os.path.join(os.environ.get("TMPDIR", "/tmp"), "openocr_warehouse"),
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
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # ship the package to Python workers (the --py-files mechanism), so
    # kernels deserialize regardless of the driver's cwd/sys.path
    spark.sparkContext.addPyFile(package_zip())
    return spark
