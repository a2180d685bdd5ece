#!/usr/bin/env python
"""Per-query isolation harness for the optimization round (guide §1.4).

NOT the frozen driver bench (bench.py is untouched): this file exists to
time individual SPARK_Q queries with the noop sink, capture
.explain("formatted") before/after plan files, and run more trials than
the suite can afford. Usage:

  python bench_extra.py near_dup_lsh minhash_signatures        # time only
  BENCH_PLANS=plans/r07 BENCH_TAG=before python bench_extra.py near_dup_lsh

Env:
  SPARK_GRAFT_SF_DIR  data dir  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[k]  (default 32)
  BENCH_TRIALS        trials per query (default 3, reports min+median)
  BENCH_PLANS         if set, write <plans>/<query>_<tag>.txt explain output
  BENCH_TAG           plan file suffix (default "plan")
  SPARK_DRIVER_MEM    driver JVM heap (default 24g, capped at physical memory)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from bench import default_driver_mem  # noqa: E402
from openocr_spark.queries import SPARK_Q  # noqa: E402
from openocr_spark.session import get_spark  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    trials = int(os.environ.get("BENCH_TRIALS", "3"))
    plans_dir = os.environ.get("BENCH_PLANS")
    tag = os.environ.get("BENCH_TAG", "plan")
    names = sys.argv[1:]
    if not names:
        print("usage: bench_extra.py <query> [query ...]", file=sys.stderr)
        sys.exit(2)

    os.environ.setdefault("SPARK_DRIVER_MEM", default_driver_mem())
    spark = get_spark(
        "openocr-spark-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: first job pays codegen/arrow/python-worker spin-up
    next(iter(SPARK_Q.values()))(spark, sf_dir).count()

    out: dict[str, dict] = {}
    for name in names:
        if name not in SPARK_Q:
            print(f"skip unknown {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if plans_dir:
            df = SPARK_Q[name](spark, sf_dir)
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        ts = []
        for _ in range(trials):
            spark._jvm.System.gc()
            time.sleep(0.5)
            # build INSIDE the timed region, exactly like bench.py's
            # generic branch (some builders count()/localCheckpoint —
            # reusing one DataFrame across trials would let checkpointed
            # lineage leak across trials and under-report)
            t0 = time.monotonic()
            force(SPARK_Q[name](spark, sf_dir))
            ts.append(round(time.monotonic() - t0, 3))
        out[name] = {"min": min(ts), "median": statistics.median(ts), "all": ts}
        print(f"{name}: min={min(ts)} median={statistics.median(ts)} {ts}",
              file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
