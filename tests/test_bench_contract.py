"""bench.py's output contract: a small run of the headline suite exits 0,
prints the JSON keys its trajectory files carry for the selected legs,
and writes one formatted plan per query when BENCH_PLANS is set."""

import json
import os
import subprocess
import sys

from openocr_spark.fixture_oracle import CORRECTNESS_SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["pruned_agg", "extract_fixture", "extract_joined", "decode_real_media"]
KEYS = {
    "metric", "value", "unit", "queries", "sf", "cpus",
    "fixture_docs", "fixture_spans", "docs_per_sec", "spans_per_sec",
    "docs_per_sec_joined",
    "realmedia_rows", "realmedia_pages", "realmedia_mix",
    "media_per_sec", "pages_per_sec",
    "extract_joined_insuite", "extract_joined_settled_min",
}


def test_bench_keys_and_plans(tmp_path):
    plans = tmp_path / "plans"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=os.path.join(os.path.dirname(CORRECTNESS_SF_DIR), "sf0.001"),
        BENCH_ONLY=",".join(QUERIES),
        BENCH_FIXTURE_DOCS="200",
        BENCH_REALMEDIA_ROWS="20",
        BENCH_REPEAT="1",
        SPARK_DRIVER_MEM="2g",
        TMPDIR=str(tmp_path),
        BENCH_PLANS=str(plans),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == KEYS
    assert set(result["queries"]) == set(QUERIES)
    assert sorted(os.listdir(plans)) == sorted(f"{q}.txt" for q in QUERIES)
    assert all((plans / f"{q}.txt").read_text().startswith("== Physical Plan ==")
               for q in QUERIES)
