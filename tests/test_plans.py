"""Physical-plan assertions: pushdown reaches the scan, column pruning
holds, small dims broadcast, and the extraction pipeline carries exactly
its structural shuffle budget (SURVEY §4)."""

from pyspark.sql import functions as F

from openocr_spark import plans
from openocr_spark.fixtures import documents_df
from openocr_spark.operators.extract import extract
from openocr_spark.queries import SPARK_Q

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_scan(spark):
    df = SPARK_Q["filter_project"](spark, SF)
    pf = plans.pushed_filters(df)
    assert "o_totalprice" in pf and "o_orderstatus" in pf


def test_column_pruning(spark):
    df = SPARK_Q["filter_project"](spark, SF)
    cols = plans.read_schema_columns(df)
    assert set(cols) == {"o_orderkey", "o_custkey", "o_orderpriority",
                         "o_totalprice", "o_orderstatus"}


def test_dim_join_broadcasts(spark):
    assert plans.uses_broadcast_join(SPARK_Q["broadcast_dim_join"](spark, SF))


def test_small_side_autobroadcasts_in_join_agg(spark):
    # AQE/broadcast threshold should pick broadcast for customer at sf0.01
    df = SPARK_Q["join_agg"](spark, SF)
    assert plans.uses_broadcast_join(df) or "SortMergeJoin" in plans.physical_plan(df)


def test_extract_shuffle_budget(spark):
    """The pipeline's structural shuffles: 1 salted media repartition +
    1 assembly groupBy (+1 union-side agg partial counts as part of the
    same exchange pair). No hidden extras like a join back to input.
    Both payload modes run the one mapInArrow kernel."""
    from openocr_spark.fixtures import media_payloads_df

    docs = documents_df(spark, 50)
    for out in (extract(docs), extract(docs, media_payloads_df(spark, docs))):
        plan = plans.physical_plan(out)
        assert plans.count_exchanges(out) <= 3, plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # the fixture generators plan as MapInPandas `gen`; the
        # extraction kernel is the node named `kernel`
        assert "MapInArrow kernel(" in plan, plan
        assert "MapInPandas kernel(" not in plan, plan


def test_cosine_topk_is_distributed_takeordered(spark):
    """The brute-force top-k must plan as TakeOrderedAndProject (per-
    partition local top-k, driver merge) — NOT a global row_number
    window, which shuffles every scored row to one partition
    (VERDICT r1 finding 1)."""
    df = SPARK_Q["cosine_topk"](spark, SF)
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_ann_ivf_is_distributed_takeordered(spark):
    df = SPARK_Q["ann_ivf"](spark, SF)
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_ann_ivf_trained_is_distributed_takeordered(spark):
    df = SPARK_Q["ann_ivf_trained"](spark, SF)
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_extract_spans_scan_prunes_columns(spark):
    """The flagship over the driver table must only read doc_id+text."""
    from openocr_spark.operators.ingest import interleave

    docs = interleave(spark.read.parquet(f"{SF}/documents.parquet"))
    cols = plans.read_schema_columns(docs)
    assert set(cols) == {"doc_id", "text"}


def test_scan_metrics_unwrap_adaptive_plans(spark):
    """AdaptiveSparkPlanExec is itself a LeafExecNode: without
    unwrapping, any AQE-planned query (anything with an exchange —
    i.e. every real pruning candidate) reports ZERO scans and a
    pruning assert goes vacuous."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(f"{SF}/orders.parquet")
    agg = df.groupBy("o_orderstatus").agg(F.sum("o_totalprice").alias("s"))
    agg.collect()
    m = plans.executed_scan_metrics(agg)
    assert m and any("numFiles" in d for d in m), m
