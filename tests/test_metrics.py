"""Metric tests: hand-built det cases with known precision/recall, rec
metric formula checks, and an end-to-end det eval on the fixture corpus
cross-checked against an independent per-media python recompute."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openocr_spark.operators.metrics import (
    det_metric,
    det_partials,
    extract_detail,
    gt_regions,
    rec_metric,
    rec_metric_by_length,
)

PRED_SCHEMA = "media_ref string, points array<array<int>>"
GT_SCHEMA = "media_ref string, points array<array<int>>, ignore boolean"


def _quad(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]


def test_det_metric_hand_case(spark):
    pred = spark.createDataFrame(
        [
            ("m1", _quad(0, 0, 10, 10)),      # matches gt A
            ("m1", _quad(21, 21, 29, 29)),    # inside don't-care B -> excluded
            ("m1", _quad(50, 50, 60, 60)),    # false positive
        ],
        schema=PRED_SCHEMA,
    )
    gt = spark.createDataFrame(
        [
            ("m1", _quad(0, 0, 10, 10), False),
            ("m1", _quad(20, 20, 30, 30), True),  # don't-care
        ],
        schema=GT_SCHEMA,
    )
    parts = det_partials(pred, gt).collect()[0]
    assert (parts["n_gt_care"], parts["n_det_care"], parts["n_matched"]) == (1, 2, 1)
    m = det_metric(pred, gt).collect()[0]
    assert m["precision"] == 0.5
    assert m["recall"] == 1.0
    assert m["hmean"] == pytest.approx(2 / 3, abs=1e-6)


def test_det_metric_unmatched_media(spark):
    # media with only preds (all false positives) and media with only gts
    pred = spark.createDataFrame([("m2", _quad(0, 0, 5, 5))], schema=PRED_SCHEMA)
    gt = spark.createDataFrame([("m3", _quad(0, 0, 5, 5), False)], schema=GT_SCHEMA)
    m = det_metric(pred, gt).collect()[0]
    assert m["precision"] == 0.0 and m["recall"] == 0.0 and m["hmean"] == 0.0


def test_rec_metric_formulas(spark):
    pairs = spark.createDataFrame(
        [("abc", "abc"), ("ab", "abc")], ["pred", "gt"]
    )
    m = rec_metric(pairs).collect()[0]
    assert m["all_num"] == 2 and m["correct_num"] == 1
    # reference-exact eps=1e-5 denominator (rec_metric.py:47,95-97):
    # acc = 1/(2+1e-5), 1-NED = 1 - (1/3)/(2+1e-5)
    assert m["acc"] == 0.499998
    assert m["one_minus_ned"] == pytest.approx(0.833334, abs=1e-6)
    hist = {r["gt_len"]: r for r in rec_metric_by_length(pairs).collect()}
    assert hist[3]["n"] == 2 and hist[3]["acc"] == 0.5


@pytest.fixture(scope="module")
def fixture_refs(spark):
    refs = [(f"media://doc-{i:08d}/{j}",) for i in range(20) for j in range(2)]
    return spark.createDataFrame(refs, ["media_ref"])


def test_fixture_det_eval_matches_independent_recompute(spark, fixture_refs):
    """E2E: detail extraction + GT from payloads through the Spark metric
    vs a pure-python recompute using the oracle's flood-fill detector."""
    pred = extract_detail(fixture_refs).select("media_ref", "points")
    gt = gt_regions(fixture_refs).select("media_ref", "points", "ignore")
    got = det_metric(pred, gt).collect()[0]

    # independent recompute
    from openocr_spark.config import DEFAULT_CONFIG as cfg
    from openocr_spark.fixtures import payload_for_media_ref
    from openocr_spark.oracle import _flood_components

    tot_gt = tot_det = tot_m = 0
    for (ref,) in [(r["media_ref"],) for r in fixture_refs.collect()]:
        p = payload_for_media_ref(ref)
        h, w = p["score_map"].shape
        dets = []
        for r0, r1, c0, c1 in _flood_components(p["score_map"] > cfg.binarize_thresh):
            bw, bh = c1 - c0 + 1, r1 - r0 + 1
            if min(bw, bh) < cfg.min_size:
                continue
            if float(p["score_map"][r0:r1 + 1, c0:c1 + 1].mean()) < cfg.box_thresh:
                continue
            d = int(round(bw * bh * cfg.unclip_ratio / (2.0 * (bw + bh))))
            rect = [max(c0 - d, 0), max(r0 - d, 0), min(c1 + d, w - 1), min(r1 + d, h - 1)]
            if min(rect[2] - rect[0] + 1, rect[3] - rect[1] + 1) >= cfg.min_size + 2:
                dets.append(np.array(rect, dtype=float))
        care, dc = [], []
        for reg in p["regions"]:
            pts = np.array(reg["points"], dtype=float)
            rect = np.array([pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()])
            (dc if reg["ignore"] else care).append(rect)
        det_care = []
        for pr in dets:
            area = max((pr[2] - pr[0]) * (pr[3] - pr[1]), 1e-9)
            if not any(
                max(0, min(pr[2], x[2]) - max(pr[0], x[0]))
                * max(0, min(pr[3], x[3]) - max(pr[1], x[1]))
                / area
                > 0.5
                for x in dc
            ):
                det_care.append(pr)
        used = set()
        m = 0
        for g in care:
            for i, d in enumerate(det_care):
                if i in used:
                    continue
                ix = max(0, min(g[2], d[2]) - max(g[0], d[0]))
                iy = max(0, min(g[3], d[3]) - max(g[1], d[1]))
                inter = ix * iy
                u = (g[2] - g[0]) * (g[3] - g[1]) + (d[2] - d[0]) * (d[3] - d[1]) - inter
                if u > 0 and inter / u > 0.5:
                    used.add(i)
                    m += 1
                    break
        tot_gt += len(care)
        tot_det += len(det_care)
        tot_m += m

    assert got["precision"] == pytest.approx(tot_m / tot_det, abs=1e-6)
    assert got["recall"] == pytest.approx(tot_m / tot_gt, abs=1e-6)
    # fixture has weak-paint regions -> recall must be < 1 but high
    assert 0.5 < got["recall"] < 1.0


def test_fixture_rec_eval(spark, fixture_refs):
    """Recognition accuracy on the fixture: every confidently-decoded
    region must decode its assigned GT text exactly (logits are
    constructed to), so RecMetric acc == 1.0 and 1-NED == 1.0."""
    detail = extract_detail(fixture_refs)
    pairs = detail.filter(
        (F.col("rec_score") >= 0.5) & F.col("gt_text").isNotNull()
    ).select(F.col("transcription").alias("pred"), F.col("gt_text").alias("gt"))
    m = rec_metric(pairs).collect()[0]
    assert m["all_num"] > 0
    assert m["acc"] == 1.0
    assert m["one_minus_ned"] == 1.0


def test_extract_detail_decodes_with_configured_rec_head(spark, fixture_refs):
    """extract_detail honours cfg.rec_head: under "nrtr" every
    transcription is the nrtr decode of the logits of the region its box
    is assigned to (the region whose centre the box contains)."""
    from openocr_spark.config import ExtractConfig
    from openocr_spark.fixtures import payload_for_media_ref
    from openocr_spark.kernels.detection import assign_regions_to_boxes
    from openocr_spark.operators.extract import _decode_fn

    nrtr = _decode_fn("nrtr")
    rows = extract_detail(fixture_refs, ExtractConfig(rec_head="nrtr")).collect()
    n_assigned = 0
    for r in rows:
        regions = payload_for_media_ref(r["media_ref"])["regions"]
        (ridx,) = assign_regions_to_boxes(
            [np.array(r["points"])], [g["points"] for g in regions]
        )
        if ridx < 0:
            assert r["transcription"] == "" and r["gt_text"] is None
            continue
        n_assigned += 1
        logits = regions[ridx]["logits"]
        (want,), _ = nrtr(logits, np.array([0, len(logits)]))
        assert r["transcription"] == want, (r["media_ref"], r["region_idx"])
        assert r["gt_text"] == regions[ridx]["gt_text"]
    assert n_assigned > 0


def test_det_matching_deterministic_under_gt_shuffle(spark):
    """ADVICE r2: greedy matching must not depend on collect_list
    order. Two GTs both overlap one detection at IoU>0.5 (multiplicity
    2): with gt_idx carried, the matcher must pick the SAME gt
    regardless of the input row order."""
    from openocr_spark.operators.metrics import det_metric, det_partials

    pred_rows = [("m1", [[0, 0], [100, 0], [100, 20], [0, 20]])]
    gt_a = ("m1", 0, [[0, 0], [100, 0], [100, 18], [0, 18]], False)
    gt_b = ("m1", 1, [[0, 2], [100, 2], [100, 20], [0, 20]], False)
    pred_schema = "media_ref string, points array<array<int>>"
    gt_schema = (
        "media_ref string, gt_idx int, points array<array<int>>, "
        "ignore boolean"
    )
    pred = spark.createDataFrame(pred_rows, pred_schema)
    for order in ([gt_a, gt_b], [gt_b, gt_a]):
        gt = spark.createDataFrame(order, gt_schema)
        parts = det_partials(pred, gt).collect()
        assert len(parts) == 1
        r = parts[0]
        assert (r.n_gt_care, r.n_det_care, r.n_matched) == (2, 1, 1)
        m = det_metric(pred, gt).collect()[0]
        assert m.recall == 0.5 and m.precision == 1.0


def test_det_matching_content_key_fallback_without_gt_idx(spark):
    """Without a gt_idx column the matcher sorts GTs by a content key —
    still deterministic across input orders."""
    from openocr_spark.operators.metrics import det_partials

    pred_rows = [("m1", [[0, 0], [100, 0], [100, 20], [0, 20]])]
    gt_a = ("m1", [[0, 0], [100, 0], [100, 18], [0, 18]], False)
    gt_b = ("m1", [[0, 2], [100, 2], [100, 20], [0, 20]], False)
    pred_schema = "media_ref string, points array<array<int>>"
    gt_schema = "media_ref string, points array<array<int>>, ignore boolean"
    pred = spark.createDataFrame(pred_rows, pred_schema)
    results = []
    for order in ([gt_a, gt_b], [gt_b, gt_a]):
        gt = spark.createDataFrame(order, gt_schema)
        r = det_partials(pred, gt).collect()[0]
        results.append((r.n_gt_care, r.n_det_care, r.n_matched))
    assert results[0] == results[1] == (2, 1, 1)
