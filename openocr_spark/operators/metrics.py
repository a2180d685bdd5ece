"""Evaluation metrics as Spark dataflows.

DetMetric (SURVEY §2.4 A4, §2.3 J2/J3): ICDAR IoU>0.5 protocol —
per-image greedy 1:1 matching of predicted vs GT boxes with don't-care
exclusion (opendet/metrics/eval_det_iou.py:16-185, det_metric.py:24-74),
expressed as: grouped pandas UDF per media for the greedy N×M matching,
then textbook partial→final aggregation for precision/recall/hmean.

RecMetric (A5/A6): exact-match accuracy + 1−normalized edit distance
(rec_metric.py:71-183) as pure SQL aggregations, plus per-length bucket
histograms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openocr_spark import schemas
from openocr_spark.config import DEFAULT_CONFIG, ExtractConfig
from openocr_spark.functions.exprs import normalized_levenshtein


from openocr_spark.kernels.geometry import (  # noqa: E402
    polygon_area,
    polygon_intersection_area,
    polygon_iou,
)


def _axis_rect(q: np.ndarray) -> tuple | None:
    """(x0, y0, x1, y1) when the 4-point quad is an axis-aligned rect in
    the canonical corner order, else None — the fast path for the
    common case (detection emits axis-aligned boxes)."""
    if len(q) != 4:
        return None
    (x0, y0), (x1, y1b), (x2, y2), (x3, y3) = q
    if y0 == y1b and x1 == x2 and y2 == y3 and x3 == x0 and x0 < x1 and y0 < y2:
        return (x0, y0, x1, y2)
    return None


def _iou(a: np.ndarray, b: np.ndarray) -> float:
    """Exact convex-polygon IoU (eval_det_iou.py:18-25 semantics).
    Axis-aligned quad pairs — the overwhelmingly common case — take the
    6-op rect formula; anything else goes through the clipping kernel
    (kernels/geometry.py), which reduces to the same values on rects,
    so the rect-math SQL oracle stays valid while rotated quads are
    scored exactly."""
    ra, rb = _axis_rect(a), _axis_rect(b)
    if ra is not None and rb is not None:
        ix = max(0.0, min(ra[2], rb[2]) - max(ra[0], rb[0]))
        iy = max(0.0, min(ra[3], rb[3]) - max(ra[1], rb[1]))
        inter = ix * iy
        ua = (
            (ra[2] - ra[0]) * (ra[3] - ra[1])
            + (rb[2] - rb[0]) * (rb[3] - rb[1])
            - inter
        )
        return inter / ua if ua > 0 else 0.0
    return polygon_iou(a, b)


def _inter_over_area(pred: np.ndarray, dc: np.ndarray) -> float:
    """intersection(pred, dc) / area(pred) — the don't-care exclusion
    criterion (eval_det_iou.py:101-110), exact polygon form with the
    same axis-aligned fast path as _iou."""
    ra, rb = _axis_rect(pred), _axis_rect(dc)
    if ra is not None and rb is not None:
        ix = max(0.0, min(ra[2], rb[2]) - max(ra[0], rb[0]))
        iy = max(0.0, min(ra[3], rb[3]) - max(ra[1], rb[1]))
        area = max((ra[2] - ra[0]) * (ra[3] - ra[1]), 1e-9)
        return ix * iy / area
    area = max(polygon_area(pred), 1e-9)
    return polygon_intersection_area(pred, dc) / area


def _quad(points) -> np.ndarray:
    # Arrow hands nested arrays to pandas as object-dtype ndarrays of
    # ndarrays; build the (N,2) array explicitly
    return np.array([[float(p[0]), float(p[1])] for p in points])


def _pts_key(points) -> tuple:
    """Content-based deterministic sort key for a quad — collect_list
    order is NOT guaranteed stable across runs, and greedy 1:1 matching
    is order-dependent whenever one detection overlaps several GTs, so
    every list is sorted before the greedy loop (explicit gt_idx/det_idx
    when the caller provides one, this content key otherwise)."""
    return tuple(tuple(float(v) for v in p) for p in points)


def det_partials(pred: DataFrame, gt: DataFrame) -> DataFrame:
    """Per-media partial counts {n_gt_care, n_det_care, n_matched}
    (eval_det_iou.py:144-161 semantics):
      - GT boxes tagged ignore are don't-care (db_label_encode.py:28-31)
      - predictions overlapping a don't-care GT with
        intersection/predArea > 0.5 are excluded (anti-join J3,
        eval_det_iou.py:101-110)
      - remaining pairs greedily matched 1:1 where IoU > 0.5 (J2,
        eval_det_iou.py:117-142)

    pred: (media_ref, points);  gt: (media_ref, points, ignore)

    Plan: each side pre-aggregates to one array row per media (map-side
    partial collect), then a single equi-join on media_ref feeds the
    grouped matcher — the N×M greedy loop stays inside one row's arrays
    (N,M ≈ dozens), never a relational cross product.
    """
    has_gt_idx = "gt_idx" in gt.columns
    has_det_idx = "det_idx" in pred.columns
    # greedy 1:1 matching is order-dependent: honor a caller-provided
    # det_idx exactly like gt_idx (det_match_flags sorts by det_idx, so
    # the two matchers must see the same detection order or their
    # matched counts can disagree on the same input)
    p_cols = (["det_idx"] if has_det_idx else []) + ["points"]
    p = pred.groupBy("media_ref").agg(
        F.collect_list(F.struct(*p_cols)).alias("p_list")
    )
    g_cols = (["gt_idx"] if has_gt_idx else []) + ["points", "ignore"]
    g = gt.groupBy("media_ref").agg(
        F.collect_list(F.struct(*g_cols)).alias("g_list")
    )
    both = p.join(g, "media_ref", "full_outer")

    out_schema = (
        "media_ref string, n_gt_care long, n_det_care long, n_matched long"
    )

    def fn(batches):
        for pdf in batches:
            rows = []
            for ref, p_list, g_list in zip(
                pdf["media_ref"], pdf["p_list"], pdf["g_list"]
            ):
                p_recs = list(p_list) if p_list is not None else []
                if has_det_idx:
                    p_recs.sort(key=lambda r: int(r["det_idx"]))
                else:
                    p_recs.sort(key=lambda r: _pts_key(r["points"]))
                preds = [_quad(r["points"]) for r in p_recs]
                g_recs = list(g_list) if g_list is not None else []
                if has_gt_idx:
                    g_recs.sort(key=lambda r: int(r["gt_idx"]))
                else:
                    g_recs.sort(key=lambda r: _pts_key(r["points"]))
                gts = [(_quad(r["points"]), bool(r["ignore"])) for r in g_recs]
                gt_care = [r for r, ig in gts if not ig]
                gt_dc = [r for r, ig in gts if ig]
                det_care = []
                for pr in preds:
                    if not any(_inter_over_area(pr, dc) > 0.5 for dc in gt_dc):
                        det_care.append(pr)
                matched = 0
                used_det: set[int] = set()
                for gr in gt_care:
                    for di, dr in enumerate(det_care):
                        if di in used_det:
                            continue
                        if _iou(gr, dr) > 0.5:
                            used_det.add(di)
                            matched += 1
                            break
                rows.append(
                    {
                        "media_ref": ref,
                        "n_gt_care": len(gt_care),
                        "n_det_care": len(det_care),
                        "n_matched": matched,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "n_gt_care", "n_det_care", "n_matched"],
            )

    return both.mapInPandas(fn, schema=out_schema)


def det_match_flags(pred: DataFrame, gt: DataFrame) -> DataFrame:
    """Per-CARE-detection match flags for AP (SURVEY A8,
    eval_det_iou.py:144-161 + the confList/matchList collection):
    don't-care-overlapping detections are excluded; the remaining
    detections carry (conf, matched) where matched comes from the same
    greedy 1:1 IoU>0.5 matching as det_partials.

    pred: (media_ref, det_idx, points, conf)
    gt:   (media_ref, points, ignore)
    out:  (media_ref, det_idx, conf, matched)
    """
    has_gt_idx = "gt_idx" in gt.columns
    p = pred.groupBy("media_ref").agg(
        F.collect_list(F.struct("det_idx", "points", "conf")).alias("p_list")
    )
    g_cols = (["gt_idx"] if has_gt_idx else []) + ["points", "ignore"]
    g = gt.groupBy("media_ref").agg(
        F.collect_list(F.struct(*g_cols)).alias("g_list")
    )
    both = p.join(g, "media_ref", "full_outer")
    out_schema = "media_ref string, det_idx long, conf double, matched boolean"

    def fn(batches):
        for pdf in batches:
            rows = []
            for ref, p_list, g_list in zip(
                pdf["media_ref"], pdf["p_list"], pdf["g_list"]
            ):
                preds = (
                    sorted(
                        (
                            (int(r["det_idx"]), _quad(r["points"]), float(r["conf"]))
                            for r in p_list
                        ),
                        key=lambda t: t[0],
                    )
                    if p_list is not None
                    else []
                )
                g_recs = list(g_list) if g_list is not None else []
                if has_gt_idx:
                    g_recs.sort(key=lambda r: int(r["gt_idx"]))
                else:
                    g_recs.sort(key=lambda r: _pts_key(r["points"]))
                gts = [(_quad(r["points"]), bool(r["ignore"])) for r in g_recs]
                gt_care = [r for r, ig in gts if not ig]
                gt_dc = [r for r, ig in gts if ig]
                det_care = []
                for idx, pr, conf in preds:
                    if any(_inter_over_area(pr, dc) > 0.5 for dc in gt_dc):
                        continue
                    det_care.append((idx, pr, conf))
                matched_idx: set[int] = set()
                for gr in gt_care:
                    for di, (idx, dr, _c) in enumerate(det_care):
                        if di in matched_idx:
                            continue
                        if _iou(gr, dr) > 0.5:
                            matched_idx.add(di)
                            break
                for di, (idx, _dr, conf) in enumerate(det_care):
                    rows.append(
                        {
                            "media_ref": ref,
                            "det_idx": idx,
                            "conf": conf,
                            "matched": di in matched_idx,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_ref", "det_idx", "conf", "matched"]
            )

    return both.mapInPandas(fn, schema=out_schema)


def det_ap(pred: DataFrame, gt: DataFrame) -> DataFrame:
    """Per-media average precision over confidence-ranked detections
    (eval_det_iou.py:27-45 compute_ap): walk detections by conf desc;
    at each matched one add cum_matched/rank; divide by n_gt_care.
    The ranking + cumulative sums are pure window expressions (the A8
    window query); only the match flags come from the kernel."""
    from pyspark.sql.window import Window

    flags = det_match_flags(pred, gt)
    care = gt.filter(~F.col("ignore")).groupBy("media_ref").agg(
        F.count("*").alias("n_gt_care")
    )
    w = Window.partitionBy("media_ref").orderBy(
        F.col("conf").desc(), F.col("det_idx")
    )
    cum = (
        F.sum(F.col("matched").cast("int"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    terms = flags.select(
        "media_ref",
        F.when(
            F.col("matched"), cum / F.row_number().over(w)
        ).otherwise(F.lit(0.0)).alias("term"),
    )
    per_media = terms.groupBy("media_ref").agg(
        F.sum("term").alias("ap_sum"), F.count("*").alias("n_det_care")
    )
    # FULL outer: media with care GT but zero care detections must
    # still score (AP = 0) — the reference computes AP for every image
    # (eval_det_iou.py evaluate_image), so dropping them would inflate
    # any mean over the output
    return (
        per_media.join(care, "media_ref", "full_outer")
        .select(
            "media_ref",
            F.coalesce(F.col("n_det_care"), F.lit(0)).alias("n_det_care"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_gt_care"), F.lit(0)) > 0,
                    F.coalesce(F.col("ap_sum"), F.lit(0.0)) / F.col("n_gt_care"),
                ).otherwise(0.0),
                6,
            ).alias("ap"),
        )
    )


def det_metric(pred: DataFrame, gt: DataFrame) -> DataFrame:
    """Global precision/recall/hmean from per-media partials — the
    partial/final aggregation contract of det_metric.py:24-74."""
    parts = det_partials(pred, gt)
    tot = parts.agg(
        F.sum("n_gt_care").alias("gt"),
        F.sum("n_det_care").alias("det"),
        F.sum("n_matched").alias("m"),
    )
    precision = F.when(F.col("det") > 0, F.col("m") / F.col("det")).otherwise(0.0)
    recall = F.when(F.col("gt") > 0, F.col("m") / F.col("gt")).otherwise(0.0)
    return tot.select(
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(
            F.when(
                precision + recall > 0,
                2 * precision * recall / (precision + recall),
            ).otherwise(0.0),
            6,
        ).alias("hmean"),
    )


def rec_metric_composed(
    base_pairs: DataFrame,
    head_pairs: dict[str, DataFrame],
    pred_col: str = "pred",
    gt_col: str = "gt",
) -> DataFrame:
    """The RecGTCMetric / RecMPGMetric composition shape
    (rec_metric_gtc.py:46-57, rec_metric_mgp.py:76-94): the base head's
    full rec_metric row plus {name}_acc / {name}_norm_edit_dis for each
    auxiliary head (the reference's norm_edit_dis keys are 1−NED, the
    same quantity as the base row's one_minus_ned). Pairs arrive
    pre-normalized — apply the ignore_space/is_filter/is_lower exprs
    upstream, as the reference's flags do."""
    out = rec_metric(base_pairs, pred_col, gt_col)
    for name, pairs in head_pairs.items():
        aux = rec_metric(pairs, pred_col, gt_col).select(
            F.col("acc").alias(f"{name}_acc"),
            F.col("one_minus_ned").alias(f"{name}_norm_edit_dis"),
        )
        out = out.crossJoin(aux)
    return out


def cmer_metric(
    pairs: DataFrame, pred_col: str = "pred", gt_col: str = "gt"
) -> DataFrame:
    """CMERMetric (rec_metric_cmer.py:241-328) — the chart/markdown
    extraction metric: per-pair ROUGE-1/2/L f-measures, BLEU (13a
    tokenization, max_order 4, unsmoothed), and RAW Levenshtein edit
    distance, averaged over all pairs. Per-pair scorers run in ONE
    Arrow-batched pandas UDF (functions/seqeval — pure per-row work, no
    shuffle); the edit distance stays JVM-side via F.levenshtein.
    Empty input averages to all-zeros like the reference (:308-315)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from openocr_spark.functions.seqeval import cmer_pair_scores

    @pandas_udf("rouge1 double, rouge2 double, rougeL double, bleu double")
    def scores_udf(pred: pd.Series, gt: pd.Series) -> pd.DataFrame:
        vals = [
            cmer_pair_scores(p or "", g or "") for p, g in zip(pred, gt)
        ]
        return pd.DataFrame(
            vals, columns=["rouge1", "rouge2", "rougeL", "bleu"]
        )

    # NULL pred/gt must score as "" in EVERY column, or edit_distance
    # (F.avg skips the NULL F.levenshtein yields) would average over a
    # different sample set than the UDF-scored rouge/bleu columns
    pred = F.coalesce(F.col(pred_col), F.lit(""))
    gt = F.coalesce(F.col(gt_col), F.lit(""))
    scored = pairs.select(
        scores_udf(pred, gt).alias("s"),
        F.levenshtein(pred, gt).cast("double").alias("edit_distance"),
    )
    return scored.agg(
        F.round(F.coalesce(F.avg("s.rouge1"), F.lit(0.0)), 6).alias("rouge1"),
        F.round(F.coalesce(F.avg("s.rouge2"), F.lit(0.0)), 6).alias("rouge2"),
        F.round(F.coalesce(F.avg("s.rougeL"), F.lit(0.0)), 6).alias("rougeL"),
        F.round(F.coalesce(F.avg("s.bleu"), F.lit(0.0)), 6).alias("bleu"),
        F.round(F.coalesce(F.avg("edit_distance"), F.lit(0.0)), 6).alias(
            "edit_distance"
        ),
        F.count("*").alias("num_samples"),
    )


def det_metric_thresholds(
    pred: DataFrame,
    gt: DataFrame,
    thresholds: tuple[float, ...] = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """DetFCEMetric's score-threshold sweep (det_metric.py:75-160): the
    SAME IoU evaluation repeated with detections filtered at
    score ≥ thr for each threshold — filtering changes the greedy
    matching, so each threshold is its own evaluation pass, exactly as
    the reference runs evaluate_image once per threshold. Returns one
    (score_thr, precision, recall, hmean) row per threshold; the
    reference's headline 'hmean' is the MAX over these rows (:139).
    Metrics-table scale: seven small aggregation branches over the same
    inputs, unioned."""
    out: DataFrame | None = None
    for thr in thresholds:
        m = det_metric(pred.filter(F.col("conf") >= thr), gt).select(
            F.lit(float(thr)).alias("score_thr"),
            "precision",
            "recall",
            "hmean",
        )
        out = m if out is None else out.unionByName(m)
    assert out is not None, "at least one threshold required"
    return out


def rec_metric_aggs(
    pred_col: str = "pred", gt_col: str = "gt"
) -> list:
    """The rec_metric aggregate columns, exposed so composers
    (rec_metric_long) can fold them into ONE .agg pass instead of
    crossJoining two aggregations over the same (expensive) lineage.
    Empty input follows the reference's 0/(0+eps) arithmetic — acc 0.0,
    1−NED 1.0 — not NULL."""
    ned = normalized_levenshtein(F.col(pred_col), F.col(gt_col))
    eps = F.lit(1e-5)
    n = F.count("*")

    def z(c):  # F.sum over zero rows is NULL; the reference sums are 0
        return F.coalesce(c, F.lit(0.0))

    return [
        n.alias("all_num"),
        F.coalesce(
            F.sum(F.when(F.col(pred_col) == F.col(gt_col), 1).otherwise(0)),
            F.lit(0),
        ).alias("correct_num"),
        F.round(
            z(F.sum(F.when(F.col(pred_col) == F.col(gt_col), 1.0).otherwise(0.0)))
            / (n + eps),
            6,
        ).alias("acc"),
        F.round(1.0 - z(F.sum(ned)) / (n + eps), 6).alias("one_minus_ned"),
    ]


def rec_metric(pairs: DataFrame, pred_col: str = "pred", gt_col: str = "gt") -> DataFrame:
    """Exact-match acc + 1−NED (rec_metric.py:69-97, reference-exact
    including the eps=1e-5 denominator guard: acc = correct/(n+eps),
    1−NED = 1 − Σned/(n+eps) — pinned against the reference's own
    RecMetric by test_metric_differential)."""
    return pairs.agg(*rec_metric_aggs(pred_col, gt_col))


def rec_metric_by_length(
    pairs: DataFrame, pred_col: str = "pred", gt_col: str = "gt"
) -> DataFrame:
    """Per-GT-length accuracy histogram (rec_metric.py:113-160 A6)."""
    return (
        pairs.groupBy(F.length(F.col(gt_col)).alias("gt_len"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.avg(F.when(F.col(pred_col) == F.col(gt_col), 1.0).otherwise(0.0)), 6
            ).alias("acc"),
        )
    )


def _staged_norm_pairs(
    pairs: DataFrame,
    pred_col: str,
    gt_col: str,
    ignore_space: bool,
    is_filter: bool,
    is_lower: bool,
) -> DataFrame:
    """The PROGRESSIVE normalization stages of RecMetric.eval_all_metric
    (rec_metric.py:119-148): each accuracy variant is measured at its
    own stage of a single normalization pipeline, NOT independently —
    space strip only under ignore_space, the digits+letters filter only
    under is_filter (RecMetric's _normalize_text does NOT lower, unlike
    RecMetricLong's), lowering only under is_lower; NED and the
    histogram bins use the FINAL stage."""
    p0, g0 = F.col(pred_col), F.col(gt_col)
    p1 = F.replace(p0, F.lit(" "), F.lit("")) if ignore_space else p0
    g1 = F.replace(g0, F.lit(" "), F.lit("")) if ignore_space else g0
    p2 = F.regexp_replace(p1, "[^0-9a-zA-Z]", "") if is_filter else p1
    g2 = F.regexp_replace(g1, "[^0-9a-zA-Z]", "") if is_filter else g1
    p3 = F.lower(p2) if is_lower else p2
    g3 = F.lower(g2) if is_lower else g2
    return pairs.select(
        (p0 == g0).cast("double").alias("eq_real"),
        (F.lower(p0) == F.lower(g0)).cast("double").alias("eq_lower"),
        (p1 == g1).cast("double").alias("eq_ignore_space"),
        (F.lower(p1) == F.lower(g1)).cast("double").alias("eq_ignore_space_lower"),
        (p2 == g2).cast("double").alias("eq_ignore_space_symbol"),
        (p3 == g3).cast("double").alias("eq_final"),
        normalized_levenshtein(p3, g3).alias("ned"),
        F.length(g3).alias("gt_len"),
        pairs[pred_col].alias("pred"),
        pairs[gt_col].alias("gt"),
        *[c for c in pairs.columns if c not in (pred_col, gt_col)],
    )


def rec_metric_all(
    pairs: DataFrame,
    pred_col: str = "pred",
    gt_col: str = "gt",
    ignore_space: bool = True,
    is_filter: bool = False,
    is_lower: bool = True,
) -> DataFrame:
    """RecMetric's with_ratio=True accuracy family (rec_metric.py:
    204-251 get_all_metric — what the eval_rec_all_* tools report): six
    accuracies at progressive normalization stages plus 1−NED and
    num_samples, eps=1e-5 denominators. acc_ignore_space_lower_symbol
    is the reference's alias for the final-stage acc (:240) and is
    emitted equal to it. Differentially pinned against the reference's
    own RecMetric(with_ratio=True) in test_metric_differential."""
    staged = _staged_norm_pairs(
        pairs, pred_col, gt_col, ignore_space, is_filter, is_lower
    )
    eps = F.lit(1e-5)
    n = F.count("*")

    def frac(c):
        # coalesce: empty input follows the reference's 0/(0+eps) = 0.0
        return F.round(F.coalesce(F.sum(F.col(c)), F.lit(0.0)) / (n + eps), 6)

    return staged.agg(
        frac("eq_final").alias("acc"),
        frac("eq_real").alias("acc_real"),
        frac("eq_lower").alias("acc_lower"),
        frac("eq_ignore_space").alias("acc_ignore_space"),
        frac("eq_ignore_space_lower").alias("acc_ignore_space_lower"),
        frac("eq_ignore_space_symbol").alias("acc_ignore_space_symbol"),
        frac("eq_final").alias("acc_ignore_space_lower_symbol"),
        F.round(
            1.0 - F.coalesce(F.sum("ned"), F.lit(0.0)) / (n + eps), 6
        ).alias("one_minus_ned"),
        n.alias("num_samples"),
    )


def rec_metric_by_ratio(
    pairs: DataFrame,
    ratio_col: str = "ratio",
    pred_col: str = "pred",
    gt_col: str = "gt",
    max_ratio: int = 4,
    ignore_space: bool = True,
    is_filter: bool = False,
    is_lower: bool = True,
) -> DataFrame:
    """Per-aspect-ratio-bucket accuracy/NED rollup (rec_metric.py:
    149-161 each_ratio_*): bins are 1-based gen_ratio capped at
    max_ratio (reference index ratio-1, overflow collapsed into the
    last bin), acc/NED on the FINAL normalization stage with per-bin
    eps=1e-5 denominators. Empty bins read acc 0.0 / 1−NED 1.0 in the
    reference's fixed-size lists; a grouped DataFrame simply omits
    them. DELIBERATE divergence: ratio ≤ 0 (unreachable through
    gen_ratio = max(1, round(w/h))) clamps into bin 1 here, where the
    reference's ratio-1 index would be -1 — Python negative indexing
    silently landing it in the LAST bin; the clamp is the saner reading
    of an out-of-domain input."""
    staged = _staged_norm_pairs(
        pairs, pred_col, gt_col, ignore_space, is_filter, is_lower
    )
    eps = F.lit(1e-5)
    n = F.count("*")
    bin_ = F.least(F.greatest(F.col(ratio_col), F.lit(1)), F.lit(max_ratio))
    return staged.groupBy(bin_.alias("ratio_bin")).agg(
        n.alias("n"),
        F.round(F.sum("eq_final") / (n + eps), 6).alias("acc"),
        F.round(1.0 - F.sum("ned") / (n + eps), 6).alias("one_minus_ned"),
    )


def rec_metric_by_length_binned(
    pairs: DataFrame,
    pred_col: str = "pred",
    gt_col: str = "gt",
    max_len: int = 25,
    ignore_space: bool = True,
    is_filter: bool = False,
    is_lower: bool = True,
) -> DataFrame:
    """Per-GT-length rollup with the eval_all binning (rec_metric.py:
    147-158 each_len_*): 1-based final-stage GT length capped at
    max_len (reference index max(0, min(max_len, len)−1) — length 0
    shares bin 1), acc AND 1−NED per bin, eps denominators."""
    staged = _staged_norm_pairs(
        pairs, pred_col, gt_col, ignore_space, is_filter, is_lower
    )
    eps = F.lit(1e-5)
    n = F.count("*")
    bin_ = F.greatest(F.least(F.col("gt_len"), F.lit(max_len)), F.lit(1))
    return staged.groupBy(bin_.alias("len_bin")).agg(
        n.alias("n"),
        F.round(F.sum("eq_final") / (n + eps), 6).alias("acc"),
        F.round(1.0 - F.sum("ned") / (n + eps), 6).alias("one_minus_ned"),
    )


def extract_detail(
    media_refs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-detected-region detail rows (DET_REC_DETAIL) from synthesized
    payloads — the system_results.txt row shape
    (infer_e2e.py:272-276). Input: df with a media_ref column. Each
    batch runs the extraction kernel's flow (one detect → assign pass,
    every region decoded by cfg.rec_head's batch decoder) and emits one
    row per detected box."""
    from openocr_spark.fixtures import payload_for_media_ref
    from openocr_spark.operators.extract import _decode_fn, _detect_rows, _media_batch

    decode = _decode_fn(cfg.rec_head, cfg.token_map)  # driver-side fail-fast

    def kernel(batches):
        for pdf in batches:
            refs = pdf["media_ref"].tolist()
            ps = [payload_for_media_ref(ref) for ref in refs]
            mb = _media_batch([p["score_map"] for p in ps], [p["regions"] for p in ps])
            quads, det_scores, per_row = _detect_rows(
                mb.probs, mb.reg_off, mb.centers, cfg
            )
            texts, rec_scores = decode(mb.logits, mb.t_off)
            rows = []
            for ref, p, (boxes, assigned), r0 in zip(
                refs, ps, per_row, mb.reg_off.tolist()
            ):
                for idx, (b, ridx) in enumerate(zip(boxes, assigned)):
                    text, rscore, gt_text = ("", 0.0, None)
                    if ridx >= 0:
                        text, rscore = texts[r0 + ridx], rec_scores[r0 + ridx]
                        gt_text = p["regions"][ridx]["gt_text"]
                    rows.append(
                        {
                            "media_ref": ref,
                            "region_idx": idx,
                            "points": quads[b].tolist(),
                            "det_score": float(det_scores[b]),
                            "transcription": text,
                            "rec_score": float(rscore),
                            "gt_text": gt_text,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "region_idx", "points",
                    "det_score", "transcription", "rec_score", "gt_text",
                ],
            )

    return media_refs.select("media_ref").mapInPandas(
        kernel, schema=schemas.DET_REC_DETAIL
    )


def rec_heads_matrix(media_refs: DataFrame) -> DataFrame:
    """Per-region decode under EVERY head family (SURVEY F1 — the
    reference's 16 postprocess variants; kernels/decode_heads.py): the
    same fixture logits decoded under each vocabulary/stop/skip/conf
    permutation, emitted as (media_ref, region_idx, head, text, conf).
    Exercises the per-architecture heads through the distributed
    surface AND the config-name dispatch itself: every head is resolved
    via extract._decode_fn exactly as ExtractConfig(rec_head=...) would,
    with the tokenizer-backed heads driven by the deterministic fixture
    tokenizer artifact (kernels/tokenizer.py). The oracle is
    oracle.rec_heads_rows (independent eager derivation) materialized
    to parquet."""
    from openocr_spark.fixtures import payload_for_media_ref
    from openocr_spark.kernels.tokenizer import fixture_token_map
    from openocr_spark.operators.extract import REC_HEAD_NAMES, _decode_fn

    tm = fixture_token_map()
    # resolved once at closure-build time (driver side) — the same
    # fail-fast discipline as the extract kernels
    heads = {name: _decode_fn(name, tm) for name in REC_HEAD_NAMES}
    cols = ["media_ref", "region_idx", "head", "text", "conf"]

    def kernel(batches):
        for pdf in batches:
            rows = []
            for ref in pdf["media_ref"].tolist():
                p = payload_for_media_ref(ref)
                lgs = [np.asarray(r["logits"], dtype=np.float64) for r in p["regions"]]
                block = np.concatenate(lgs)
                off = np.cumsum([0] + [len(lg) for lg in lgs])
                res = {name: fn(block, off) for name, fn in heads.items()}
                for ridx in range(len(lgs)):
                    for head, (texts, confs) in res.items():
                        text, conf = texts[ridx], confs[ridx]
                        rows.append(
                            {
                                "media_ref": ref,
                                "region_idx": ridx,
                                "head": head,
                                "text": text,
                                "conf": round(float(conf), 6),
                            }
                        )
            yield pd.DataFrame(rows, columns=cols)

    return media_refs.select("media_ref").mapInPandas(
        kernel,
        schema=(
            "media_ref string, region_idx int, head string, "
            "text string, conf double"
        ),
    )


def gt_regions(media_refs: DataFrame) -> DataFrame:
    """GT region rows (media_ref, gt_idx, points, ignore, gt_text) from
    the synthesized payloads — the labels side for det/rec eval.
    gt_idx is the payload annotation order (the order the reference
    iterates GT boxes in) so the greedy matcher is deterministic."""
    from openocr_spark.fixtures import payload_for_media_ref

    def kernel(batches):
        for pdf in batches:
            rows = []
            for ref in pdf["media_ref"].tolist():
                for gi, r in enumerate(payload_for_media_ref(ref)["regions"]):
                    rows.append(
                        {
                            "media_ref": ref,
                            "gt_idx": gi,
                            "points": r["points"],
                            "ignore": r["ignore"],
                            "gt_text": r["gt_text"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "gt_idx", "points", "ignore", "gt_text"],
            )

    schema = (
        "media_ref string, gt_idx int, points array<array<int>>, "
        "ignore boolean, gt_text string"
    )
    return media_refs.select("media_ref").mapInPandas(kernel, schema=schema)
