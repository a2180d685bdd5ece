"""Detection kernel: DBNet-style post-processing, from scratch in numpy.

Semantics follow the reference's DBPostProcess
(/root/reference/opendet/postprocess/db_postprocess.py:210-243):
  1. binarize the probability map at `thresh` (strictly >, :220)
  2. connected components of the binary mask (stands in for
     cv2.findContours, :54-59 — our surrogate maps paint axis-aligned
     regions, so components ARE the regions)
  3. per-component bounding quad (get_mini_boxes analog, :149-170)
  4. region score = mean prob inside the component bbox
     (box_score_fast, :172-187); drop if < box_thresh (:117-122)
  5. drop boxes with min side < min_size (:113-114)
  6. unclip: expand by area*unclip_ratio/perimeter (:141-147), clip to
     image bounds (:83-86,133-136); drop if min side < min_size+2 (:128-130)

Reading order follows tools/infer_e2e.py:54-75 `sorted_boxes`: sort by
(y_topleft, x_topleft), then a single adjacent-swap pass that reorders
boxes whose y differs by < line_tol left-to-right. Correctness-critical
(SURVEY §2.5 W1) — replicated exactly, including the early `break`.
"""

from __future__ import annotations

import numpy as np


def connected_components(mask: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Label 4-connected components of a bool mask via row-run union-find.

    Returns per-component inclusive bboxes ``(r0, r1, c0, c1)`` in
    first-pixel scan order. Pure numpy+python (no scipy/cv2 in this
    environment); runs are vectorized per row, the union-find loop is
    O(#runs), not O(#pixels).
    """
    parent: list[int] = []
    bbox: list[list[int]] = []  # per root label: [r0, r1, c0, c1]

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> int:
        ra, rb = find(a), find(b)
        if ra == rb:
            return ra
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
        ba, bb = bbox[ra], bbox[rb]
        ba[0] = min(ba[0], bb[0])
        ba[1] = max(ba[1], bb[1])
        ba[2] = min(ba[2], bb[2])
        ba[3] = max(ba[3], bb[3])
        return ra

    # extract ALL row-runs in two vectorized passes: pad each row with a
    # False column on both sides, sign of the horizontal diff marks run
    # starts (+1) and ends (-1); argwhere returns them row-major so the
    # k-th start pairs with the k-th end within a row. The python loop
    # below is O(#runs), with no per-row numpy calls.
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    d = np.diff(padded, axis=1)
    # run starts/ends via ONE flatnonzero pass over the row-major ravel
    # (rows cannot merge: the zero pad separates them) instead of two
    # argwhere passes — argwhere is nonzero + transpose + stack, and
    # this function runs once per media payload (guide §1.2); the
    # .tolist() conversions make the union-find loop iterate plain
    # ints rather than numpy scalars. Run pairing is unchanged: ravel
    # preserves row-major order, so the k-th start still matches the
    # k-th end within its row.
    flat = d.ravel()
    idx = np.flatnonzero(flat)
    vals = flat[idx]
    wd = w + 1  # d row width
    sflat = idx[vals == 1]
    srows = (sflat // wd).tolist()
    scols = (sflat % wd).tolist()
    ecols = (idx[vals == -1] % wd - 1).tolist()
    prev_runs: list[tuple[int, int, int]] = []  # (c0, c1, label)
    prev_r = -2
    i = 0
    n_runs = len(srows)
    while i < n_runs:
        r = srows[i]
        if r != prev_r + 1:
            prev_runs = []
        prev_r = r
        row_runs = []
        while i < n_runs and srows[i] == r:
            row_runs.append((scols[i], ecols[i]))
            i += 1
        cur_runs: list[tuple[int, int, int]] = []
        for c0, c1 in row_runs:
            label = -1
            for pc0, pc1, plabel in prev_runs:
                if pc0 <= c1 and c0 <= pc1:  # 4-connectivity overlap
                    label = plabel if label == -1 else union(label, plabel)
            if label == -1:
                label = len(parent)
                parent.append(label)
                bbox.append([r, r, c0, c1])
            else:
                label = find(label)
                b = bbox[label]
                b[0] = min(b[0], r)
                b[1] = max(b[1], r)
                b[2] = min(b[2], c0)
                b[3] = max(b[3], c1)
            cur_runs.append((c0, c1, label))
        prev_runs = [(c0, c1, find(lb)) for c0, c1, lb in cur_runs]

    out = []
    seen = set()
    for i in range(len(parent)):
        r = find(i)
        if r not in seen:
            seen.add(r)
            out.append(tuple(bbox[r]))
    return out


def _rect_to_quad(c0: int, r0: int, c1: int, r1: int) -> np.ndarray:
    """Axis-aligned quad in the canonical clockwise order starting
    top-left (get_mini_boxes canonicalization, db_postprocess.py:149-170)."""
    return np.array([[c0, r0], [c1, r0], [c1, r1], [c0, r1]], dtype=np.int64)


def detect_boxes(
    prob_map: np.ndarray,
    *,
    thresh: float = 0.3,
    box_thresh: float = 0.6,
    min_size: int = 3,
    unclip_ratio: float = 1.5,
    max_candidates: int = 1000,
) -> tuple[list[np.ndarray], list[float]]:
    """prob map float32[h,w] → (quads 4x2 int64, region scores).

    Returns boxes in component scan order (caller applies reading order).
    `max_candidates` caps the number of components considered
    (db_postprocess.py:28,57,107).
    """
    h, w = prob_map.shape
    mask = prob_map > thresh
    comps = connected_components(mask)[:max_candidates]
    boxes: list[np.ndarray] = []
    scores: list[float] = []
    for r0, r1, c0, c1 in comps:
        bw, bh = c1 - c0 + 1, r1 - r0 + 1
        if min(bw, bh) < min_size:
            continue
        score = float(prob_map[r0 : r1 + 1, c0 : c1 + 1].mean())
        if score < box_thresh:
            continue
        # unclip (db_postprocess.py:141-147): offset = area*ratio/perimeter
        area = float(bw * bh)
        perimeter = 2.0 * (bw + bh)
        delta = int(round(area * unclip_ratio / perimeter))
        nc0 = max(c0 - delta, 0)
        nr0 = max(r0 - delta, 0)
        nc1 = min(c1 + delta, w - 1)
        nr1 = min(r1 + delta, h - 1)
        if min(nc1 - nc0 + 1, nr1 - nr0 + 1) < min_size + 2:
            continue
        boxes.append(_rect_to_quad(nc0, nr0, nc1, nr1))
        scores.append(score)
    return boxes, scores


def reading_order(boxes: list[np.ndarray], line_tol: int = 10) -> list[int]:
    """Indices of `boxes` in reading order, bit-identical to
    tools/infer_e2e.py:54-75 `sorted_boxes`.

    Sort by (y, x) of the top-left corner, then one adjacent-swap pass:
    for each i, bubble box i+1 leftwards while its y is within
    `line_tol` of the previous box's y and its x is smaller; stop at the
    first non-swap (the reference `break`s — NOT a full bubble sort).
    Returned as a permutation so callers can carry per-box values
    (detection scores) along with the boxes.
    """
    out = sorted(range(len(boxes)), key=lambda i: (boxes[i][0][1], boxes[i][0][0]))
    for i in range(len(out) - 1):
        for j in range(i, -1, -1):
            a, b = boxes[out[j]][0], boxes[out[j + 1]][0]
            if abs(b[1] - a[1]) < line_tol and b[0] < a[0]:
                out[j], out[j + 1] = out[j + 1], out[j]
            else:
                break
    return out


def sorted_boxes(boxes: list[np.ndarray], line_tol: int = 10) -> list[np.ndarray]:
    """`boxes` in reading order (see `reading_order`)."""
    return [boxes[i] for i in reading_order(boxes, line_tol)]


def assign_regions_to_boxes(
    boxes: list[np.ndarray], region_points: list[np.ndarray]
) -> list[int]:
    """Map each detected box to the GT-region index whose center it
    contains (-1 if none). Surrogate for the crop step
    (tools/infer/utility.py:167-202 get_rotate_crop_image): instead of
    cropping pixels we look up the region's logits by position."""
    if not boxes or not region_points:
        return [-1] * len(boxes)
    centers = np.array(
        [
            [
                sum(float(q[0]) for q in p) / len(p),
                sum(float(q[1]) for q in p) / len(p),
            ]
            for p in region_points
        ]
    )
    assigned = []
    for b in boxes:
        x0, y0 = float(b[0][0]), float(b[0][1])
        x1, y1 = float(b[2][0]), float(b[2][1])
        inside = np.flatnonzero(
            (centers[:, 0] >= x0) & (centers[:, 0] <= x1)
            & (centers[:, 1] >= y0) & (centers[:, 1] <= y1)
        )
        assigned.append(int(inside[0]) if len(inside) else -1)
    return assigned
