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


def as_prob(score_map: np.ndarray) -> np.ndarray:
    """A score map as float32 probabilities. uint8 maps hold prob × 255
    (the narrow payload format); k/255 is computed in float32, the same
    arithmetic the fixture generator uses, so the round-trip is exact."""
    if score_map.dtype == np.uint8:
        return score_map.astype(np.float32) / np.float32(255.0)
    return score_map


def _min_labels(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per node of an undirected graph (edges src[k]–dst[k]), the
    smallest node index in its component: hook each edge's two roots
    onto the smaller one, then pointer-jump until every node points at
    a root; repeat until no edge joins two roots. lab[x] <= x holds
    throughout, so a root is the minimum of its tree."""
    lab = np.arange(n)
    while True:
        a, b = lab[src], lab[dst]
        if np.array_equal(a, b):
            return lab
        lo = np.minimum(a, b)
        np.minimum.at(lab, a, lo)
        np.minimum.at(lab, b, lo)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _copy_mask(mask: np.ndarray, out: np.ndarray) -> None:
    """`binarize` for a mask that is already binary."""
    np.copyto(out, mask)


def _label_components(
    maps: list[np.ndarray], binarize=_copy_mask
) -> tuple[np.ndarray, ...]:
    """4-connected components of the mask `binarize(m, out)` writes into
    the bool view `out`, for every map in one pass.

    Returns per-component arrays (img, r0, r1, c0, c1), inclusive bboxes,
    image-major and in first-pixel scan order within an image. All masks
    go into one flat buffer, each row followed by a False pad column, so
    one pass over its value changes finds every row-run of the batch.
    Runs that overlap in adjacent rows are linked by two searchsorted
    calls, and each run is labelled with the smallest run index of its
    component: runs are numbered in scan order, so that run holds the
    component's first pixel.
    """
    hs = np.array([m.shape[0] for m in maps], dtype=np.int64)
    ws = np.array([m.shape[1] for m in maps], dtype=np.int64)
    stride = ws + 1
    sizes = hs * stride
    base = 1 + np.concatenate(([0], np.cumsum(sizes)[:-1])).astype(np.int64)
    # buf[0] is a leading pad; the tail pads to whole 8-byte words plus
    # one all-False word
    buf = np.zeros((int(sizes.sum()) + 16) // 8 * 8, dtype=bool)
    for m, b, h, w in zip(maps, base.tolist(), hs.tolist(), ws.tolist()):
        binarize(m, buf[b : b + h * (w + 1)].reshape(h, w + 1)[:, :w])
    # positions p where buf[p] != buf[p+1], found 8 at a time: a change
    # lies in an 8-byte word that is neither all False nor all True, or
    # at the end of a word that differs from the next one
    words = buf.view(np.uint64)
    cand = np.flatnonzero(
        (words[:-1] != words[1:])
        | ((words[:-1] != 0) & (words[:-1] != 0x0101010101010101))
    )
    pos = (cand[:, None] * 8 + np.arange(8)).ravel()
    pos = pos[buf[pos] != buf[pos + 1]]
    up = buf[pos + 1]
    start = pos[up] + 1  # buffer positions, inclusive
    end = pos[~up]
    img = np.searchsorted(base, start, side="right") - 1
    local = start - base[img]
    row = local // stride[img]
    c0 = local - row * stride[img]
    c1 = c0 + (end - start)
    # global row number with an empty row between images, so runs of two
    # images are never in adjacent rows
    first_row = np.concatenate(([0], np.cumsum(hs + 1)[:-1]))
    grow = first_row[img] + row
    # runs are sorted by (grow, c0) and disjoint within a row, so both
    # keys are sorted; the runs of row g-1 that overlap [c0, c1] are the
    # index range [lo, hi)
    span = int(ws.max(initial=0)) + 1
    lo = np.searchsorted(grow * span + c1, (grow - 1) * span + c0, side="left")
    hi = np.searchsorted(grow * span + c0, (grow - 1) * span + c1, side="right")
    cnt = np.maximum(hi - lo, 0)
    src = np.repeat(np.arange(len(start)), cnt)
    dst = np.arange(len(src)) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    lab = _min_labels(len(start), src, dst)
    roots = np.flatnonzero(lab == np.arange(len(lab)))
    cid = np.searchsorted(roots, lab)
    r1 = row[roots]
    b0, b1 = c0[roots], c1[roots]
    np.maximum.at(r1, cid, row)
    np.minimum.at(b0, cid, c0)
    np.maximum.at(b1, cid, c1)
    return img[roots], row[roots], r1, b0, b1


def connected_components(mask: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Label 4-connected components of a bool mask.

    Returns per-component inclusive bboxes ``(r0, r1, c0, c1)`` in
    first-pixel scan order. Pure numpy (no scipy/cv2 in this
    environment); a one-image call of the batch labeller.
    """
    _, r0, r1, c0, c1 = _label_components([mask])
    return list(zip(r0.tolist(), r1.tolist(), c0.tolist(), c1.tolist()))


def detect_batch(
    score_maps: list[np.ndarray],
    *,
    thresh: float = 0.3,
    box_thresh: float = 0.6,
    min_size: int = 3,
    unclip_ratio: float = 1.5,
    max_candidates: int = 1000,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Score maps → (box_off, quads, scores) for a whole batch.

    Each map is float32 probabilities or uint8 prob × 255 (`as_prob`);
    uint8 maps are binarized through a 256-entry table of
    `as_prob(k) > thresh`, which equals `prob > thresh` exactly without
    a float copy of the map. The table is monotone in k, so it is
    applied as one integer compare against its first True entry. The
    boxes of image i are quads[box_off[i]:box_off[i+1]] (4x2 int64) with
    their region scores, in component scan order (the caller applies
    reading order).
    `max_candidates` caps the components considered per image
    (db_postprocess.py:28,57,107).
    """
    lut = as_prob(np.arange(256, dtype=np.uint8)) > thresh
    cut = 256 - int(lut.sum())  # lut[k] == (k >= cut)

    def binarize(m: np.ndarray, out: np.ndarray) -> None:
        if m.dtype == np.uint8:
            np.greater_equal(m, cut, out=out)
        else:
            np.greater(m, thresh, out=out)

    img, r0, r1, c0, c1 = _label_components(score_maps, binarize)
    rank = np.arange(len(img)) - np.searchsorted(img, img)
    bw, bh = c1 - c0 + 1, r1 - r0 + 1
    keep = np.flatnonzero((rank < max_candidates) & (np.minimum(bw, bh) >= min_size))
    img, r0, r1, c0, c1, bw, bh = (a[keep] for a in (img, r0, r1, c0, c1, bw, bh))
    # box_score_fast: mean prob over the bbox, taken on a float32 slab of
    # whole rows so the slice (and so the float32 sum order) is the one
    # a full float32 map would give
    scores = np.array(
        [
            float(as_prob(score_maps[i][a : b + 1])[:, c : e + 1].mean())
            for i, a, b, c, e in zip(
                img.tolist(), r0.tolist(), r1.tolist(), c0.tolist(), c1.tolist()
            )
        ],
        dtype=np.float64,
    )
    # unclip (db_postprocess.py:141-147): offset = area*ratio/perimeter,
    # then clip to the image
    area = (bw * bh).astype(np.float64)
    delta = np.round(area * unclip_ratio / (2.0 * (bw + bh))).astype(np.int64)
    hs = np.array([m.shape[0] for m in score_maps], dtype=np.int64)
    ws = np.array([m.shape[1] for m in score_maps], dtype=np.int64)
    nc0 = np.maximum(c0 - delta, 0)
    nr0 = np.maximum(r0 - delta, 0)
    nc1 = np.minimum(c1 + delta, ws[img] - 1)
    nr1 = np.minimum(r1 + delta, hs[img] - 1)
    keep = ~(scores < box_thresh) & (
        np.minimum(nc1 - nc0 + 1, nr1 - nr0 + 1) >= min_size + 2
    )
    quads = np.stack([nc0, nr0, nc1, nr0, nc1, nr1, nc0, nr1], axis=1)[keep]
    box_off = np.searchsorted(img[keep], np.arange(len(score_maps) + 1))
    return box_off, quads.reshape(-1, 4, 2), scores[keep]


def detect_boxes(
    prob_map: np.ndarray,
    *,
    thresh: float = 0.3,
    box_thresh: float = 0.6,
    min_size: int = 3,
    unclip_ratio: float = 1.5,
    max_candidates: int = 1000,
) -> tuple[list[np.ndarray], list[float]]:
    """prob map float32[h,w] (or uint8 prob × 255) → (quads 4x2 int64,
    region scores): a one-image call of `detect_batch`.

    Returns boxes in component scan order (caller applies reading order).
    """
    _, quads, scores = detect_batch(
        [prob_map],
        thresh=thresh,
        box_thresh=box_thresh,
        min_size=min_size,
        unclip_ratio=unclip_ratio,
        max_candidates=max_candidates,
    )
    return list(quads), scores.tolist()


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


def region_centers(points: np.ndarray, pt_off: np.ndarray) -> np.ndarray:
    """(x, y) centre of every region: region k owns the int points
    points[pt_off[k]:pt_off[k+1]] of the (ΣP, 2) array. Integer sums are
    exact, so this equals summing each region's coordinates as floats."""
    pt_off = np.asarray(pt_off)
    csum = np.concatenate(
        (np.zeros((1, 2), dtype=np.int64), np.cumsum(points, axis=0, dtype=np.int64))
    )
    return (csum[pt_off[1:]] - csum[pt_off[:-1]]) / np.diff(pt_off)[:, None]


def first_region_inside(boxes: list, centers: list) -> list[int]:
    """Per box, the index of the first region centre (x, y) it contains
    (-1 if none); plain Python, one image at a time."""
    out = []
    for b in boxes:
        (x0, y0), (x1, y1) = b[0], b[2]
        out.append(
            next(
                (
                    k
                    for k, (cx, cy) in enumerate(centers)
                    if x0 <= cx <= x1 and y0 <= cy <= y1
                ),
                -1,
            )
        )
    return out


def assign_regions_to_boxes(
    boxes: list[np.ndarray], region_points: list[np.ndarray]
) -> list[int]:
    """Map each detected box to the GT-region index whose center it
    contains (-1 if none). Surrogate for the crop step
    (tools/infer/utility.py:167-202 get_rotate_crop_image): instead of
    cropping pixels we look up the region's logits by position."""
    if not boxes or not region_points:
        return [-1] * len(boxes)
    points = np.array([q for p in region_points for q in p], dtype=np.int64)
    pt_off = np.cumsum([0] + [len(p) for p in region_points])
    return first_region_inside(boxes, region_centers(points, pt_off).tolist())
