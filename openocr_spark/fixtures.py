"""Deterministic synthetic corpora (FIXTURES.md F-A/F-B).

Everything derives from md5 of stable string keys — no global RNG, no
wall clock — so the same corpus can be generated *distributed* (inside
mapInPandas on executors, scaling to any size) or single-node (for the
oracle), byte-identically.

Shapes mirror the reference's data model:
  - media payload = prob map + per-region CTC logits, standing in for an
    LMDB record (tools/data/lmdb_dataset.py:115-123 image bytes + label)
    after the neural forward passes;
  - interleaved documents = the BASELINE.json input_hint table, with a
    1% media-heavy skew tail (50x median media spans) to exercise the
    salted repartition (SURVEY.md §4 O5).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from openocr_spark.config import CHAR_TO_ID, NUM_CLASSES

MEDIA_H, MEDIA_W = 96, 160
_GRID_ROWS, _GRID_COLS = 3, 2  # region placement cells

VOCAB = (
    "spark scan filter join shuffle window batch arrow kernel span doc "
    "media text table row column hash sort merge agg map reduce plan "
    "stage task skew salt bucket stream state detect recognize decode"
).split()

BOILERPLATE_MARKERS = ["<header>", "<footer>", "<nav>", "<aside>"]


def _rng(key: str) -> np.random.Generator:
    seed = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
    # PCG64: ~20x cheaper to seed than RandomState's Mersenne Twister —
    # this runs twice per media ref inside the kernel hot path
    return np.random.Generator(np.random.PCG64(seed))


def make_logits(text: str, rng: np.random.Generator, weak: bool = False) -> np.ndarray:
    """Build CTC logits [T, NUM_CLASSES] that greedy-decode to `text`,
    with random repeats and blank insertions so the de-dup / drop-blank
    path (ctc_postprocess.py:62-64) is actually exercised. `weak` logits
    produce a near-uniform softmax → low confidence → dropped by the
    drop_score filter (infer_e2e.py:194-201)."""
    ids = np.array([CHAR_TO_ID[c] for c in text], dtype=np.int64)
    n = len(ids)
    if n == 0:
        frames = np.array([0], dtype=np.int64)
    else:
        # vectorized draws (scalar rng calls dominated the kernel profile)
        repeats = 1 + (rng.random(n) < 0.3).astype(np.int64)
        blank_roll = rng.random(n) < 0.4
        # blank is REQUIRED between equal consecutive symbols, optional otherwise
        need_blank = np.zeros(n, dtype=bool)
        if n > 1:
            need_blank[:-1] = (ids[1:] == ids[:-1]) | blank_roll[:-1]
        rep = np.repeat(ids, repeats)
        frames = np.insert(rep, np.cumsum(repeats)[need_blank], 0)
    # both levels exactly float16-representable (0.25 = 2^-2, 8.0 =
    # 2^3) so the narrow logits payload format is lossless for every
    # region; 0.25 keeps the weak softmax peak ≈ 0.034 → rec conf far
    # below drop_score, same behavior as the old 0.2
    peak = 0.25 if weak else 8.0
    logits = np.zeros((len(frames), NUM_CLASSES), dtype=np.float32)
    logits[np.arange(len(frames)), frames] = peak
    return logits


def payload_for_media_ref(media_ref: str, with_logits: bool = True) -> dict:
    """Deterministic media payload: prob map + GT regions with logits.

    Region flavors (all seeded from the ref string):
      - normal: painted 0.9 → detected, decoded with high confidence
      - weak-paint (p=0.10): painted 0.25 < binarize 0.3 → NOT detected
        (det recall < 1, exercises A4 metrics)
      - low-conf (p=0.15): detected but weak logits → rec score < 0.5 →
        text dropped (P2)
      - ignore (p=0.10): don't-care GT tag (eval_det_iou.py:86)
    """
    rng = _rng(media_ref)
    n_regions = int(rng.integers(1, 6))
    cells = rng.permutation(_GRID_ROWS * _GRID_COLS)[:n_regions]
    # probability levels sit EXACTLY on the k/255 grid (float32
    # division, mirrored by detection.as_prob), so the uint8
    # payload storage format round-trips bit-losslessly and the
    # synthesized and joined payload paths stay bit-identical.
    # 13/255≈0.051 background, 64/255≈0.251 weak, 230/255≈0.902 strong
    # — same side of every threshold (binarize 0.3, box 0.6) as the
    # old 0.05/0.25/0.9 levels
    p_bg = np.float32(13.0) / np.float32(255.0)
    p_weak = np.float32(64.0) / np.float32(255.0)
    p_strong = np.float32(230.0) / np.float32(255.0)
    score_map = np.full((MEDIA_H, MEDIA_W), p_bg, dtype=np.float32)
    cell_h, cell_w = MEDIA_H // _GRID_ROWS, MEDIA_W // _GRID_COLS
    # bulk per-region draws (one rng call per attribute, not per region)
    y0s = rng.integers(2, 8, n_regions)
    x0s = rng.integers(2, 12, n_regions)
    bhs = rng.integers(8, cell_h - 10, n_regions)
    bws = rng.integers(16, cell_w - 16, n_regions)
    flavor = rng.random((n_regions, 3))  # weak / low-conf / ignore rolls
    word2 = rng.random(n_regions) < 0.4
    widx = rng.integers(len(VOCAB), size=(n_regions, 2))
    regions = []
    for k, cell in enumerate(sorted(cells.tolist())):
        gr, gc = divmod(cell, _GRID_COLS)
        y0 = gr * cell_h + int(y0s[k])
        x0 = gc * cell_w + int(x0s[k])
        bh = int(bhs[k])
        bw = int(bws[k])
        y1, x1 = y0 + bh, x0 + bw
        weak_paint = flavor[k, 0] < 0.10
        low_conf = flavor[k, 1] < 0.15
        ignore = flavor[k, 2] < 0.10
        # paint the SHRUNK kernel region, as DBNet's training targets do
        # (MakeShrinkMap: offset = area*(1-r^2)/perimeter with r=0.4,
        # opendet/preprocess/db_label_encode.py:66-216); detection's
        # unclip (ratio 1.5) then approximately restores the full GT
        # extent — the real DB shrink/unclip pairing
        area = float((bw + 1) * (bh + 1))
        perim = 2.0 * (bw + bh + 2)
        d = int(round(area * 0.84 / perim))
        d = max(0, min(d, (bw - 4) // 2, (bh - 4) // 2))
        score_map[y0 + d : y1 - d + 1, x0 + d : x1 - d + 1] = (
            p_weak if weak_paint else p_strong
        )
        n_words = 1 + int(word2[k])
        gt_text = " ".join(VOCAB[int(widx[k, j])] for j in range(n_words))
        # logits are the only rng draws inside this loop and nothing is
        # drawn after it, so skipping them (with_logits=False — the
        # preproc-target path needs geometry/score_map only, and
        # make_logits was ~45% of synthesis cost) leaves every other
        # field of the payload bit-identical
        logits = make_logits(gt_text, rng, weak=low_conf) if with_logits else None
        regions.append(
            {
                "points": [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                "ignore": bool(ignore),
                "gt_text": gt_text,
                "logits": logits,
            }
        )
    return {
        "media_ref": media_ref,
        "width": MEDIA_W,
        "height": MEDIA_H,
        "score_map": score_map,
        "regions": regions,
    }


def payload_row(media_ref: str) -> dict:
    """payload_for_media_ref serialized to the MEDIA_PAYLOADS schema
    (numpy → bytes for Arrow transport). The score map is stored as
    uint8 (prob × 255 — LOSSLESS: the generator's levels sit on the
    /255 grid) — 4× fewer bytes on disk AND on the Arrow wire into the
    Python kernel, which is where the joined path's time goes; the
    kernel sniffs the dtype from the buffer length, so float32 payload
    tables keep working."""
    p = payload_for_media_ref(media_ref)
    u8 = np.round(p["score_map"] * np.float32(255.0)).astype(np.uint8)

    def logits_bytes(lg: np.ndarray) -> bytes:
        # float16 when (and only when) the cast is LOSSLESS — the
        # generator's logit levels {0, 0.25, 8.0} are all exactly
        # float16-representable, halving the wire/disk bytes; any
        # future non-representable level silently falls back to
        # float32 rather than quietly rounding
        lg16 = lg.astype(np.float16)
        if np.array_equal(lg16.astype(np.float32), lg):
            return lg16.tobytes()
        return lg.tobytes()

    return {
        "media_ref": p["media_ref"],
        "width": p["width"],
        "height": p["height"],
        "score_map": u8.tobytes(),
        "regions": [
            {
                "points": r["points"],
                "ignore": r["ignore"],
                "gt_text": r["gt_text"],
                "logits": logits_bytes(r["logits"]),
                "logits_t": int(r["logits"].shape[0]),
            }
            for r in p["regions"]
        ],
    }


def _text_span(rng: np.random.Generator) -> str:
    kind = rng.random()
    if kind < 0.12:  # boilerplate: marker-tagged (P7 analog)
        marker = BOILERPLATE_MARKERS[int(rng.integers(len(BOILERPLATE_MARKERS)))]
        body = " ".join(VOCAB[int(rng.integers(len(VOCAB)))] for _ in range(3))
        return f"{marker} {body}"
    if kind < 0.18:  # boilerplate: link farm (high href density)
        return " ".join("href=x" for _ in range(int(rng.integers(4, 9))))
    if kind < 0.22:  # boilerplate: too short
        return VOCAB[int(rng.integers(len(VOCAB)))][:2]
    n = int(rng.integers(5, 25))
    return " ".join(VOCAB[int(rng.integers(len(VOCAB)))] for _ in range(n))


def spans_for_doc(doc_id: str, skew: bool = False) -> list[dict]:
    """Interleaved span list for one document (FIXTURES.md F-A knobs:
    spans_per_doc ~ 1..40, media_fraction ~ 0.2; skew docs get ~50x the
    median media spans)."""
    rng = _rng(doc_id)
    n_spans = int(rng.integers(1, 41))
    spans = []
    offset = 0
    media_i = 0
    n_extra_media = 150 if skew else 0
    for i in range(n_spans + n_extra_media):
        force_media = i >= n_spans
        if force_media or rng.random() < 0.2:
            spans.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": f"media://{doc_id}/{media_i}",
                    "offset": offset,
                }
            )
            media_i += 1
            offset += 1
        else:
            t = _text_span(rng)
            spans.append({"kind": "text", "text": t, "media_ref": None, "offset": offset})
            offset += len(t) + 1
    return spans


def is_skew_doc(doc_idx: int) -> bool:
    return doc_idx % 100 == 7  # deterministic 1% media-heavy tail


def doc_id_for(doc_idx: int) -> str:
    return f"doc-{doc_idx:08d}"


def gen_documents_pdf(n_docs: int) -> pd.DataFrame:
    """Single-node generator → pandas (doc_id, spans)."""
    rows = []
    for i in range(n_docs):
        did = doc_id_for(i)
        rows.append({"doc_id": did, "spans": spans_for_doc(did, skew=is_skew_doc(i))})
    return pd.DataFrame(rows)


def media_refs_of(docs_pdf: pd.DataFrame) -> list[str]:
    refs = []
    for spans in docs_pdf["spans"]:
        refs.extend(s["media_ref"] for s in spans if s["kind"] == "media")
    return refs


def gen_media_payloads_pdf(media_refs: list[str]) -> pd.DataFrame:
    return pd.DataFrame([payload_row(r) for r in media_refs])


LAYOUT_SCHEMA = (
    "doc_id string, cls_id int, label string, score double, "
    "bbox array<double>, custom_value double, text string"
)


def layout_blocks_for_doc(doc_id: str) -> list[dict]:
    """Deterministic layout-block fixture (FIXTURES.md F-D) covering ALL
    25 reference layout classes (infer_doc_onnx.py:243-268) across the
    doc population: title, text columns with alignment-mergeable runs, a
    table with contained figures (one too small to tokenize), formulas
    (display/inline/number), chart + figure_title, image-kind blocks
    (image, seal, header_image, footer_image), boilerplate
    (header/footer/aside_text/number/footnote/vision_footnote),
    reference + reference_content (the former is pre-dropped by overlap
    filtering — utils.py:140-144), abstract/content/algorithm/
    paragraph_title/vertical_text, a crafted >0.7-overlap duplicate, a
    degenerate (int-truncated empty crop) box and a low-score noise
    block. Geometry keeps unrelated blocks pairwise below the 0.7
    overlap threshold so only the crafted pair dedups."""
    rng = _rng("layout:" + doc_id)

    def blk(label, score, bbox, order, cls_id=0):
        return {
            "doc_id": doc_id,
            "cls_id": cls_id,
            "label": label,
            "score": float(score),
            "bbox": [float(v) for v in bbox],
            "custom_value": float(order),
            "text": None,
        }

    blocks = [
        blk("header", 0.9, [10, 0, 590, 18], 0),
    ]
    order = 1.0
    if rng.random() < 0.4:
        blocks.append(blk("header_image", 0.88, [540, 20, 588, 26], order))
        order += 1
    blocks.append(blk("doc_title", 0.95, [60, 30, 540, 60], order)); order += 1
    if rng.random() < 0.4:
        blocks.append(blk("abstract", 0.9, [40, 64, 560, 76], order)); order += 1
    y = 80.0
    for _ in range(int(rng.integers(2, 5))):
        h = float(rng.integers(30, 60))
        blocks.append(blk("text", 0.85, [40, y, 300, y + h], order))
        order += 1
        if rng.random() < 0.5:  # aligned continuation (mergeable, G13)
            h2 = float(rng.integers(20, 40))
            blocks.append(blk("text", 0.85, [40, y + h + 2, 300, y + h + 2 + h2], order))
            order += 1
            y += h + h2 + 20
        else:
            y += h + 20
    blocks.append(blk("table", 0.9, [320, 80, 580, 220], order)); order += 1
    if rng.random() < 0.5:  # figure contained in the table (J5)
        blocks.append(blk("image", 0.9, [340, 100, 420, 160], order)); order += 1
    if rng.random() < 0.3:  # contained but min-dim < 25 → no token
        blocks.append(blk("image", 0.86, [430, 100, 452, 118], order)); order += 1
    blocks.append(blk("display_formula", 0.9, [320, 240, 580, 280], order)); order += 1
    if rng.random() < 0.4:  # formula_number: formula-routed (suffix bug)
        blocks.append(blk("formula_number", 0.87, [582, 246, 598, 274], order)); order += 1
    if rng.random() < 0.35:
        blocks.append(blk("inline_formula", 0.85, [320, 286, 430, 295], order)); order += 1
    blocks.append(blk("chart", 0.85, [320, 300, 580, 420], order)); order += 1
    if rng.random() < 0.4:
        blocks.append(blk("figure_title", 0.9, [320, 424, 580, 438], order)); order += 1
    if rng.random() < 0.35:
        blocks.append(blk("content", 0.84, [320, 442, 580, 468], order)); order += 1
    if rng.random() < 0.3:
        blocks.append(blk("algorithm", 0.86, [320, 474, 580, 520], order)); order += 1
    if rng.random() < 0.3:
        blocks.append(blk("vertical_text", 0.83, [585, 300, 598, 420], order)); order += 1
    if rng.random() < 0.3:
        blocks.append(blk("seal", 0.82, [500, 530, 560, 590], order)); order += 1
    if rng.random() < 0.35:
        blocks.append(blk("paragraph_title", 0.9, [40, 556, 300, 576], order)); order += 1
    if rng.random() < 0.4:  # dropped outright by J4's pre-filter
        blocks.append(blk("reference", 0.9, [40, 600, 300, 640], order)); order += 1
    if rng.random() < 0.4:
        blocks.append(blk("reference_content", 0.88, [40, 646, 300, 700], order)); order += 1
    if rng.random() < 0.3:
        blocks.append(blk("aside_text", 0.8, [2, 200, 28, 400], order)); order += 1
    if rng.random() < 0.6:  # >0.7 overlap-over-smaller duplicate (J4)
        blocks.append(blk("text", 0.6, [45, 85, 200, 130], order)); order += 1
        blocks.append(blk("text", 0.55, [50, 90, 150, 125], order)); order += 1
    if rng.random() < 0.25:  # degenerate int-truncated crop → no recognition
        blocks.append(blk("text", 0.8, [100.2, 505, 100.9, 540], order)); order += 1
    if rng.random() < 0.3:
        blocks.append(blk("footnote", 0.85, [40, 706, 300, 722], order)); order += 1
    if rng.random() < 0.3:
        blocks.append(blk("vision_footnote", 0.84, [320, 706, 580, 722], order)); order += 1
    if rng.random() < 0.3:
        blocks.append(blk("footer_image", 0.85, [20, 728, 60, 744], order)); order += 1
    if rng.random() < 0.35:
        blocks.append(blk("number", 0.9, [290, 748, 310, 756], order)); order += 1
    blocks.append(blk("text", 0.2, [0, 0, 8, 8], order)); order += 1  # low score
    blocks.append(blk("footer", 0.9, [10, 760, 590, 780], order))
    return blocks


def gen_layout_blocks_pdf(n_docs: int) -> pd.DataFrame:
    rows = []
    for i in range(n_docs):
        rows.extend(layout_blocks_for_doc(doc_id_for(i)))
    return pd.DataFrame(rows)


def layout_blocks_df(doc_ids):
    """Distributed layout-block fixture from a (doc_id) DataFrame."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"].astype(str).tolist():
                rows.extend(layout_blocks_for_doc(d))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "cls_id", "label", "score",
                    "bbox", "custom_value", "text",
                ],
            )

    return doc_ids.select("doc_id").mapInPandas(gen, schema=LAYOUT_SCHEMA)


# ---------------------------------------------------------------- Spark side


def documents_df(spark, n_docs: int, partitions: int | None = None):
    """Distributed deterministic corpus: spark.range → mapInPandas
    generator. Scales to arbitrary n_docs with no driver materialization
    (this is how the bench corpus is built)."""
    from openocr_spark import schemas

    parts = partitions or spark.sparkContext.defaultParallelism
    rng_df = spark.range(0, n_docs, 1, parts)

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"].tolist():
                did = doc_id_for(int(i))
                out.append(
                    {"doc_id": did, "spans": spans_for_doc(did, skew=is_skew_doc(int(i)))}
                )
            yield pd.DataFrame(out)

    return rng_df.mapInPandas(gen, schema=schemas.DOCUMENTS)


def media_payloads_df(spark, documents):
    """Distributed payload table keyed by media_ref (FIXTURES.md F-B)."""
    from pyspark.sql import functions as F

    from openocr_spark import schemas

    refs = (
        documents.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
    )

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([payload_row(r) for r in pdf["media_ref"].tolist()])

    return refs.mapInPandas(gen, schema=schemas.MEDIA_PAYLOADS)
