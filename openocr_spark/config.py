"""Pipeline configuration.

Default thresholds mirror the reference's inference defaults:
  binarize_thresh 0.3   — DBPostProcess `thresh` (db_postprocess.py:220)
  box_thresh      0.6   — region-score filter (db_postprocess.py:117-122,
                          configs/det/dbnet/repvit_db.yml PostProcess)
  min_size        3     — min box side (db_postprocess.py:113-114)
  unclip_ratio    1.5   — polygon dilation ratio (db_postprocess.py:141-147)
  drop_score      0.5   — recognition-confidence span filter
                          (tools/infer_e2e.py:85,194-201)
  line_tol        10    — reading-order same-line y tolerance in px
                          (tools/infer_e2e.py:54-75 `sorted_boxes`)
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    binarize_thresh: float = 0.3
    box_thresh: float = 0.6
    min_size: int = 3
    unclip_ratio: float = 1.5
    drop_score: float = 0.5
    line_tol: int = 10
    # recognition decode head, selected by name like the reference's
    # PostProcess config (openrec/postprocess/__init__.py
    # build_post_process): ctc | nrtr | srn | gtc | ce | char | abinet |
    # cppd | smtr | lister | igtr | visionlan | mgp_char | unirec |
    # cmer | mgp_bpe | mgp_wp  (operators/extract._decode_fn)
    rec_head: str = "ctc"
    # id→token table for the tokenizer-backed heads (unirec / cmer /
    # mgp_bpe / mgp_wp) — the trained-tokenizer external artifact, as a
    # tuple of (id, token) pairs so the frozen config stays hashable;
    # kernels/tokenizer.py builds the deterministic fixture one and
    # (de)serializes the content-addressed artifact form
    token_map: tuple[tuple[int, str], ...] | None = None


DEFAULT_CONFIG = ExtractConfig()

# Recognition charset — tiny stand-in for ppocr_keys_v1.txt (6623 chars,
# openrec/postprocess/ctc_postprocess.py:19-34). Blank token is id 0,
# prepended exactly like ctc_postprocess.py:116-118.
CHARSET: str = "abcdefghijklmnopqrstuvwxyz0123456789 "
CHAR_TO_ID: dict[str, int] = {c: i + 1 for i, c in enumerate(CHARSET)}
ID_TO_CHAR: dict[int, str] = {i + 1: c for i, c in enumerate(CHARSET)}
NUM_CLASSES: int = len(CHARSET) + 1  # + blank
