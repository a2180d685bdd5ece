"""Canonical StructTypes for every pipeline stage.

The reference has no schema system (implicit dict-key conventions,
SURVEY.md §1.3); here every stage boundary is a fixed StructType so
Catalyst can prune/push down.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table (BASELINE.json input_hint): interleaved text+media documents.
SPAN_IN = T.StructType(
    [
        T.StructField("kind", T.StringType()),       # 'text' | 'media'
        T.StructField("text", T.StringType()),       # null for media
        T.StructField("media_ref", T.StringType()),  # null for text
        T.StructField("offset", T.IntegerType()),    # order within doc
    ]
)
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_IN)),
    ]
)

# Exploded per-span intermediate.
SPAN_ROW = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)

# Output table: per-document ordered span sequence. `order` is the
# 0-based rank of surviving spans (per-row invariant: span-sequence
# equality (kind, text, media_ref, order) vs the reference semantics).
SPAN_OUT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("order", T.IntegerType()),
    ]
)
EXTRACTIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_OUT)),
    ]
)

# Media payloads (FIXTURES.md F-B): what `media_ref` resolves to. The
# score_map is the DBNet-style probability map (analogous to
# opendet/modeling/heads/db_head.py output), serialized as uint8
# (prob*255 — the default lossless narrow format payload_row writes;
# legacy float32[h,w] buffers also decode — the reader length-sniffs
# via extract._score_map); region logits are per-GT-region CTC
# logit matrices [T, NUM_CLASSES] (float16 when losslessly
# representable, else float32 — sniffed by extract._logits_block,
# serialized), analogous to the recognizer head output
# (openrec/modeling/base_recognizer.py).
REGION = T.StructType(
    [
        T.StructField("points", T.ArrayType(T.ArrayType(T.IntegerType()))),  # 4x2 quad
        T.StructField("ignore", T.BooleanType()),  # don't-care (eval_det_iou.py:86)
        T.StructField("gt_text", T.StringType()),
        T.StructField("logits", T.BinaryType()),   # f16|f32 [T*NUM_CLASSES], sniffed
        T.StructField("logits_t", T.IntegerType()),
    ]
)
MEDIA_PAYLOADS = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("score_map", T.BinaryType()),  # uint8|f32 [h*w], sniffed
        T.StructField("regions", T.ArrayType(REGION)),
    ]
)

# Per-detected-region detail rows (for metrics / system_results sink;
# mirrors tools/infer_e2e.py:272-276 {'transcription','points','score'}).
DET_REC_DETAIL = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("region_idx", T.IntegerType()),   # reading order (W1)
        T.StructField("points", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("det_score", T.DoubleType()),
        T.StructField("transcription", T.StringType()),
        T.StructField("rec_score", T.DoubleType()),
        T.StructField("gt_text", T.StringType()),  # fixture GT (eval only)
    ]
)

# Manifest / checkpoint table (FIXTURES.md F-F, SURVEY §2.9 ST3).
MANIFEST = T.StructType(
    [
        T.StructField("partition_id", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("docs", T.LongType()),
        T.StructField("spans", T.LongType()),
        T.StructField("spans_per_sec", T.DoubleType()),
        T.StructField("lineage", T.StringType()),
    ]
)
