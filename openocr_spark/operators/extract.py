"""The flagship extraction pipeline (SURVEY.md §4 physical plan).

Logical flow (one declarative DataFrame plan; reference flow traced in
SURVEY §3.1-3.2 from tools/infer_e2e.py:220-402 / infer_doc_onnx.py:758-1028):

  scan documents
  → posexplode(spans)                                   [narrow]
  → split on kind:
      text  → boilerplate classifier (vectorized exprs) → keep clean
      media → join media_payloads on media_ref (joined payloads)
              | repartition(P, media_ref) (synthesized payloads)
              ← THE one salted wide shuffle: distributes media work
              uniformly regardless of how many media spans a single
              document has (media-heavy skew tail, SURVEY §4 O5)
            → mapInArrow det+rec kernel (one body for both payload
              modes; per-row numpy)
  → unionByName
  → groupBy(doc_id): collect → array_sort by offset → index ⇒ `order`
    [second shuffle, partitioned by doc_id]

Scale notes (100 TB / 10^12 docs):
  - the documents scan only reads (doc_id, spans) — column pruning via
    Catalyst; at Iceberg scale, partition pruning by the manifest
    anti-join happens before this plan (operators/manifest.py).
  - the media_payloads join is an equi-join on media_ref; with both
    tables bucketed by media_ref (Iceberg `bucket(N, media_ref)`) it is
    a storage-partitioned join — no shuffle of the heavy payload side.
  - the kernel stage holds ≤ arrow.maxRecordsPerBatch payloads in memory
    per task; executor memory is bounded regardless of doc skew.
  - final assembly groups whole documents so the reading-order semantics
    (W1) stay exact under distribution.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openocr_spark import schemas
from openocr_spark.config import DEFAULT_CONFIG, ExtractConfig
from openocr_spark.kernels.detection import (
    assign_regions_to_boxes,
    detect_boxes,
    reading_order,
)
from openocr_spark.kernels.recognition import ctc_greedy_decode
from openocr_spark.operators.boilerplate import is_boilerplate


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents → one row per span (doc_id, span_idx, kind, text,
    media_ref, offset). posexplode_outer keeps zero-span documents as a
    single null-span row, so every doc_id survives to assembly without a
    join back to the input (processed-empty must stay distinguishable
    from unprocessed at 10^12-doc scale)."""
    return documents.select(
        "doc_id", F.posexplode_outer("spans").alias("span_idx", "span")
    ).select("doc_id", "span_idx", "span.*")


TOKENIZER_HEADS = frozenset({"unirec", "cmer", "mgp_bpe", "mgp_wp"})
# heads whose reference tools emit NO confidence (and never pass
# through a drop_score filter) — exempt from the score cut, else the
# default drop_score would silently drop every decoded text
NO_CONF_HEADS = frozenset({"unirec", "cmer"})


def _ce_head(logits: np.ndarray):
    """CE is a whole-image single-position head — feed it position 0."""
    from openocr_spark.kernels import decode_heads as H

    return H.ce_decode(logits[0] if logits is not None and len(logits) else logits)


def _gtc_head(logits: np.ndarray):
    """GTC guidance branch only (the inference path; the CTC auxiliary
    branch needs its own logits tensor)."""
    from openocr_spark.kernels.recognition import gtc_decode

    return gtc_decode(logits, None, only_gtc=True)[0]


def _decode_fn(name: str, token_map=None):
    """Decode-head dispatch by config name — the build_post_process
    analog (openrec/postprocess/__init__.py maps the yml PostProcess
    name to a decode class; here it maps cfg.rec_head to a kernel).
    Every single-logits-compatible head family is reachable; the
    tokenizer-backed heads additionally require cfg.token_map (the
    trained-tokenizer artifact) and fail fast at closure-build time
    without it. Dual-tensor heads (gtc aux, char aux box branch, mgp
    fusion) expose their primary branch here and their full form as
    direct kernel calls."""
    from openocr_spark.kernels import decode_heads as H
    from openocr_spark.kernels.recognition import (
        nrtr_greedy_decode,
        srn_fixed_decode,
    )

    table = {
        "ctc": ctc_greedy_decode,
        "nrtr": nrtr_greedy_decode,
        # char primary: the CharLabelDecode main branch decodes over the
        # same NRTR vocabulary with the same EOS/skip rules
        # (char_postprocess.py:17-66) — the aux box branch needs its own
        # logits (kernels: H.char_dual_decode)
        "char": nrtr_greedy_decode,
        "srn": srn_fixed_decode,
        "gtc": _gtc_head,
        "ce": _ce_head,
        "abinet": H.abinet_decode,
        "cppd": H.cppd_decode,
        "smtr": H.smtr_decode,
        "lister": H.lister_decode,
        "igtr": H.igtr_decode,
        "visionlan": H.visionlan_decode,
        "mgp_char": H.mgp_char_decode,
    }
    if name in TOKENIZER_HEADS:
        if not token_map:
            raise ValueError(
                f"rec_head {name!r} is tokenizer-backed and needs "
                "ExtractConfig.token_map (the trained-tokenizer artifact; "
                "kernels/tokenizer.py ships the fixture one)"
            )
        id_to_token = dict(token_map)
        if name == "unirec":
            def tok_head(logits):  # noqa: ANN001
                ids, _ = H._argmax_conf(logits)
                return H.unirec_decode(ids, id_to_token)
        elif name == "cmer":
            def tok_head(logits):  # noqa: ANN001
                ids, _ = H._argmax_conf(logits)
                return H.cmer_decode(ids, id_to_token)
        elif name == "mgp_bpe":
            def tok_head(logits):  # noqa: ANN001
                ids, probs = H._argmax_conf(logits)
                return H.mgp_bpe_decode(ids, probs, id_to_token)
        else:  # mgp_wp
            from openocr_spark.kernels.tokenizer import sep_id

            sep = sep_id(tuple(id_to_token.items()))

            def tok_head(logits):  # noqa: ANN001
                ids, probs = H._argmax_conf(logits)
                return H.mgp_wp_decode(ids, probs, id_to_token, sep_id=sep)

        return tok_head
    try:
        return table[name]
    except KeyError:
        raise ValueError(
            f"unknown rec_head {name!r}; expected one of "
            f"{', '.join(sorted(table))}, {', '.join(sorted(TOKENIZER_HEADS))}"
        ) from None


# every head name reachable from ExtractConfig(rec_head=...) — the
# config-selectable surface the dispatch test enumerates against the
# implemented-kernel list
REC_HEAD_NAMES: tuple[str, ...] = (
    "ctc", "nrtr", "char", "srn", "gtc", "ce", "abinet", "cppd", "smtr",
    "lister", "igtr", "visionlan", "mgp_char",
    "unirec", "cmer", "mgp_bpe", "mgp_wp",
)


def detect_in_reading_order(
    prob: np.ndarray, regions: list[dict], cfg: ExtractConfig
) -> tuple[list[np.ndarray], list[float], list[int]]:
    """detect → reading order → region lookup, shared by the extraction
    kernel and `metrics.extract_detail`: the detected boxes in reading
    order, their detection scores, and per box the index of the region
    whose logits it reads (-1 if none; the crop-step surrogate)."""
    boxes, scores = detect_boxes(
        prob,
        thresh=cfg.binarize_thresh,
        box_thresh=cfg.box_thresh,
        min_size=cfg.min_size,
        unclip_ratio=cfg.unclip_ratio,
    )
    order = reading_order(boxes, line_tol=cfg.line_tol)
    boxes = [boxes[i] for i in order]
    pts = [np.asarray(r["points"]) for r in regions]
    return boxes, [scores[i] for i in order], assign_regions_to_boxes(boxes, pts)


def _process_media_arrays(
    prob: np.ndarray, regions: list[dict], cfg: ExtractConfig, decode=None
) -> str:
    """Per-media kernel flow: detect → reading order → recognize → filter
    → newline-join (infer_e2e.py:155-218 infer_single_image analog).
    `decode` is the resolved decode-head kernel — the batch kernel
    resolves it ONCE at closure-build time (driver side, so a bad
    cfg.rec_head fails before any job launches, and the hot loop skips
    168k dispatch lookups); None resolves here for direct callers."""
    if decode is None:
        decode = _decode_fn(cfg.rec_head, cfg.token_map)
    _, _, assigned = detect_in_reading_order(prob, regions, cfg)
    texts = []
    for ridx in assigned:
        if ridx < 0:
            continue
        text, score = decode(regions[ridx]["logits"])
        if score >= cfg.drop_score or cfg.rec_head in NO_CONF_HEADS:
            texts.append(text)
    return "\n".join(texts)


def _prob_from_buffer(buf, h: int, w: int) -> np.ndarray:
    """Decode a score-map payload cell, dtype sniffed from its length:
    h·w·4 bytes = float32; h·w bytes = uint8 (probability × 255 — the
    4×-narrower storage/wire format media_payloads_df writes by
    default; maps quantized to the /255 grid at generation, so the
    round-trip is LOSSLESS and both payload paths stay bit-equal)."""
    if len(buf) == h * w * 4:
        return np.frombuffer(buf, dtype=np.float32).reshape(h, w)
    if len(buf) == h * w:
        u8 = np.frombuffer(buf, dtype=np.uint8).reshape(h, w)
        # float32 division, matching the generator's k/255 arithmetic
        # exactly (a *(1/255) form would differ in the last ulp)
        return u8.astype(np.float32) / np.float32(255.0)
    raise ValueError(
        f"score_map payload of {len(buf)} bytes matches neither "
        f"float32 ({h * w * 4}) nor uint8 ({h * w}) for shape {h}x{w}"
    )


def _logits_from_buffer(buf, t: int) -> np.ndarray:
    """Decode a logits payload cell of t timesteps, dtype sniffed
    against the engine's class count: t·C·4 bytes = float32, t·C·2 =
    float16 (the lossless narrow format payload_row writes when every
    value is exactly float16-representable). The class-count anchor is
    required — C is even, so "divisible by 4t" alone would misread a
    float16 buffer as a float32 one with half the columns. Returns
    float32 — for the narrow format the up-cast is bit-exact by the
    writer's contract."""
    from openocr_spark.config import NUM_CLASSES

    if len(buf) == t * NUM_CLASSES * 4:
        return np.frombuffer(buf, dtype=np.float32).reshape(t, -1)
    if len(buf) == t * NUM_CLASSES * 2:
        return np.frombuffer(buf, dtype=np.float16).reshape(t, -1).astype(np.float32)
    raise ValueError(
        f"logits payload of {len(buf)} bytes is neither float32 "
        f"({t * NUM_CLASSES * 4}) nor float16 ({t * NUM_CLASSES * 2}) "
        f"for {t} timesteps x {NUM_CLASSES} classes"
    )


def _joined_payloads(batch):
    """(prob, regions) per row of a batch joined with media_payloads.

    The payload columns are wide binary cells (~60KB score maps, logits);
    a pandas batch would materialize every cell as a Python bytes object
    (copy) and every region as a dict — measured 59s for an 11GB batch
    stream where the actual decode work is ~2s. numpy wraps the Arrow
    buffers zero-copy (`scalar.as_buffer()`), so only the small int and
    points columns are materialized."""
    heights = batch.column("height").to_pylist()
    widths = batch.column("width").to_pylist()
    sm_col = batch.column("score_map")
    regions_col = batch.column("regions")
    for i in range(batch.num_rows):
        prob = _prob_from_buffer(
            sm_col[i].as_buffer(), int(heights[i]), int(widths[i])
        )
        regs = regions_col[i]
        regions = []
        for j in range(len(regs)):
            r = regs[j]
            logits = _logits_from_buffer(
                r["logits"].as_buffer(), int(r["logits_t"].as_py())
            )
            regions.append({"points": r["points"].as_py(), "logits": logits})
        yield prob, regions


def _synthesized_payloads(batch):
    """(prob, regions) per row, generated deterministically from
    media_ref inside the executor (fixture path — distributes
    generation, nothing crosses the driver)."""
    from openocr_spark.fixtures import payload_for_media_ref

    for ref in batch.column("media_ref").to_pylist():
        p = payload_for_media_ref(ref)
        yield p["score_map"], p["regions"]


def _media_kernel(cfg: ExtractConfig, payloads):
    """mapInArrow det+rec kernel, one body for both payload modes.
    `payloads(batch)` yields (prob, regions) for each row of a batch
    (`_joined_payloads` or `_synthesized_payloads`); the row keys pass
    through as Arrow columns."""

    decode = _decode_fn(cfg.rec_head, cfg.token_map)  # driver-side fail-fast

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            out_text = [
                _process_media_arrays(prob, regions, cfg, decode)
                for prob, regions in payloads(batch)
            ]
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": batch.column("doc_id"),
                    "offset": batch.column("offset"),
                    "kind": ["media"] * batch.num_rows,
                    "text": out_text,
                    "media_ref": batch.column("media_ref"),
                }
            )

    return kernel


def extract_flat(
    documents: DataFrame,
    media_payloads: DataFrame | None = None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    persist_spans: bool = False,
) -> DataFrame:
    """documents → span rows (doc_id, offset, kind, text, media_ref)
    BEFORE order assignment. Text spans stay entirely JVM-side; media
    spans cross into kernel space once.

    Dropped spans (boilerplate) and null spans (zero-span docs) are kept
    as kind=NULL tombstone rows so every doc_id reaches assembly in one
    pass — assembly filters them out of the span array. This avoids a
    join back to the input *and* a second evaluation of the input plan.

    `persist_spans` caches the exploded intermediate; use it when the
    input lineage is expensive to recompute (e.g. a generator or a
    remote scan read by both the text and media branches). At Iceberg
    scale you'd typically leave this off — the two branch scans are
    column-pruned parquet reads."""
    spark = documents.sparkSession
    spans = explode_spans(documents)
    if persist_spans:
        spans = spans.persist()

    non_media = spans.filter(
        (F.col("kind") != "media") | F.col("kind").isNull()
    ).select(
        "doc_id",
        "offset",
        # tombstone boilerplate: kind/text nulled, row kept for doc presence
        F.when(
            (F.col("kind") == "text") & ~is_boilerplate(F.col("text")), F.col("kind")
        ).alias("kind"),
        F.when(
            (F.col("kind") == "text") & ~is_boilerplate(F.col("text")), F.col("text")
        ).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )

    media = spans.filter(F.col("kind") == "media").select("doc_id", "offset", "media_ref")
    if media_payloads is not None:
        # the equi-join on media_ref IS the salt on this path: its output
        # is distributed by media_ref (or by the payload table's own
        # layout when the light media side broadcasts) — re-partitioning
        # the joined rows would shuffle the heavy payload bytes a second
        # time for no distribution gain. At Iceberg scale, matching
        # bucket(N, media_ref) specs make this a storage-partitioned
        # join: the payload bytes never shuffle at all.
        media = media.join(media_payloads, "media_ref")
        payloads = _joined_payloads
    else:
        # synthesize path carries only (doc_id, offset, media_ref): the
        # ONE salted wide shuffle distributing media work uniformly,
        # immune to media-heavy documents (media_ref is unique per span)
        media = media.repartition(
            2 * spark.sparkContext.defaultParallelism, "media_ref"
        )
        payloads = _synthesized_payloads
    media_out = media.mapInArrow(
        _media_kernel(cfg, payloads), schema=schemas.SPAN_ROW
    )

    return non_media.unionByName(media_out)


def extract(
    documents: DataFrame,
    media_payloads: DataFrame | None = None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    persist_spans: bool = False,
) -> DataFrame:
    """Full pipeline → extractions (doc_id, spans array<struct<kind,
    text, media_ref, order>>). One groupBy(doc_id) shuffle does ordering
    + assembly: collect_list → array_sort on offset (struct comparison
    sorts by the first field) → drop tombstones → transform-with-index
    assigns `order`. No separate window shuffle, no join back to input.

    Every input document appears in the output — a doc whose spans were
    all filtered still gets an empty span array (the reference emits a
    result record per input image even when nothing survives,
    tools/infer_doc_onnx.py:1012-1022); at 10^12-doc scale, dropping
    empty docs would make 'processed, empty' indistinguishable from
    'not yet processed' for resume/audit. Tombstone rows from
    extract_flat carry those doc_ids through the groupBy."""
    flat = extract_flat(documents, media_payloads, cfg, persist_spans)
    assembled = F.transform(
        F.filter(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ),
            lambda s: s["kind"].isNotNull(),
        ),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    )
    return flat.groupBy("doc_id").agg(assembled.alias("spans"))
