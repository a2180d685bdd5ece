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
              modes; each Arrow batch is one detect → assign → CTC
              pass over flat arrays: a mask stack labelled at once, all
              regions' logits decoded as one block)
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
    per task, plus the batch kernel's working set (one bool mask stack
    and one float64 logits block), which scales with that value;
    executor memory is bounded regardless of doc skew.
  - final assembly groups whole documents so the reading-order semantics
    (W1) stay exact under distribution.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openocr_spark import schemas
from openocr_spark.config import DEFAULT_CONFIG, ExtractConfig
from openocr_spark.kernels.detection import (
    detect_batch,
    first_region_inside,
    reading_order,
    region_centers,
)
from openocr_spark.kernels.recognition import ctc_greedy_decode_batch
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


def _per_region(head):
    """Batch decoder over a per-region head: calls it on each region's
    view into the logits block."""

    def decode(logits: np.ndarray, offsets: np.ndarray):
        bounds = np.asarray(offsets).tolist()
        res = [head(logits[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
        return [t for t, _ in res], [c for _, c in res]

    return decode


def _decode_fn(name: str, token_map=None):
    """Decode-head dispatch by config name — the build_post_process
    analog (openrec/postprocess/__init__.py maps the yml PostProcess
    name to a decode class; here it maps cfg.rec_head to a kernel).
    Returns a batch decoder `decode(logits, offsets) -> (texts, scores)`
    over a (ΣT, C) logits block, region k being rows
    offsets[k]:offsets[k+1]: CTC decodes the block vectorized, every
    other head runs per region through `_per_region`.
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

        return _per_region(tok_head)
    if name == "ctc":
        return ctc_greedy_decode_batch
    try:
        return _per_region(table[name])
    except KeyError:
        raise ValueError(
            f"unknown rec_head {name!r}; expected one of "
            f"ctc, {', '.join(sorted(table))}, {', '.join(sorted(TOKENIZER_HEADS))}"
        ) from None


# every head name reachable from ExtractConfig(rec_head=...) — the
# config-selectable surface the dispatch test enumerates against the
# implemented-kernel list
REC_HEAD_NAMES: tuple[str, ...] = (
    "ctc", "nrtr", "char", "srn", "gtc", "ce", "abinet", "cppd", "smtr",
    "lister", "igtr", "visionlan", "mgp_char",
    "unirec", "cmer", "mgp_bpe", "mgp_wp",
)


class MediaBatch(NamedTuple):
    """The payloads of one Arrow batch as flat arrays. Region k of the
    batch owns logits rows t_off[k]:t_off[k+1]; row i owns regions
    reg_off[i]:reg_off[i+1]."""

    probs: list[np.ndarray]  # per row: 2-D score map, float32 or uint8 prob × 255
    reg_off: np.ndarray  # per row, into the regions (n_rows + 1)
    centers: np.ndarray  # per region: (x, y) centre of its points
    logits: np.ndarray  # all regions' logits, (ΣT, C) float32
    t_off: np.ndarray  # per region, into logits (n_regions + 1)


def _centers(regions_per_row: list[list[dict]]) -> np.ndarray:
    regs = [r for rs in regions_per_row for r in rs]
    points = np.array(
        [q for r in regs for q in r["points"]], dtype=np.int64
    ).reshape(-1, 2)
    return region_centers(points, np.cumsum([0] + [len(r["points"]) for r in regs]))


def _media_batch(
    probs: list[np.ndarray], regions_per_row: list[list[dict]]
) -> MediaBatch:
    """MediaBatch from in-memory payloads (`payload_for_media_ref`
    shape: regions are dicts with points and logits arrays)."""
    from openocr_spark.config import NUM_CLASSES

    logits = [r["logits"] for rs in regions_per_row for r in rs]
    return MediaBatch(
        probs,
        np.cumsum([0] + [len(rs) for rs in regions_per_row]),
        _centers(regions_per_row),
        np.concatenate(logits).astype(np.float32, copy=False)
        if logits
        else np.zeros((0, NUM_CLASSES), dtype=np.float32),
        np.cumsum([0] + [len(lg) for lg in logits]),
    )


def _detect_rows(
    probs: list[np.ndarray],
    reg_off: np.ndarray,
    centers: np.ndarray,
    cfg: ExtractConfig,
) -> tuple[np.ndarray, np.ndarray, list[tuple[list[int], list[int]]]]:
    """detect → reading order → region lookup for a batch of score maps:
    (quads, scores, rows), where rows[i] is (the indices into quads of
    row i's boxes in reading order, per box the row-local index of the
    region whose logits it reads, -1 if none — the crop-step
    surrogate). Ordering and lookup run per row on plain lists. Shared
    by the extraction kernel and `metrics.extract_detail`."""
    box_off, quads, scores = detect_batch(
        probs,
        thresh=cfg.binarize_thresh,
        box_thresh=cfg.box_thresh,
        min_size=cfg.min_size,
        unclip_ratio=cfg.unclip_ratio,
    )
    box_off, reg_off = box_off.tolist(), np.asarray(reg_off).tolist()
    boxes, cents = quads.tolist(), centers.tolist()
    rows = []
    for i in range(len(probs)):
        b0 = box_off[i]
        mine = boxes[b0 : box_off[i + 1]]
        order = reading_order(mine, line_tol=cfg.line_tol)
        assigned = first_region_inside(
            [mine[j] for j in order], cents[reg_off[i] : reg_off[i + 1]]
        )
        rows.append(([b0 + j for j in order], assigned))
    return quads, scores, rows


def _extract_texts(mb: MediaBatch, cfg: ExtractConfig, decode) -> list[str]:
    """Per-row kernel flow over a whole batch: detect → reading order →
    recognize → filter → newline-join (infer_e2e.py:155-218
    infer_single_image analog). Every region's logits are decoded in
    one call of the batch decoder; each box reads its region's result."""
    _, _, rows = _detect_rows(mb.probs, mb.reg_off, mb.centers, cfg)
    texts, scores = decode(mb.logits, mb.t_off)
    keep_all = cfg.rec_head in NO_CONF_HEADS
    return [
        "\n".join(
            texts[r0 + r]
            for r in assigned
            if r >= 0 and (keep_all or scores[r0 + r] >= cfg.drop_score)
        )
        for (_, assigned), r0 in zip(rows, np.asarray(mb.reg_off).tolist())
    ]


def _score_map(cell: np.ndarray, h: int, w: int) -> np.ndarray:
    """A score-map payload cell (uint8 bytes) as a 2-D view, dtype
    sniffed from its length: h·w·4 bytes = float32; h·w bytes = uint8
    (probability × 255 — the 4×-narrower storage/wire format
    media_payloads_df writes by default; maps are quantized to the /255
    grid at generation, so `as_prob` restores them LOSSLESSLY and both
    payload paths stay bit-equal)."""
    if len(cell) == h * w * 4:
        return cell.view(np.float32).reshape(h, w)
    if len(cell) == h * w:
        return cell.reshape(h, w)
    raise ValueError(
        f"score_map payload of {len(cell)} bytes matches neither "
        f"float32 ({h * w * 4}) nor uint8 ({h * w}) for shape {h}x{w}"
    )


def _logits_block(data: np.ndarray, byte_off: np.ndarray, ts: np.ndarray) -> np.ndarray:
    """Decode logits payload cells into one (ΣT, C) float32 block: cell
    k is data[byte_off[k]:byte_off[k+1]] with ts[k] timesteps, its dtype
    sniffed against the engine's class count: T·C·4 bytes = float32,
    T·C·2 = float16 (the lossless narrow format payload_row writes when
    every value is exactly float16-representable). The class-count
    anchor is required — C is even, so "divisible by 4T" alone would
    misread a float16 buffer as a float32 one with half the columns.
    For the narrow format the up-cast is bit-exact by the writer's
    contract. A zero-timestep cell is empty and adds no rows."""
    from openocr_spark.config import NUM_CLASSES

    byte_off = np.asarray(byte_off, dtype=np.int64)
    ts = np.asarray(ts, dtype=np.int64)
    lens = np.diff(byte_off)
    is16 = lens == ts * NUM_CLASSES * 2
    bad = np.flatnonzero(~is16 & (lens != ts * NUM_CLASSES * 4))
    if len(bad):
        n, t = int(lens[bad[0]]), int(ts[bad[0]])
        raise ValueError(
            f"logits payload of {n} bytes is neither float32 "
            f"({t * NUM_CLASSES * 4}) nor float16 ({t * NUM_CLASSES * 2}) "
            f"for {t} timesteps x {NUM_CLASSES} classes"
        )
    raw = data[byte_off[0] : byte_off[-1]]
    if is16.all():
        return raw.view(np.float16).reshape(-1, NUM_CLASSES).astype(np.float32)
    out = np.empty((int(ts.sum()), NUM_CLASSES), dtype=np.float32)
    byte16, row16 = np.repeat(is16, lens), np.repeat(is16, ts)
    out[row16] = raw[byte16].view(np.float16).reshape(-1, NUM_CLASSES)
    out[~row16] = raw[~byte16].view(np.float32).reshape(-1, NUM_CLASSES)
    return out


def _binary_cells(col) -> tuple[np.ndarray, np.ndarray]:
    """A binary Arrow array's data buffer as uint8 plus its per-cell
    offsets into it, both zero-copy (offsets honour a sliced array)."""
    _, off_buf, data_buf = col.buffers()
    off = np.frombuffer(off_buf, dtype=np.int32)[col.offset : col.offset + len(col) + 1]
    if data_buf is None:  # every cell empty
        return np.empty(0, np.uint8), off
    return np.frombuffer(data_buf, np.uint8), off


def _joined_payloads(batch) -> MediaBatch:
    """MediaBatch of a batch joined with media_payloads.

    The payload columns are wide binary cells (~15KB score maps,
    logits); a pandas batch would materialize every cell as a Python
    bytes object (copy) and every region as a dict — measured 59s for
    an 11GB batch stream where the actual decode work is ~2s. Here the
    score maps are 2-D views into the Arrow buffer, the logits one
    block decoded from the contiguous binary buffer, and the points one
    int array — no per-cell Arrow scalars."""
    data, off = _binary_cells(batch.column("score_map"))
    off = off.tolist()
    probs = [
        _score_map(data[off[i] : off[i + 1]], h, w)
        for i, (h, w) in enumerate(
            zip(batch.column("height").to_pylist(), batch.column("width").to_pylist())
        )
    ]
    regions = batch.column("regions")
    reg_off = regions.offsets.to_numpy()
    regs = regions.flatten()
    points = regs.field("points")
    pt_off = points.offsets.to_numpy()
    xy = points.flatten().flatten().to_numpy(zero_copy_only=False)
    if len(xy) != 2 * (pt_off[-1] - pt_off[0]):
        raise ValueError("region points must be [x, y] pairs")
    lg_data, lg_off = _binary_cells(regs.field("logits"))
    ts = regs.field("logits_t").to_numpy()
    return MediaBatch(
        probs,
        reg_off - reg_off[0],
        region_centers(xy.reshape(-1, 2), pt_off - pt_off[0]),
        _logits_block(lg_data, lg_off, ts),
        np.concatenate(([0], np.cumsum(ts, dtype=np.int64))),
    )


def _synthesized_payloads(batch) -> MediaBatch:
    """MediaBatch generated deterministically from media_ref inside the
    executor (fixture path — distributes generation, nothing crosses
    the driver)."""
    from openocr_spark.fixtures import payload_for_media_ref

    ps = [payload_for_media_ref(ref) for ref in batch.column("media_ref").to_pylist()]
    return _media_batch([p["score_map"] for p in ps], [p["regions"] for p in ps])


def _media_kernel(cfg: ExtractConfig, payloads):
    """mapInArrow det+rec kernel, one body for both payload modes.
    `payloads(batch)` turns a batch into a MediaBatch
    (`_joined_payloads` or `_synthesized_payloads`), which
    `_extract_texts` processes whole; the row keys pass through as
    Arrow columns."""

    decode = _decode_fn(cfg.rec_head, cfg.token_map)  # driver-side fail-fast

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": batch.column("doc_id"),
                    "offset": batch.column("offset"),
                    "kind": ["media"] * batch.num_rows,
                    "text": _extract_texts(payloads(batch), cfg, decode),
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

    # every span leaves a row here: text spans that pass the boilerplate
    # filter as themselves, all others (boilerplate, media, null) as a
    # tombstone with kind/text nulled — so a doc whose media spans all
    # miss the payload join still reaches assembly
    non_media = spans.select(
        "doc_id",
        "offset",
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
