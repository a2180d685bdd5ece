"""Direct calls into the kernel and fixture layers, timed from outside the
package on a fixed seeded sample, one span per call. They run in the
benchmark process on one core, in every traced run, so each layer's cost
per call is comparable across workloads and commits."""

from __future__ import annotations

import statistics
import time

import workloads as W

DECODE_PER_FORMAT = 6
DETECT_REFS = 80


def decode_layer(tracer, parent: int, start: int, enc: dict) -> dict:
    """decode_bytes per container: median ms per call, and calls that
    raised or did not return exactly one page."""
    from openocr_spark.kernels.media_decode import decode_bytes

    out, errors = {}, 0
    for k, fmt in enumerate(W.FORMATS):
        ms = []
        for j in range(DECODE_PER_FORMAT):
            data = W.encode_media(start + k + len(W.FORMATS) * j, enc)
            with tracer.span("kernels.media_decode.decode_bytes", parent,
                             format=fmt) as sid:
                try:
                    pages = decode_bytes(data)
                except Exception:  # a codec failure is a counted outcome
                    pages = None
            span = tracer.spans[sid]
            ms.append((span["end"] - span["start"]) * 1e3)
            errors += pages is None or len(pages) != 1
        out[f"kernels.media_decode.decode_ms.{fmt}"] = statistics.median(ms)
    out["kernels.media_decode.decode_errors"] = errors
    return out


def extract_layers(tracer, parent: int, start: int) -> dict:
    """Payload synthesis, detection (detect + reading order + region
    assignment) and CTC recognition on the sample docs' media refs."""
    from openocr_spark.config import DEFAULT_CONFIG as cfg
    from openocr_spark.fixtures import (
        doc_id_for, is_skew_doc, payload_for_media_ref, spans_for_doc)
    from openocr_spark.kernels.detection import (
        assign_regions_to_boxes, detect_boxes, sorted_boxes)
    from openocr_spark.kernels.recognition import ctc_greedy_decode

    refs, i = [], start
    while len(refs) < DETECT_REFS:
        refs += [s["media_ref"] for s in spans_for_doc(doc_id_for(i), is_skew_doc(i))
                 if s["kind"] == "media"]
        i += 1
    refs = refs[:DETECT_REFS]
    t_payload, t_detect, t_ctc = [], [], []
    regions = matched = decoded = kept = 0
    for ref in refs:
        t0 = time.perf_counter()
        with tracer.span("fixtures.payload_for_media_ref", parent):
            p = payload_for_media_ref(ref)
        t1 = time.perf_counter()
        with tracer.span("kernels.detection", parent):
            boxes, _ = detect_boxes(p["score_map"], thresh=cfg.binarize_thresh,
                                    box_thresh=cfg.box_thresh, min_size=cfg.min_size,
                                    unclip_ratio=cfg.unclip_ratio)
            boxes = sorted_boxes(boxes, line_tol=cfg.line_tol)
            assigned = assign_regions_to_boxes(
                boxes, [r["points"] for r in p["regions"]])
        t2 = time.perf_counter()
        hits = [p["regions"][r]["logits"] for r in assigned if r >= 0]
        with tracer.span("kernels.recognition.ctc_greedy_decode", parent):
            scores = [ctc_greedy_decode(lg)[1] for lg in hits]
        t3 = time.perf_counter()
        t_payload.append(t1 - t0)
        t_detect.append(t2 - t1)
        if hits:
            t_ctc.append((t3 - t2) / len(hits))
        regions += len(p["regions"])
        matched += len(hits)
        decoded += len(scores)
        kept += sum(s >= cfg.drop_score for s in scores)
    return {
        "fixtures.payload_ms": statistics.median(t_payload) * 1e3,
        "kernels.detection.detect_ms": statistics.median(t_detect) * 1e3,
        "kernels.detection.recall": matched / regions,
        "kernels.recognition.ctc_ms": statistics.median(t_ctc) * 1e3,
        "kernels.recognition.kept_ratio": kept / decoded,
    }
