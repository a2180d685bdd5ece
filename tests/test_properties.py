"""Property-based tests (hypothesis) for the pure kernels — the
robustness layer the reference lacks entirely (SURVEY §5.1: no unit or
property tests upstream)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from openocr_spark.config import CHARSET, NUM_CLASSES
from openocr_spark.fixtures import _rng, make_logits
from openocr_spark.functions.otsl import otsl_to_html
from openocr_spark.functions.text import (
    stream_match,
    truncate_repeated_tail,
    truncate_repetitive_content,
)
from openocr_spark.kernels.detection import (
    _label_components,
    connected_components,
    sorted_boxes,
)
from openocr_spark.kernels.recognition import ctc_greedy_decode
from openocr_spark.oracle import _flood_components

texts = st.text(alphabet=list(CHARSET), min_size=0, max_size=60)


@given(st.text(alphabet=list(CHARSET), min_size=1, max_size=40), st.integers(0, 10**6))
@settings(max_examples=60, deadline=None)
def test_ctc_roundtrip_any_text(text, seed):
    rng = _rng(f"prop-{seed}")
    decoded, score = ctc_greedy_decode(make_logits(text, rng))
    assert decoded == text
    assert score > 0.9


@given(st.lists(st.integers(0, NUM_CLASSES - 1), min_size=1, max_size=80))
@settings(max_examples=60, deadline=None)
def test_ctc_decode_never_repeats_adjacent(ids):
    logits = np.zeros((len(ids), NUM_CLASSES), dtype=np.float32)
    logits[np.arange(len(ids)), ids] = 5.0
    text, _ = ctc_greedy_decode(logits)
    # collapse property: decode of one-hot frames never yields the same
    # char twice in a row unless a blank separated them in the input
    for a, b in zip(text, text[1:]):
        if a == b:
            break
    assert len(text) <= len(ids)


@given(st.integers(0, 10**6), st.integers(1, 6))
@settings(max_examples=30, deadline=None)
def test_cc_equals_flood_fill_on_random_masks(seed, n_images):
    """The batch labeller on a stack of masks of mixed shapes and
    densities: each image's components, in scan order, are the flood
    fill's; the one-image call agrees."""
    rng = _rng(f"mask-{seed}")
    masks = [
        rng.random((int(rng.integers(1, 25)), int(rng.integers(1, 37))))
        > rng.uniform(0.3, 0.8)
        for _ in range(n_images)
    ]
    img, r0, r1, c0, c1 = _label_components(masks)
    assert np.all(np.diff(img) >= 0)
    for i, m in enumerate(masks):
        mine = img == i
        got = list(zip(*(a[mine].tolist() for a in (r0, r1, c0, c1))))
        assert got == _flood_components(m)
    assert connected_components(masks[0]) == _flood_components(masks[0])


@given(st.lists(st.tuples(st.integers(0, 200), st.integers(0, 200)), max_size=12))
@settings(max_examples=50, deadline=None)
def test_sorted_boxes_is_permutation(corners):
    boxes = [
        np.array([[x, y], [x + 5, y], [x + 5, y + 3], [x, y + 3]])
        for x, y in corners
    ]
    out = sorted_boxes(boxes)
    assert len(out) == len(boxes)
    assert sorted(map(id, out)) == sorted(map(id, boxes))


@given(texts)
@settings(max_examples=60, deadline=None)
def test_truncation_idempotent_and_shrinking(t):
    once = truncate_repetitive_content(t)
    assert len(once) <= len(t)
    assert truncate_repetitive_content(once) == once or len(
        truncate_repetitive_content(once)
    ) <= len(once)
    tail = truncate_repeated_tail(t)
    assert len(tail) <= len(t)


@given(st.lists(texts, max_size=6))
@settings(max_examples=60, deadline=None)
def test_stream_match_reference_invariants(segs):
    # reference-exact semantics (rec_metric.py stream_match): boundary
    # chars are trimmed — first segment drops its last char, middle
    # segments both ends, the final segment its first — and each
    # trimmed segment contributes at most its remainder
    merged = stream_match(segs)
    if not segs:
        assert merged == ""
        return
    assert merged.startswith(segs[0][:-1])
    if len(segs) == 1:
        assert merged == segs[0][:-1]
    trimmed_budget = max(len(segs[0]) - 1, 0) + sum(
        max(len(s) - 2, 0) for s in segs[1:-1]
    ) + (max(len(segs[-1]) - 1, 0) if len(segs) > 1 else 0)
    assert len(merged) <= trimmed_budget
    assert stream_match(segs) == merged  # deterministic
    # the dispatch layer: a lone in-length slice passes through whole
    from openocr_spark.functions.text import stream_merge

    assert stream_merge([segs[0]]) == segs[0]


@given(st.text(alphabet=list("abc<>fcelnux "), max_size=80))
@settings(max_examples=80, deadline=None)
def test_otsl_never_crashes(s):
    # cell-less streams export '' (the reference's export_to_html
    # empty-cells branch); anything else is a well-formed table
    html = otsl_to_html(s)
    assert html == "" or (
        html.startswith("<table>") and html.endswith("</table>")
    )


@given(st.integers(min_value=0, max_value=10**9), st.integers(min_value=4, max_value=128))
@settings(max_examples=60, deadline=None)
def test_ar_decode_bounded_and_deterministic(seed, max_len):
    from openocr_spark.kernels import ar_decode as ar

    ids = ar.ar_greedy_decode(seed, max_length=max_len)
    assert ids[0] == ar.BOS_ID
    assert 1 <= len(ids) <= max_len
    # EOS, when present, is terminal and unique
    if ar.EOS_ID in ids:
        assert ids.index(ar.EOS_ID) == len(ids) - 1
    assert ids == ar.ar_greedy_decode(seed, max_length=max_len)
    text = ar.decode_tokens(ids)
    assert "<|" not in text and "|>" not in text


@given(st.text(max_size=200), st.integers(min_value=0, max_value=50))
@settings(max_examples=80, deadline=None)
def test_block_markdown_total_and_terminated(text, sec):
    """The markdown dispatcher never raises on arbitrary text and every
    non-empty fragment is newline-terminated (to_markdown emits \n or
    \n\n per handler)."""
    from openocr_spark.functions.markdown import block_markdown

    for label in ("text", "doc_title", "list", "table", "display_formula",
                  "image", "code", "header"):
        out = block_markdown(label, text, sec)
        assert isinstance(out, str)
        if out:
            assert out.endswith("\n")


@given(st.integers(min_value=33, max_value=200), st.integers(min_value=16, max_value=96))
@settings(max_examples=40, deadline=None)
def test_det_resize_multiple_of_32(h, w):
    import numpy as np

    from openocr_spark.kernels.preprocess import det_resize

    out, rh, rw = det_resize(np.zeros((h, w), dtype=np.float32),
                             limit_side_len=64, limit_type="resize_long")
    assert out.shape[0] % 32 == 0 and out.shape[1] % 32 == 0
    assert out.shape[0] >= 32 and out.shape[1] >= 32
    # ratios are resize/PADDED dims — DetResizeForTest zero-pads tiny
    # inputs (h+w<64) to ≥32×32 before resizing (db_resize_for_test.py
    # :47-51; differentially pinned in test_preprocess_differential)
    ph, pw = (max(32, h), max(32, w)) if h + w < 64 else (h, w)
    assert abs(rh - out.shape[0] / ph) < 1e-9
    assert abs(rw - out.shape[1] / pw) < 1e-9


# --- JPEG progressive == baseline (full successive approximation) ----
#
# For any image content and any quant table, a fully-refined
# progressive stream must decode BIT-IDENTICAL to the baseline
# encoding: the coefficient store after all refinement scans equals
# the baseline quantized coefficients exactly, so any drift in the
# EOBn/correction-bit/refinement logic on either side breaks equality.

@given(
    st.integers(6, 40),     # height
    st.integers(6, 40),     # width
    st.integers(0, 10**6),  # content seed
    st.sampled_from([1, 4, 16, 40]),  # flat quant value
    st.sampled_from([0, 3]),          # restart interval
)
@settings(max_examples=25, deadline=None)
def test_jpeg_progressive_equals_baseline_property(h, w, seed, qval, ri):
    from jpeg_ref_encoder import encode_jpeg, encode_jpeg_progressive

    from openocr_spark.kernels.jpeg_format import decode_jpeg

    rng = np.random.RandomState(seed % 2**31)
    img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    q = [qval] * 64
    base = decode_jpeg(encode_jpeg(img, qtable=q))
    prog = decode_jpeg(encode_jpeg_progressive(img, qtable=q, restart_interval=ri))
    assert np.array_equal(base, prog)
