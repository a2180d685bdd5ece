"""Recognition kernel: CTC greedy decoding, from scratch in numpy.

Semantics follow the reference's CTCLabelDecode
(/root/reference/openrec/postprocess/ctc_postprocess.py:55-118):
  - softmax over the class axis, argmax per timestep (:108-109)
  - drop repeated symbols via a lag compare
    (`selection[1:] = ids[1:] != ids[:-1]`, :62-64)
  - drop the blank token (id 0; blank is PREPENDED to the charset,
    :116-118)
  - confidence = mean of the max-prob over kept timesteps (:72-84);
    an empty decode gets score 0.0
"""

from __future__ import annotations

import numpy as np

from openocr_spark.config import ID_TO_CHAR


def softmax(logits: np.ndarray, axis: int = -1) -> np.ndarray:
    # exp and the division run in place on the one shifted copy
    e = logits - logits.max(axis=axis, keepdims=True)
    np.exp(e, out=e)
    e /= e.sum(axis=axis, keepdims=True)
    return e


def ctc_greedy_decode_batch(
    logits: np.ndarray, offsets: np.ndarray
) -> tuple[list[str], list[float]]:
    """Greedy CTC over many regions at once: region k's logits are
    rows offsets[k]:offsets[k+1] of the (ΣT, num_classes) block. One
    float64 softmax/argmax/max over the block; the de-dup mask restarts
    at each region's first timestep; one join of the kept characters is
    sliced back per region. Each confidence is the mean over that
    region's kept timesteps, taken on a contiguous slice so it equals
    the one-region result bit for bit."""
    offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    if logits.size == 0:
        return [""] * n, [0.0] * n
    probs = softmax(logits.astype(np.float64), axis=1)
    ids = probs.argmax(axis=1)
    conf = probs.max(axis=1)
    keep = np.ones(len(ids), dtype=bool)
    keep[1:] = ids[1:] != ids[:-1]  # de-dup repeats (ctc_postprocess.py:62-64)
    firsts = offsets[:-1]
    keep[firsts[firsts < len(ids)]] = True  # ... within a region only
    keep &= ids != 0  # drop blank
    chars = [ID_TO_CHAR.get(i, "") for i in range(logits.shape[1])]
    kept_ids = ids[keep]
    text = "".join(np.take(chars, kept_ids).tolist())
    char_len = np.array([len(c) for c in chars])
    char_end = np.concatenate(([0], np.cumsum(char_len[kept_ids])))
    kept_conf = conf[keep]
    k = np.concatenate(([0], np.cumsum(keep)))[offsets].tolist()
    pos = char_end[k].tolist()
    texts, scores = [], []
    for i in range(n):
        a, b = k[i], k[i + 1]
        texts.append(text[pos[i] : pos[i + 1]])
        # add.reduce(x) / n is x.mean() without its Python overhead
        scores.append(
            float(np.add.reduce(kept_conf[a:b]) / (b - a)) if b > a else 0.0
        )
    return texts, scores


def ctc_greedy_decode(logits: np.ndarray) -> tuple[str, float]:
    """logits float32[T, num_classes] → (text, confidence); a one-region
    call of `ctc_greedy_decode_batch`."""
    texts, scores = ctc_greedy_decode_batch(logits, np.array([0, len(logits)]))
    return texts[0], scores[0]


NRTR_SPECIALS = ("blank", "<unk>", "<s>", "</s>")


def nrtr_greedy_decode(
    logits: np.ndarray, charset: str | None = None
) -> tuple[str, float]:
    """NRTR/ABINet/CPPD-family decode (openrec/postprocess/
    nrtr_postprocess.py:50-74): per-position argmax over a vocabulary
    with [blank, <unk>, <s>, </s>] PREPENDED, break at '</s>', NO
    adjacent-duplicate removal (AR models emit each char once);
    confidence = mean of kept position probabilities (0.0 when nothing
    decodes — the reference's np.mean([]) NaN is not propagated)."""
    from openocr_spark.config import CHARSET

    vocab = list(NRTR_SPECIALS) + list(charset or CHARSET)
    if logits.size == 0:
        return "", 0.0
    probs = softmax(logits.astype(np.float64), axis=1)
    ids = probs.argmax(axis=1)
    conf = probs.max(axis=1)
    chars: list[str] = []
    confs: list[float] = []
    for i, k in enumerate(ids):
        if int(k) >= len(vocab):
            continue
        ch = vocab[int(k)]
        if ch == "</s>":
            break
        chars.append(ch)
        confs.append(float(conf[i]))
    if not chars:
        return "", 0.0
    return "".join(chars), float(np.mean(confs))


def srn_fixed_decode(
    logits: np.ndarray, max_len: int = 25, charset: str | None = None
) -> tuple[str, float]:
    """SRN fixed-length decode (openrec/postprocess/
    srn_postprocess.py:18-55): vocabulary with <BOS>/<EOS> APPENDED,
    exactly max_len positions, BOS/EOS positions skipped via the
    ignored-token check. Faithful quirk: because end_idx is in
    ignored_tokens and that check precedes the break, decoding does NOT
    stop at EOS — characters after an EOS position are kept (srn_
    postprocess.py:34-41 control flow)."""
    from openocr_spark.config import CHARSET

    vocab = list(charset or CHARSET) + ["<BOS>", "<EOS>"]
    ignored = {len(vocab) - 2, len(vocab) - 1}
    if logits.size == 0:
        return "", 0.0
    probs = softmax(logits.astype(np.float64), axis=1)
    ids = probs.argmax(axis=1)[:max_len]
    conf = probs.max(axis=1)[:max_len]
    chars: list[str] = []
    confs: list[float] = []
    for i, k in enumerate(ids):
        if int(k) in ignored:
            continue
        chars.append(vocab[int(k)])
        confs.append(float(conf[i]))
    if not chars:
        return "", 0.0
    return "".join(chars), float(np.mean(confs))


def gtc_decode(
    gtc_logits: np.ndarray,
    ctc_logits: np.ndarray,
    only_gtc: bool = False,
) -> tuple[tuple[str, float], tuple[str, float] | None]:
    """GTC dual-head decode (openrec/postprocess/__init__.py:49-88):
    the guidance branch decodes with the NRTR-family head, the CTC
    branch with greedy CTC; both results are returned (the trainer
    supervises both; inference usually reads the guidance branch —
    only_gtc)."""
    gtc = nrtr_greedy_decode(gtc_logits)
    if only_gtc:
        return gtc, None
    return gtc, ctc_greedy_decode(ctc_logits)
