"""Audio/video multimodal kernels — the non-image legs of the
opaque-binary-column model (brief: image/audio/video as binary columns
with typed metadata; decode / feature-extract / frame-sample as
vectorized kernels under mapInPandas).

From-scratch where the format is honestly reproducible offline:
  decode_wav        — RIFF/WAVE PCM (8/16/24/32-bit int, 32/64-bit
                      IEEE float; any channel count), including
                      WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping the PCM
                      or float SubFormat GUIDs — the layout Microsoft
                      mandates for >16-bit or >2-channel PCM.
                      Compressed audio (MP3/AAC/Opus/...) fails loudly:
                      their normative psychoacoustic/entropy tables are
                      the same cannot-reproduce-offline boundary class
                      as lossy VP8 and JPEG 2000 (COVERAGE.md records
                      the stance).
  decode_avi_frames — RIFF/AVI chunk walk ('movi' list, '##dc' stream
                      chunks) with MJPEG frames decoded through the
                      package's own full-matrix T.81 decoder
                      (kernels/jpeg_format). every_n strides at the
                      CHUNK level so unsampled frames are never
                      entropy-decoded — the frame-sample fast path.
                      Non-MJPEG video codecs (H.264/VP9/...) fail
                      loudly, same boundary stance.

Both parsers carry the fail-loud corruption contract every codec in
this package honors (bounds-checked reads, iterative forward-progress
walks bounded by the RIFF size field, per-frame AND aggregate
allocation guards) and sit in the truncation+bitflip fuzz matrix.
"""

from __future__ import annotations

import struct

import numpy as np

from openocr_spark.kernels.media_decode import MAX_DECODE_SAMPLES, _gray, check_dims

# an MJPEG frame below ~64 bytes is not a legal JPEG; bounds the frame
# count a corrupt header can claim against the actual payload size
_MIN_FRAME_BYTES = 64

# WAVE_FORMAT_EXTENSIBLE SubFormat GUIDs (KSDATAFORMAT_SUBTYPE_PCM /
# _IEEE_FLOAT): the leading u32 is the classic format tag
_KS_GUID_TAIL = bytes.fromhex("00001000800000aa00389b71")


def _riff_end(data: bytes) -> int:
    """The walk bound: the RIFF size field caps the payload, so valid
    trailing garbage after a complete file is never parsed as a chunk;
    truncated files clamp to the actual length."""
    (riff_size,) = struct.unpack_from("<I", data, 4)
    return min(len(data), 8 + riff_size)


def _walk_riff_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, list_type_or_None, body_start, body_size) for the
    chunks in data[pos:end]; raises on truncated declarations, always
    advances (no spin on corrupt sizes)."""
    while pos + 8 <= end:
        cc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise NotImplementedError(
                f"RIFF chunk {cc!r} declares {size} bytes past the stream end"
            )
        if cc == b"LIST":
            if size < 4:
                raise NotImplementedError("RIFF LIST shorter than its type")
            yield cc, data[body : body + 4], body + 4, size - 4
        else:
            yield cc, None, body, size
        pos = body + size + (size & 1)  # chunks are word-aligned


def _resolve_wav_format(data: bytes, body: int, size: int) -> tuple:
    """fmt chunk → (audio_format, channels, rate, bits) with the
    WAVE_FORMAT_EXTENSIBLE indirection resolved: 0xFFFE carries the
    real format as a SubFormat GUID in the 22-byte extension."""
    if size < 16:
        raise NotImplementedError("WAVE fmt chunk shorter than 16 bytes")
    audio_format, channels, rate, _br, _ba, bits = struct.unpack_from(
        "<HHIIHH", data, body
    )
    if audio_format == 0xFFFE:
        if size < 40:
            raise NotImplementedError("WAVE extensible fmt shorter than 40 bytes")
        guid = data[body + 24 : body + 40]
        if guid[4:] != _KS_GUID_TAIL or guid[:4] not in (
            b"\x01\x00\x00\x00",
            b"\x03\x00\x00\x00",
        ):
            raise NotImplementedError(
                "WAVE extensible SubFormat is neither PCM nor IEEE float"
            )
        (audio_format,) = struct.unpack_from("<I", guid, 0)
        # container bits stay authoritative for the sample layout;
        # wValidBitsPerSample only masks precision inside the container
    return audio_format, channels, rate, bits


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → (samples float32 of shape (n, channels) in [-1, 1],
    sample_rate). PCM 8-bit unsigned / 16/24/32-bit signed LE and IEEE
    float 32/64, plain or extensible-wrapped; anything else fails
    loudly. Float payloads sanitize non-finite values (NaN→0, ±inf→±1)
    and clamp to [-1, 1] — the EXR/PFM non-finite stance: corrupt
    streams must not poison downstream aggregates."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE stream")
    fmt = None
    payload = None
    for cc, _lt, body, size in _walk_riff_chunks(data, 12, _riff_end(data)):
        if cc == b"fmt " and fmt is None:
            fmt = _resolve_wav_format(data, body, size)
        elif cc == b"data" and payload is None:
            payload = data[body : body + size]
        if fmt is not None and payload is not None:
            break
    if fmt is None or payload is None:
        raise NotImplementedError("WAVE stream missing fmt or data chunk")
    audio_format, channels, rate, bits = fmt
    if not (1 <= channels <= 64):
        raise NotImplementedError(f"WAVE channel count {channels}")
    if not (1 <= rate <= 10_000_000):
        raise NotImplementedError(f"WAVE sample rate {rate}")
    if audio_format == 1 and bits in (8, 16, 24, 32):
        pass
    elif audio_format == 3 and bits in (32, 64):
        pass
    else:
        raise NotImplementedError(
            f"WAVE format {audio_format}/{bits}-bit unsupported (PCM "
            "8/16/24/32 and IEEE float 32/64 only; compressed audio is a "
            "documented fail-loud boundary)"
        )
    frame = channels * bits // 8
    n = len(payload) // frame
    if n * channels > MAX_DECODE_SAMPLES:
        raise NotImplementedError(
            f"WAVE payload of {n}x{channels} samples exceeds the decode cap"
        )
    raw = payload[: n * frame]
    if audio_format == 3:
        dt = np.float32 if bits == 32 else np.float64
        x = np.frombuffer(raw, dtype=np.dtype(dt).newbyteorder("<")).astype(
            np.float32
        )
        with np.errstate(invalid="ignore"):
            x = np.clip(
                np.nan_to_num(x, nan=0.0, posinf=1.0, neginf=-1.0), -1.0, 1.0
            )
    elif bits == 8:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif bits == 24:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        v = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int32) << 16)
        )
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float32) / float(1 << 23)
    else:  # 32-bit int
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / float(1 << 31)
    return x.reshape(n, channels), int(rate)


def decode_avi_frames(data: bytes, every_n: int = 1) -> list[np.ndarray]:
    """RIFF/AVI → every_n-strided list of gray uint8 frames from the
    FIRST video stream (a second '##dc' stream id is ignored, the
    player-0 convention; frame_idx downstream indexes that stream's
    non-empty frames — zero-length '##dc' chunks are the AVI timing
    placeholder for dropped frames and are skipped, not decoded). Only
    MJPEG (frames starting FFD8) is decodable offline; the stride is
    applied BEFORE decoding so unsampled frames cost nothing, and the
    TOTAL decoded samples are capped (a per-frame check alone would let
    a long clip materialize gigabytes from one row — sample with
    every_n for long videos)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise NotImplementedError("not a RIFF/AVI stream")
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    chunks: list[tuple[int, int]] = []
    stream_id: bytes | None = None
    # iterative IN-ORDER DFS: recursion on nested LISTs would let a
    # crafted ~10 KB file of ~500 nested lists overflow the interpreter
    # stack, and a LIFO pop would reorder sibling 'rec ' groups — on a
    # LIST we push the resume point and descend, preserving stream order
    stack: list[tuple[int, int]] = [(12, _riff_end(data))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            cc = data[pos : pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if body + size > end:
                raise NotImplementedError(
                    f"RIFF chunk {cc!r} declares {size} bytes past the "
                    "stream end"
                )
            nxt = body + size + (size & 1)
            if cc == b"LIST":
                if size < 4:
                    raise NotImplementedError("RIFF LIST shorter than its type")
                stack.append((nxt, end))  # resume after the list
                pos, end = body + 4, body + size  # descend in order
                continue
            if cc[2:4] in (b"dc", b"db") and cc[:2].isdigit():
                if stream_id is None:
                    stream_id = cc[:2]
                if cc[:2] == stream_id and size > 0:
                    chunks.append((body, size))
            pos = nxt
    if len(chunks) > max(1, len(data) // _MIN_FRAME_BYTES):
        raise NotImplementedError(
            f"AVI declares {len(chunks)} frames in {len(data)} bytes"
        )
    from openocr_spark.kernels.jpeg_format import decode_jpeg

    frames: list[np.ndarray] = []
    total = 0
    for body, size in chunks[::every_n]:
        payload = data[body : body + size]
        if payload[:2] != b"\xff\xd8":
            raise NotImplementedError(
                "AVI stream codec is not MJPEG — compressed video codecs "
                "(H.264/VP9/...) are a documented fail-loud boundary"
            )
        px = _gray(decode_jpeg(payload))
        check_dims(px.shape[1], px.shape[0], "AVI MJPEG frame")
        total += px.shape[0] * px.shape[1]
        if total > MAX_DECODE_SAMPLES:
            raise NotImplementedError(
                f"AVI decoded samples exceed the aggregate cap after "
                f"{len(frames) + 1} frames — sample with every_n"
            )
        frames.append(px)
    return frames
