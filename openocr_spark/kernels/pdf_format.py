"""From-scratch PDF page→image extraction (stdlib zlib only).

The reference turns PDFs into per-page pixmaps with PyMuPDF
(check_and_read, tools/utils/utility.py:88-107) and feeds each page
through the same detect/recognize path as a standalone image. PyMuPDF
is absent in this container, but the dominant storage shape for scanned
/ OCR-bound PDFs — one raster image XObject per page, Flate- or raw-
encoded — needs no renderer: parse the object graph, walk the page
tree, inflate each page's image stream.

Scope (documented boundary, mirrors media_decode's codec stance):
  - tolerant whole-file object scan (works for classic xref tables,
    incremental updates, and mildly damaged files the way real-world
    parsers must — the xref is never consulted) PLUS PDF 1.5
    compressed object streams: /Type /ObjStm containers are inflated
    and their packed objects registered, so modern xref-stream PDFs
    whose page tree lives only inside ObjStm parse too
  - filters: none, /FlateDecode, /FlateDecode with PNG predictors
    (/Predictor >= 10 — reuses the PNG unfilter kernel), /DCTDecode
    (embedded baseline JPEG — decoded by the from-scratch
    kernels/jpeg_format decoder; the stream is the JPEG file verbatim,
    which is also how real scanners embed pages)
  - color: /DeviceGray (8-bit) and /DeviceRGB (8-bit, BT.601 luma)

`encode_pdf` is the fixture/sink side: a minimal but standards-correct
writer (proper xref table offsets, Flate image XObjects) whose output
any PDF viewer opens — tests also pin a HAND-WRITTEN canonical PDF so
the parser is not validated solely against the sibling writer.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

_OBJ_HEAD = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_NAME = re.compile(rb"/([A-Za-z0-9.#+_-]+)")
_NUM = re.compile(rb"[+-]?\d+(\.\d*)?|[+-]?\.\d+")
_WS = b"\x00\t\n\x0c\r "


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num

    def __repr__(self) -> str:  # pragma: no cover
        return f"Ref({self.num})"


class _Parser:
    """Recursive-descent parser for the PDF object syntax subset the
    page/image walk needs: dict, array, name, number, string, ref,
    stream (with direct or indirect /Length)."""

    def __init__(self, data: bytes, objects: dict[int, object] | None = None):
        self.data = data
        self.pos = 0
        self.objects = objects  # for resolving indirect /Length refs

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = self.data[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment → end of line
                while self.pos < n and d[self.pos] not in (0x0A, 0x0D):
                    self.pos += 1
            else:
                return

    def value(self):
        self._skip_ws()
        d, p = self.data, self.pos
        if d[p : p + 2] == b"<<":
            return self._dict()
        if d[p : p + 1] == b"[":
            return self._array()
        if d[p : p + 1] == b"/":
            m = _NAME.match(d, p)
            self.pos = m.end()
            return "/" + m.group(1).decode("latin-1")
        if d[p : p + 1] == b"(":
            return self._literal_string()
        if d[p : p + 1] == b"<":
            end = d.index(b">", p)
            self.pos = end + 1
            return bytes.fromhex(d[p + 1 : end].decode("latin-1"))
        for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
            if d[p : p + len(kw)] == kw:
                self.pos = p + len(kw)
                return val
        # number or indirect reference `N G R`
        m = _NUM.match(d, p)
        if not m:
            raise NotImplementedError(f"PDF parse error at {p}: {d[p:p+20]!r}")
        ref = re.compile(rb"(\d+)\s+(\d+)\s+R\b").match(d, p)
        if ref:
            self.pos = ref.end()
            return Ref(int(ref.group(1)))
        self.pos = m.end()
        tok = m.group(0)
        return float(tok) if b"." in tok else int(tok)

    def _array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.value())

    def _dict(self) -> dict:
        self.pos += 2
        out: dict[str, object] = {}
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.value()
            out[key] = self.value()

    def _literal_string(self) -> bytes:
        d = self.data
        p = self.pos + 1
        depth, out = 1, bytearray()
        while depth:
            c = d[p]
            if c == 0x5C:  # backslash escape
                out.append(d[p + 1])
                p += 2
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    p += 1
                    break
            out.append(c)
            p += 1
        self.pos = p
        return bytes(out)

    def object_at(self, offset: int):
        """Parse `N G obj <value> [stream ... endstream] endobj` at
        offset; returns (num, value-or-(dict, raw_stream_bytes))."""
        m = _OBJ_HEAD.match(self.data, offset)
        if not m:
            raise NotImplementedError(f"no object header at {offset}")
        num = int(m.group(1))
        self.pos = m.end()
        val = self.value()
        self._skip_ws()
        if self.data[self.pos : self.pos + 6] == b"stream":
            self.pos += 6
            if self.data[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.data[self.pos : self.pos + 1] == b"\n":
                self.pos += 1
            length = val.get("/Length") if isinstance(val, dict) else None
            if isinstance(length, Ref):
                resolved = (self.objects or {}).get(length.num)
                length = resolved if isinstance(resolved, int) else None
            if isinstance(length, int):
                raw = self.data[self.pos : self.pos + length]
                self.pos += length
            else:  # tolerant fallback: scan for the endstream keyword
                end = self.data.index(b"endstream", self.pos)
                raw = self.data[self.pos : end].rstrip(b"\r\n")
                self.pos = end
            return num, (val, raw)
        return num, val


def _scan_objects(data: bytes) -> dict[int, object]:
    """Whole-file object scan: parse at every `N G obj` header, last
    definition wins (incremental-update semantics). Offsets inside
    stream payloads are skipped by tracking each parsed object's span.
    Two passes so indirect /Length refs resolve."""
    objects: dict[int, object] = {}
    for _pass in range(2):
        p = _Parser(data, objects if _pass else None)
        covered_to = 0
        for m in _OBJ_HEAD.finditer(data):
            if m.start() < covered_to:
                continue  # header text inside a previous object's stream
            try:
                num, val = p.object_at(m.start())
            except (NotImplementedError, ValueError, IndexError, KeyError):
                continue
            objects[num] = val
            covered_to = p.pos
    _expand_object_streams(objects)
    return objects


def _expand_object_streams(objects: dict[int, object]) -> None:
    """PDF 1.5 compressed object streams (/Type /ObjStm, spec §7.5.7):
    modern writers park the catalog/page-tree dicts inside Flate
    streams, indexed by an xref STREAM instead of a classic table. The
    tolerant whole-file scan finds the ObjStm containers themselves;
    this pass inflates each one, parses its `N` (objnum, offset) header
    pairs, and registers the contained objects. Already-scanned
    top-level definitions win (incremental-update semantics: a direct
    redefinition supersedes the packed copy). Streams cannot nest, so
    one pass suffices."""
    import re as _re

    for num in sorted(objects):
        obj = objects[num]
        if not (isinstance(obj, tuple) and obj[0].get("/Type") == "/ObjStm"):
            continue
        d, raw = obj
        filt = _resolve(objects, d.get("/Filter"))
        if isinstance(filt, list):
            filt = filt[0] if len(filt) == 1 else filt
        if filt == "/FlateDecode":
            buf = zlib.decompress(raw)
        elif filt is None:
            buf = raw
        else:
            raise NotImplementedError(f"ObjStm filter {filt} not supported")
        n = _resolve(objects, d.get("/N"))
        first = _resolve(objects, d.get("/First"))
        if not isinstance(n, int) or not isinstance(first, int):
            raise NotImplementedError("ObjStm missing /N or /First")
        nums = [int(t) for t in _re.findall(rb"\d+", buf[:first])][: 2 * n]
        if len(nums) != 2 * n:
            raise NotImplementedError("ObjStm header shorter than /N pairs")
        for objnum, off in zip(nums[0::2], nums[1::2]):
            if objnum in objects:
                continue
            p = _Parser(buf, objects)
            p.pos = first + off
            objects[objnum] = p.value()


def _resolve(objects: dict[int, object], v):
    for _ in range(64):  # damaged files can chain refs cyclically —
        if not isinstance(v, Ref):  # bound the walk, never hang a task
            break
        v = objects.get(v.num)
    else:
        raise NotImplementedError("PDF: cyclic indirect-reference chain")
    if isinstance(v, tuple):  # stream object referenced as a value
        return v[0]
    return v


def _walk_pages(objects: dict[int, object], node, out: list,
                inherited_res=None, _seen: set | None = None) -> None:
    """Collect /Page dicts. /Resources is INHERITABLE (PDF 32000
    7.7.3.4): a page without its own entry uses the nearest ancestor
    /Pages node's — common writer output. A visited set bounds damaged
    page trees with kid cycles."""
    if _seen is None:
        _seen = set()
    if isinstance(node, Ref):
        if node.num in _seen:
            return  # cyclic page tree in a damaged file
        _seen.add(node.num)
    node = _resolve(objects, node)
    if isinstance(node, tuple):
        node = node[0]
    if not isinstance(node, dict):
        return
    res = node.get("/Resources", inherited_res)
    t = node.get("/Type")
    if t == "/Pages":
        for kid in _resolve(objects, node.get("/Kids")) or []:
            _walk_pages(objects, kid, out, res, _seen)
    elif t == "/Page":
        if "/Resources" not in node and res is not None:
            node = dict(node)
            node["/Resources"] = res
        out.append(node)


def _decode_image_xobject(objects: dict[int, object], obj) -> np.ndarray:
    """Inflate + unpredict one /Subtype /Image XObject to 8-bit gray."""
    from openocr_spark.kernels.media_decode import _gray, _luma, _png_unfilter

    d, raw = obj
    w = _resolve(objects, d.get("/Width"))
    h = _resolve(objects, d.get("/Height"))
    from openocr_spark.kernels.media_decode import check_dims
    check_dims(int(w or 0), int(h or 0), "PDF image", 3)
    bpc = _resolve(objects, d.get("/BitsPerComponent"))
    cs = _resolve(objects, d.get("/ColorSpace"))
    filt = _resolve(objects, d.get("/Filter"))
    if isinstance(filt, list):
        filt = filt[0] if len(filt) == 1 else filt
    if isinstance(filt, list):
        # e.g. [/FlateDecode /DCTDecode]: the stream needs the whole
        # cascade applied in order. Entering the DCTDecode branch with a
        # still-deflated stream would produce a misleading "not a JPEG
        # (no SOI)" error (ADVICE r4 item 3) — fail at the real boundary.
        raise NotImplementedError(
            f"PDF multi-element filter chain {filt} not supported "
            "(single-filter streams only)"
        )
    if filt == "/DCTDecode":
        # the stream bytes ARE a complete JPEG file; the JPEG header is
        # authoritative for precision/colorspace, so skip the bpc/cs
        # checks below (a /Width//Height mismatch is corrupt input)
        from openocr_spark.kernels.jpeg_format import decode_jpeg

        # apply_orientation=False: PDF renderers ignore EXIF tags in
        # embedded images — page geometry comes from the content stream
        px = decode_jpeg(raw, apply_orientation=False)
        ph, pw = px.shape[:2]
        if (ph, pw) != (h, w):
            raise NotImplementedError(
                f"PDF /DCTDecode dims {ph}x{pw} != XObject /Height//Width {h}x{w}"
            )
        return _gray(px)
    if filt not in (None, "/FlateDecode"):
        raise NotImplementedError(f"PDF image filter {filt} not supported")
    if bpc != 8 or cs not in ("/DeviceGray", "/DeviceRGB"):
        raise NotImplementedError(
            f"PDF image bpc={bpc} colorspace={cs} not supported "
            "(8-bit DeviceGray/DeviceRGB only)"
        )
    channels = 1 if cs == "/DeviceGray" else 3
    buf = zlib.decompress(raw) if filt == "/FlateDecode" else raw
    parms = _resolve(objects, d.get("/DecodeParms")) or {}
    if isinstance(parms, list):
        parms = parms[0] if parms else {}
    pred = _resolve(objects, parms.get("/Predictor", 1)) if parms else 1
    if pred and pred >= 10:  # PNG predictors: reuse the PNG unfilter
        stride = w * channels
        arr = np.frombuffer(buf, dtype=np.uint8)
        if arr.size != h * (stride + 1):
            raise NotImplementedError("PDF predictor raster size mismatch")
        px = _png_unfilter(arr, h, stride, channels).reshape(h, w, channels)
    elif pred in (1, None):
        px = np.frombuffer(buf[: h * w * channels], dtype=np.uint8).reshape(
            h, w, channels
        )
    else:
        raise NotImplementedError(f"PDF predictor {pred} not supported")
    if channels == 1:
        return px[:, :, 0].copy()
    return _luma(px[:, :, 0], px[:, :, 1], px[:, :, 2])


def decode_pdf_pages(data: bytes) -> list[np.ndarray]:
    """PDF → one grayscale array per page (check_and_read's PDF→pages
    1→N contract). Each page contributes its largest decodable image
    XObject; a page with none fails loud (we do not render vector/text
    content — the renderer is the documented PyMuPDF boundary)."""
    if data[:5] != b"%PDF-":
        raise NotImplementedError("not a PDF")
    objects = _scan_objects(data)
    catalogs = [
        v if isinstance(v, dict) else v[0]
        for v in objects.values()
        if isinstance(v, (dict, tuple))
        and (v if isinstance(v, dict) else v[0]).get("/Type") == "/Catalog"
    ]
    if not catalogs:
        raise NotImplementedError("PDF without /Catalog")
    pages: list[dict] = []
    _walk_pages(objects, catalogs[-1].get("/Pages"), pages)
    if not pages:
        raise NotImplementedError("PDF without pages")
    out: list[np.ndarray] = []
    for page in pages:
        res = _resolve(objects, page.get("/Resources")) or {}
        xobjs = _resolve(objects, res.get("/XObject")) or {}
        best: np.ndarray | None = None
        first_err: NotImplementedError | None = None
        for _name in sorted(xobjs):
            obj = xobjs[_name]
            obj = objects.get(obj.num) if isinstance(obj, Ref) else obj
            if not (isinstance(obj, tuple) and obj[0].get("/Subtype") == "/Image"):
                continue
            try:
                px = _decode_image_xobject(objects, obj)
            except NotImplementedError as e:
                # an undecodable sibling (JBIG2 stencil, CCITT logo,
                # 1-bit mask) must not take down the page — the
                # contract is the largest DECODABLE image; keep the
                # first error as the diagnostic if nothing decodes
                if first_err is None:
                    first_err = e
                continue
            if best is None or px.size > best.size:
                best = px
        if best is None:
            if first_err is not None:
                raise first_err
            raise NotImplementedError(
                "PDF page without a decodable image XObject (vector/text "
                "pages need a renderer — the documented PyMuPDF boundary)"
            )
        out.append(best)
    return out


def encode_pdf(pages: list) -> bytes:
    """Minimal standards-correct PDF writer: one image XObject per
    page, painted full-page by the content stream, classic xref table
    with byte-exact offsets. Each page is either an (h, w) uint8 array
    (stored Flate-compressed 8-bit DeviceGray) or a `bytes` object
    holding a complete baseline JPEG (embedded verbatim behind
    /DCTDecode — how real scanners store pages). The fixture/sink side
    of decode_pdf_pages; output opens in any PDF viewer."""
    chunks: list[bytes] = [b"%PDF-1.4\n"]
    offsets: dict[int, int] = {}
    n_pages = len(pages)

    def emit(num: int, body: bytes) -> None:
        offsets[num] = sum(len(c) for c in chunks)
        chunks.append(b"%d 0 obj\n%s\nendobj\n" % (num, body))

    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n_pages))
    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(
        2,
        f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>".encode(),
    )
    for i, px in enumerate(pages):
        if isinstance(px, (bytes, bytearray)):
            from openocr_spark.kernels.jpeg_format import jpeg_dimensions

            h, w, ncomp = jpeg_dimensions(bytes(px))
            z, filt = bytes(px), "/DCTDecode"
            cs = {1: "/DeviceGray", 4: "/DeviceCMYK"}.get(ncomp, "/DeviceRGB")
        else:
            h, w = px.shape
            z, filt, cs = (
                zlib.compress(px.astype(np.uint8).tobytes()),
                "/FlateDecode",
                "/DeviceGray",
            )
        page_num, img_num, cont_num = 3 + 3 * i, 4 + 3 * i, 5 + 3 * i
        emit(
            page_num,
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
                f"/Resources << /XObject << /Im{i} {img_num} 0 R >> >> "
                f"/Contents {cont_num} 0 R >>"
            ).encode(),
        )
        emit(
            img_num,
            (
                f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
                f"/ColorSpace {cs} /BitsPerComponent 8 "
                f"/Filter {filt} /Length {len(z)} >>\nstream\n"
            ).encode()
            + z
            + b"\nendstream",
        )
        draw = f"q {w} 0 0 {h} 0 0 cm /Im{i} Do Q".encode()
        emit(
            cont_num,
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(draw), draw),
        )
    xref_off = sum(len(c) for c in chunks)
    n_objs = 2 + 3 * n_pages
    xref = [f"xref\n0 {n_objs + 1}\n0000000000 65535 f \n"]
    for num in range(1, n_objs + 1):
        xref.append(f"{offsets[num]:010d} 00000 n \n")
    trailer = (
        f"trailer\n<< /Size {n_objs + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    )
    chunks.append("".join(xref).encode() + trailer.encode())
    return b"".join(chunks)
