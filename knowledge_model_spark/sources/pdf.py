"""Real PDF text extraction with zero new dependencies.

Reference parity: the reference opens every fetched PDF with PyMuPDF
and concatenates ``page.get_text()`` before artifact-stripping and
passage-splitting (knowledge_model/ingestion/parse_pdfs.py:57-88).
This module is the in-container decode for the encodings that dominate
real-world text PDFs — **FlateDecode content streams (stdlib zlib),
/LZWDecode streams (the shared early-change LZW core in sources/
lzw.py), /ASCIIHexDecode and /ASCII85Decode (stdlib binascii/base64,
including the chained [/ASCII85Decode /FlateDecode] form),
/RunLengthDecode, ``/DecodeParms /Predictor`` post-processing (TIFF
predictor 2 and PNG predictors 10–15 via the shared row-filter core in
sources/predictors.py — the form modern writers give exactly the
ObjStm/xref streams that carry the catalog/page tree), and
uncompressed streams** — so the engine's PDF→text path runs genuine
content extraction, not a stub.  Scanned/image-only PDFs and the
remaining filters (DCT/JPX for CONTENT streams) stay the declared
seam,
as do font-CMap re-encodings: literal/hex strings are decoded as
UTF-8-with-replacement, which is exact for the ASCII page content the
fixtures and the reference's PubMed corpus overwhelmingly carry.

Extraction semantics (deliberately the simple core of what every PDF
text extractor does):

- every stream object is inflated (FlateDecode) or taken raw, and
  scanned for ``BT``/``ET`` text blocks;
- inside a block, ``Tj``, ``'``, ``"`` and ``TJ`` string shows append
  text; the TJ kerning numbers are ignored;
- a text-positioning operator (``Td``, ``TD``, ``T*``, ``Tm``) between
  shows starts a new line — the layout-free approximation of
  PyMuPDF's line assembly;
- pages (content streams containing at least one BT) join with "\\n",
  matching the reference's ``"\\n".join(pages)``.

Escape handling follows the spec: ``\\n \\r \\t \\b \\f \\( \\) \\\\``,
1-3 digit octal codes, line-continuation backslash, and balanced
unescaped parentheses inside literal strings; hex strings ``<...>``
with odd length pad a trailing 0.
"""

from __future__ import annotations

import re
import zlib

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"


_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")
_STREAM_START_RE = re.compile(rb"stream\r?\n")


_NUM_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj(.*?)endobj", re.DOTALL)


def _raw_stream(
    b: bytes, body: bytes, body_at: int
) -> tuple[bytes, bytes] | None:
    """(dictionary head, RAW stream bytes) of one object body, or None.

    Stream extent comes from a DIRECT /Length entry when present —
    compressed payloads can contain the literal bytes ``endstream``
    (or ``endobj``, which truncates the object regex) by chance, so
    the /Length slice is taken from the FULL buffer by absolute offset
    and the lazy regex boundary is only the fallback (and for indirect
    /Length references, which fixtures don't use)."""
    m = _STREAM_START_RE.search(body)
    if not m:
        return None
    head = body[: m.start()]
    lm = _LENGTH_RE.search(head)
    length = int(lm.group(1)) if lm else None
    if length is None:
        # indirect /Length N 0 R (the classic incremental-writer shape:
        # length object written after the stream): resolve the integer
        # object by a targeted scan of the full buffer
        im = re.search(rb"/Length\s+(\d+)\s+\d+\s+R", head)
        if im:
            om = re.search(
                rb"(?:^|[^0-9])%s\s+\d+\s+obj\s*(\d+)\s*endobj"
                % im.group(1),
                b,
            )
            if om:
                length = int(om.group(1))
    if length is not None:
        start = body_at + m.end()
        data = b[start : start + length]
    else:
        em = _STREAM_RE.search(body)
        if not em:
            return None
        data = em.group(1)
    return head, data


def _stream_payload(b: bytes, body: bytes, body_at: int) -> bytes | None:
    """Decoded stream payload of one object body, or None."""
    raw = _raw_stream(b, body, body_at)
    if raw is None:
        return None
    head, data = raw
    return _apply_filters(data, head)


_FILTER_SPEC_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/\w+)")


def _decode_parms(head: bytes) -> tuple[int, int, int, int]:
    """(predictor, columns, colors, bpc) from a stream dictionary's
    /DecodeParms, scalar form (spec defaults 1/1/1/8): the regex scans
    the whole head.  The array form is handled positionally by
    :func:`_decode_parms_list` — a parm dict at array index *i*
    parameterizes /Filter stage *i* only (PDF 32000-1 §7.3.8.2)."""
    def _int(key: bytes, default: int) -> int:
        m = re.search(rb"/%s\s+(\d+)" % key, head)
        return int(m.group(1)) if m else default

    return (
        _int(b"Predictor", 1),
        _int(b"Columns", 1),
        _int(b"Colors", 1),
        _int(b"BitsPerComponent", 8),
    )


_NO_PARMS = (1, 1, 1, 8)


def _decode_parms_list(
    head: bytes, n_filters: int
) -> list[tuple[int, int, int, int]]:
    """Per-filter-stage (predictor, columns, colors, bpc), index-
    aligned with the /Filter chain.  Array form ``/DecodeParms [null
    << ... >>]`` is parsed positionally (``null`` → defaults, ``<<
    ... >>`` balanced-scanned) so a predictor attached to one stage of
    a legal multi-stage chain inverts at exactly that stage — never
    twice, never at the wrong point.  Scalar form keeps the pre-r8
    whole-head scan applied at every stage (single-filter streams,
    the overwhelmingly common shape, are unaffected either way)."""
    m = re.search(rb"/DecodeParms\s*", head)
    if not m:
        return [_NO_PARMS] * n_filters
    i = m.end()
    if head[i : i + 1] != b"[":
        return [_decode_parms(head)] * n_filters
    entries: list[tuple[int, int, int, int]] = []
    j = i + 1
    while j < len(head) and len(entries) < n_filters:
        while j < len(head) and head[j] in _WHITESPACE:
            j += 1
        if head[j : j + 1] == b"]":
            break
        if head[j : j + 4] == b"null":
            entries.append(_NO_PARMS)
            j += 4
        elif head[j : j + 2] == b"<<":
            depth, k = 0, j
            while k < len(head):
                if head[k : k + 2] == b"<<":
                    depth += 1
                    k += 2
                elif head[k : k + 2] == b">>":
                    depth -= 1
                    k += 2
                    if depth == 0:
                        break
                else:
                    k += 1
            entries.append(_decode_parms(head[j:k]))
            j = k
        else:
            break  # unexpected token: stop, pad with defaults
    while len(entries) < n_filters:
        entries.append(_NO_PARMS)
    return entries


def _apply_filters(data: bytes, head: bytes) -> bytes | None:
    """Run the stream's /Filter chain (scalar or array form, applied in
    declaration order per PDF 32000-1 §7.4): FlateDecode (stdlib zlib),
    LZWDecode (the early-change LZW core, /EarlyChange honored),
    ASCIIHexDecode / ASCII85Decode (stdlib binascii/base64), and
    RunLengthDecode.  ``/DecodeParms /Predictor`` post-processing (2 =
    TIFF horizontal differencing, 10–15 = PNG row filters — the form
    modern writers give exactly the ObjStm/xref streams that carry the
    catalog/page tree) is inverted through the shared predictor core
    (sources/predictors.py) after the Flate/LZW stage it parameterizes.
    None for any filter outside that set (DCT/JPX/CCITT — the declared
    seam; DCT image XObjects are instead surfaced whole by
    :func:`decode_pdf_images`) and for malformed predictor data
    (non-row-aligned / bad tag byte: skip honestly, never misdecode)."""
    fm = _FILTER_SPEC_RE.search(head)
    if not fm:
        return data  # no filter: raw stream
    names = re.findall(rb"/(\w+)", fm.group(1))
    parms = _decode_parms_list(head, len(names))

    def _unpredict(decoded: bytes | None, stage: int) -> bytes | None:
        predictor, columns, colors, bpc = parms[stage]
        if decoded is None or predictor <= 1:
            return decoded
        from knowledge_model_spark.sources.predictors import unfilter_rows

        return unfilter_rows(decoded, predictor, columns, colors, bpc)

    for stage, name in enumerate(names):
        if data is None:
            return None
        if name == b"FlateDecode":
            try:
                data = _unpredict(zlib.decompress(data), stage)
            except zlib.error:
                return None  # corrupt stream: skip, don't lie
        elif name == b"LZWDecode":
            em = re.search(rb"/EarlyChange\s+(\d+)", head)
            from knowledge_model_spark.sources.lzw import lzw_decode_pdf

            data = _unpredict(
                lzw_decode_pdf(
                    data, early_change=int(em.group(1)) if em else 1
                ),
                stage,
            )
        elif name == b"ASCIIHexDecode":
            import binascii

            hexpart = data.split(b">", 1)[0]
            hexpart = bytes(c for c in hexpart if c not in _WHITESPACE)
            if len(hexpart) % 2:  # odd count: implicit trailing 0
                hexpart += b"0"
            try:
                data = binascii.unhexlify(hexpart)
            except binascii.Error:
                return None
        elif name == b"ASCII85Decode":
            import base64

            enc = data.split(b"~>", 1)[0]
            try:
                data = base64.a85decode(
                    bytes(c for c in enc if c not in _WHITESPACE)
                )
            except ValueError:
                return None
        elif name == b"RunLengthDecode":
            data = _rle_decode(data)
        else:
            return None  # DCT/JPX/CCITT/...: the seam
    return data


def _rle_decode(data: bytes) -> bytes | None:
    """PDF RunLengthDecode (spec 7.4.5): length byte L then either
    L+1 literal bytes (L <= 127) or one byte repeated 257-L times
    (L >= 129); 128 is EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        ln = data[i]
        if ln == 128:
            return bytes(out)
        if ln <= 127:
            if i + 1 + ln + 1 > n:
                return None
            out += data[i + 1 : i + 2 + ln]
            i += 2 + ln
        else:
            if i + 1 >= n:
                return None
            out += data[i + 1 : i + 2] * (257 - ln)
            i += 2
    return bytes(out)  # EOD-less: spec-violating but tolerated


def _objects_by_number(b: bytes) -> dict[int, tuple[bytes, int]]:
    """object number -> (body, absolute body offset), last wins (an
    incremental update appends a replacement object).

    PDF 1.5+ **object streams** are expanded too: modern writers put
    the catalog/page-tree/font dictionaries inside compressed
    ``/Type /ObjStm`` streams (spec 7.5.7 — the stream opens with N
    ``objnum offset`` integer pairs, then the object bodies packed at
    ``/First``).  Members cannot themselves contain streams, so their
    synthetic body offset of -1 is never used for /Length slicing.  A
    direct (top-level) definition of the same object number wins over
    an ObjStm member — incremental updates append direct objects.

    Binary stream payloads (embedded JPEGs, compressed data) can
    contain the byte pattern ``N 0 obj … endobj`` by chance; a match
    STARTING inside a previously resolved stream's /Length extent is a
    phantom that could shadow a real object (or swallow the one after
    the stream), so the scan tracks extents and re-searches from each
    extent's end instead of trusting the raw regex walk."""
    objs: dict[int, tuple[bytes, int]] = {}
    extents: list[tuple[int, int]] = []  # resolved stream [start, end)
    pos = 0
    while True:
        m = _NUM_OBJ_RE.search(b, pos)
        if m is None:
            break
        hit = next((e for s, e in extents if s <= m.start() < e), None)
        if hit is not None:
            pos = hit  # phantom match inside stream bytes: rescan after
            continue
        body, at = m.group(2), m.start(2)
        sm = _STREAM_START_RE.search(body)
        if sm is not None:
            raw = _raw_stream(b, body, at)
            if raw is not None:
                start = at + sm.end()
                extents.append((start, start + len(raw[1])))
        objs[int(m.group(1))] = (body, at)
        pos = m.end()
    members: dict[int, tuple[bytes, int]] = {}
    for body, at in list(objs.values()):
        sm = _STREAM_START_RE.search(body)
        if sm is None or not re.search(rb"/Type\s*/ObjStm\b", body[: sm.start()]):
            continue
        nm = re.search(rb"/N\s+(\d+)\b", body[: sm.start()])
        fm = re.search(rb"/First\s+(\d+)\b", body[: sm.start()])
        payload = _stream_payload(b, body, at)
        if payload is None or nm is None or fm is None:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        header = payload[:first].split()
        if len(header) < 2 * n:
            continue
        try:
            pairs = [
                (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
            ]
        except ValueError:
            continue
        for i, (onum, ooff) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(payload) - first
            members[onum] = (payload[first + ooff : first + end], -1)
    for onum, rec in members.items():
        objs.setdefault(onum, rec)
    return objs


_REF_RE_T = rb"/%s\s+(\d+)\s+\d+\s+R"
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:\s*\d+\s+\d+\s+R)+)\s*\]")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[((?:\s*\d+\s+\d+\s+R)+)\s*\]")
_REF_LIST_RE = re.compile(rb"(\d+)\s+\d+\s+R")


def _pages_with_bodies(
    b: bytes, objs: dict[int, tuple[bytes, int]]
) -> list[tuple[bytes, list[bytes], bytes | None]] | None:
    """Follow /Root → /Pages → /Kids to the page objects IN PAGE-TREE
    ORDER (file byte order is NOT page order for incrementally-updated
    or generator-written PDFs), returning each page's DICT BODY, its
    decoded content streams — a /Contents array is ONE page, not
    several — and the dict body that OWNS the page's /Resources: the
    page itself when it declares one, else the nearest ancestor /Pages
    node carrying /Resources (the PDF-spec inheritable attribute —
    real scanned PDFs commonly hoist shared resources to the parent;
    r10 ADVICE), else None.  None when the tree can't be resolved
    (caller falls back to byte order)."""
    root = re.search(_REF_RE_T % b"Root", b)
    if not root or int(root.group(1)) not in objs:
        return None
    catalog = objs[int(root.group(1))][0]
    pages_ref = re.search(_REF_RE_T % b"Pages", catalog)
    if not pages_ref or int(pages_ref.group(1)) not in objs:
        return None
    pages: list[tuple[bytes, list[bytes], bytes | None]] = []
    visited: set[int] = set()

    def walk(num: int, inherited_res: bytes | None) -> bool:
        if num in visited or num not in objs:
            return False  # cycle or dangling ref: unresolvable
        visited.add(num)
        body, _ = objs[num]
        res_owner = body if b"/Resources" in body else inherited_res
        kids = _KIDS_RE.search(body)
        if kids is not None and b"/Type" in body and b"/Page" in body \
                and b"/Pages" in body:
            for m in _REF_LIST_RE.finditer(kids.group(1)):
                if not walk(int(m.group(1)), res_owner):
                    return False
            return True
        # a leaf page: /Contents is a ref or an array of refs
        arr = _CONTENTS_ARR_RE.search(body)
        if arr is not None:
            refs = [int(m.group(1)) for m in _REF_LIST_RE.finditer(arr.group(1))]
        else:
            one = re.search(_REF_RE_T % b"Contents", body)
            if one is None:
                pages.append((body, [], res_owner))  # blank page
                return True
            refs = [int(one.group(1))]
        streams = []
        for r in refs:
            if r not in objs:
                return False
            data = _stream_payload(b, *objs[r])
            if data is not None:
                streams.append(data)
        pages.append((body, streams, res_owner))
        return True

    if not walk(int(pages_ref.group(1)), None):
        return None
    return pages


def _page_streams_in_tree_order(
    b: bytes, objs: dict[int, tuple[bytes, int]]
) -> list[list[bytes]] | None:
    """Content streams per page in tree order (see _pages_with_bodies)."""
    pages = _pages_with_bodies(b, objs)
    return None if pages is None else [s for _, s, _ in pages]


def _inflate_streams(b: bytes) -> list[bytes]:
    """All decodable stream payloads, in file byte order — the
    fallback when the page tree can't be resolved."""
    out = []
    for m in _NUM_OBJ_RE.finditer(b):
        data = _stream_payload(b, m.group(2), m.start(2))
        if data is not None:
            out.append(data)
    return out


def _parse_literal(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ``(...)`` literal string starting at the '('; returns
    (decoded bytes, index after the closing paren)."""
    assert data[i : i + 1] == b"("
    i += 1
    depth = 1
    out = bytearray()
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in b"nrtbf":
                out += {"n": b"\n", "r": b"\r", "t": b"\t", "b": b"\b", "f": b"\f"}[
                    chr(e)
                ]
                i += 1
            elif e in b"()\\":
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                j = i
                while j < min(i + 3, n) and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in b"\r\n":  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # spec: lone backslash is dropped
                out.append(e)
                i += 1
            continue
        if c == 0x28:  # nested unescaped (
            depth += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out.append(c)
        i += 1
    return bytes(out), i


def _parse_hex(data: bytes, i: int) -> tuple[bytes, int]:
    assert data[i : i + 1] == b"<"
    j = data.find(b">", i + 1)
    if j == -1:
        return b"", len(data)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : j])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")), j + 1


_NUMBER_TOKEN_RE = re.compile(rb"[+-]?[0-9.]+")


def _extract_text(content: bytes) -> str:
    """Text shown by one content stream (see module doc for semantics)."""
    i = 0
    n = len(content)
    in_text = False
    lines: list[list[bytes]] = []
    cur: list[bytes] = []
    pending: list[bytes] = []  # strings seen since the last operator

    def flush_show() -> None:
        nonlocal pending
        if pending:
            cur.extend(pending)
            pending = []

    def newline() -> None:
        nonlocal cur
        if cur:
            lines.append(cur)
            cur = []

    while i < n:
        c = content[i]
        if c in _WHITESPACE:
            i += 1
            continue
        if c == 0x25:  # % comment to EOL
            j = content.find(b"\n", i)
            i = n if j == -1 else j + 1
            continue
        if c == 0x28:  # (
            s, i = _parse_literal(content, i)
            if in_text:
                pending.append(s)
            continue
        if c == 0x3C:  # < — hex string or << dict
            if content[i : i + 2] == b"<<":
                i += 2
                continue
            s, i = _parse_hex(content, i)
            if in_text:
                pending.append(s)
            continue
        if c in b"[]{}>/)":
            # ')' here is a STRAY close-paren (corrupt stream — a real
            # one is consumed by _parse_literal); without this case the
            # token scan below yields an empty token without advancing
            # i, an infinite loop on garbage (found by the r6 fuzz)
            if c == 0x2F:  # /Name: skip token
                i += 1
                while i < n and content[i] not in _WHITESPACE and content[i] not in _DELIMS:
                    i += 1
                continue
            i += 1
            continue
        # regular token (operator or number)
        j = i
        while j < n and content[j] not in _WHITESPACE and content[j] not in _DELIMS:
            j += 1
        tok = content[i:j]
        i = j
        if tok == b"BI":
            # inline image: skip the param dict to ID, then the binary
            # data to a whitespace-delimited EI — raw image bytes would
            # otherwise derail the string/token parser (a 0x28 byte
            # starts a bogus literal that can swallow the rest)
            id_at = re.search(rb"(?:^|[\x00\t\n\x0c\r ])ID[\x00\t\n\x0c\r ]", content[i:])
            if id_at is None:
                break
            scan_from = i + id_at.end()
            ei = re.search(
                rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ()<\[/%]|$)",
                content[scan_from:],
            )
            if ei is None:
                break
            i = scan_from + ei.end()
        elif tok == b"BT":
            in_text = True
            pending = []
        elif tok == b"ET":
            newline()
            in_text = False
            pending = []
        elif not in_text:
            continue
        elif tok in (b"Tj", b"TJ"):
            flush_show()
        elif tok in (b"'", b'"'):
            # both move to the next line, then show
            newline()
            flush_show()
        elif tok in (b"Td", b"TD", b"T*", b"Tm"):
            newline()
            pending = []
        elif not _NUMBER_TOKEN_RE.fullmatch(tok):
            # any OTHER operator consumed its operands: strings that
            # were operands of non-show operators (BDC property dicts'
            # /ActualText, orphan Td operands) must NOT leak into the
            # output; numbers stay — they're co-operands of a pending
            # show (TJ kerning) and must not clear it
            pending = []
    flush_show()
    newline()
    return "\n".join(
        b"".join(parts).decode("utf-8", errors="replace") for parts in lines
    )


def decode_pdf_pages(b: bytes) -> list[str] | None:
    """PDF bytes → one extracted-text string per page, in PAGE-TREE
    order (the reference's per-page ``get_text()`` order; file byte
    order is the fallback only when the tree can't be resolved).  A
    page whose /Contents is an array of streams is ONE page.  None
    when the payload is not a PDF.  Blank/image-only pages yield ''
    entries (the reference joins EVERY ``page.get_text()`` including
    empty ones); only the tree-less byte-order fallback drops empty
    streams, because there page boundaries are unknowable."""
    if not b or not b.startswith(b"%PDF-"):
        return None
    tree = _page_streams_in_tree_order(b, _objects_by_number(b))
    pages = []
    if tree is not None:
        for streams in tree:
            content = b"\n".join(streams)
            txt = _extract_text(content) if b"BT" in content else ""
            # blank/image-only pages stay as '' — the reference joins
            # EVERY page.get_text() including empty ones, so dropping
            # them would lose newlines and undercount n_pages
            pages.append(txt)
        return pages
    for stream in _inflate_streams(b):
        if b"BT" not in stream:
            continue  # not a text content stream (fonts, images, xobjects)
        txt = _extract_text(stream)
        if txt:
            pages.append(txt)
    return pages


def decode_pdf_text(b: bytes) -> str | None:
    """PDF bytes → extracted text, pages joined by newline (the
    reference's ``"\\n".join(page.get_text() for page in doc)`` shape,
    parse_pdfs.py:75-82)."""
    pages = decode_pdf_pages(b)
    return None if pages is None else "\n".join(pages)


# ------------------------------------------------- embedded image extraction


def _jpeg_dims(b: bytes) -> tuple[int, int] | None:
    """(width, height) from a JPEG's SOF marker, by marker walk."""
    if not b.startswith(b"\xff\xd8"):
        return None
    i = 2
    n = len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            if i + 9 > n:
                return None
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return w, h
        i += 2 + seg_len
    return None


def _image_entry_dims(img) -> tuple[int, int]:
    """(width, height) of an encode_simple_pdf image entry — JPEG bytes
    or a (kind, pixel-array) tuple."""
    if isinstance(img, (bytes, bytearray)):
        return _jpeg_dims(bytes(img)) or (1, 1)
    px = img[1]
    return int(px.shape[1]), int(px.shape[0])


_DECODABLE_FILTERS = (
    b"FlateDecode", b"LZWDecode", b"ASCIIHexDecode", b"ASCII85Decode",
)


def _decode_ccitt_image(data: bytes, head: bytes) -> bytes | None:
    """A /CCITTFaxDecode image stream → P6 PPM, or None — the FULL
    /K family (r7): Group 4 (/K < 0, the form scanned-document PDFs
    carry), Group 3 one-dimensional (/K 0, default), and Group 3 mixed
    two-dimensional (/K > 0, EOL+tag framed), plus /EncodedByteAlign
    per-line fill for the K ≤ 0 forms.  The bit→gray mapping honors
    /BlackIs1 (default false: black runs are 0 samples) and a
    /Decode [1 0] inversion, so black pixels land at luma 0 for every
    writer convention."""
    import numpy as np

    from knowledge_model_spark.sources.ccitt import (
        g3_1d_decode,
        g3_mixed_decode,
        g4_decode,
    )

    km = re.search(rb"/K\s+(-?\d+)", head)
    k = int(km.group(1)) if km else 0
    cm = re.search(rb"/Columns\s+(\d+)", head)
    rm = re.search(rb"/Rows\s+(\d+)", head)
    hm = re.search(rb"/Height\s+(\d+)", head)
    columns = int(cm.group(1)) if cm else 1728
    rows = int(rm.group(1)) if rm else (int(hm.group(1)) if hm else None)
    aligned = re.search(rb"/EncodedByteAlign\s+true", head) is not None
    if k > 0:
        # per-line EOL+fill framing subsumes byte alignment
        bitmap = g3_mixed_decode(bytes(data), columns, rows)
    elif k < 0:
        bitmap = g4_decode(bytes(data), columns, rows, byte_align=aligned)
    else:
        bitmap = g3_1d_decode(bytes(data), columns, rows, byte_align=aligned)
    if bitmap is None:
        return None
    black_bit = 1 if re.search(rb"/BlackIs1\s+true", head) else 0
    inverted = re.search(rb"/Decode\s*\[\s*1(?:\.0)?\s+0(?:\.0)?\s*\]", head)
    # gray sample of a black pixel after the (default-identity) Decode map
    black_gray = black_bit if not inverted else 1 - black_bit
    luma = np.where(bitmap, black_gray, 1 - black_gray).astype(np.uint8) * 255
    h, w = luma.shape
    return b"P6\n%d %d\n255\n" % (w, h) + np.repeat(luma, 3).tobytes()


def decode_pdf_images(b: bytes) -> list[bytes] | None:
    """Embedded image XObjects of a PDF, in file order, each re-emitted
    as a payload the in-container image codecs decode: **/DCTDecode
    streams pass through as complete JPEG files** (the spec guarantees
    a DCT image stream is a standalone JPEG — sources/jpeg.py then
    decodes it), raw-sample images behind Flate/LZW/ASCII filters
    with 8-bit /DeviceRGB or /DeviceGray become P6 PPM (including
    /DecodeParms predictor-coded samples — _apply_filters inverts the
    row predictors since r7), and **/CCITTFaxDecode images across the
    full /K family — Group 4 (/K < 0), Group 3 1-D (/K 0), and mixed
    2-D G3 (/K > 0), with /EncodedByteAlign honored — decode through
    sources/ccitt.py to P6** (asserted end to end by
    test_ccitt_g3_mixed_and_byte_align_pdf_extraction).  None when the
    payload is not a PDF; JPX/JBIG2, indexed, and CMYK images are
    skipped (the declared seam).

    This is the image half of the reference's PyMuPDF surface
    (parse_pdfs.py opens the same documents; ``page.get_images`` is
    the PyMuPDF analog) — a multimodal training pipeline extracts
    figures from paper PDFs with exactly this shape."""
    if not b or not b.startswith(b"%PDF-"):
        return None
    out: list[bytes] = []
    for m in _NUM_OBJ_RE.finditer(b):
        raw = _raw_stream(b, m.group(2), m.start(2))
        if raw is None:
            continue
        head, data = raw
        if not re.search(rb"/Subtype\s*/Image\b", head):
            continue
        fm = _FILTER_SPEC_RE.search(head)
        names = re.findall(rb"/(\w+)", fm.group(1)) if fm else []
        if names == [b"DCTDecode"]:
            jpg = bytes(data)
            if _jpeg_dims(jpg) is not None:
                out.append(jpg)
            continue
        if names == [b"CCITTFaxDecode"]:
            ppm = _decode_ccitt_image(data, head)
            if ppm is not None:
                out.append(ppm)
            continue
        if any(nm not in _DECODABLE_FILTERS for nm in names):
            continue  # JPX/JBIG2/...: the seam
        px = _apply_filters(data, head)
        wm = re.search(rb"/Width\s+(\d+)", head)
        hm = re.search(rb"/Height\s+(\d+)", head)
        bm = re.search(rb"/BitsPerComponent\s+(\d+)", head)
        if px is None or not (wm and hm) or (bm and bm.group(1) != b"8"):
            continue
        w, h = int(wm.group(1)), int(hm.group(1))
        if b"/DeviceRGB" in head and len(px) >= w * h * 3:
            out.append(b"P6\n%d %d\n255\n" % (w, h) + px[: w * h * 3])
        elif b"/DeviceGray" in head and len(px) >= w * h:
            import numpy as np

            gray = np.frombuffer(px[: w * h], dtype=np.uint8)
            rgb = np.repeat(gray, 3).tobytes()
            out.append(b"P6\n%d %d\n255\n" % (w, h) + rgb)
    return out


_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_NAME_REF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_RES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")


def triage_pdf_pages(b: bytes) -> list[dict] | None:
    """Per-page text-layer / image triage from the ALREADY-PARSED
    structures — the routing table a 100 TB ingest consults BEFORE
    paying any image decode: pages with a text layer go to the text
    extractor, image-only pages (scans) route to an external OCR seam,
    and the decision costs one content-stream tokenization per page.

    Per page (tree order): ``has_text`` = any Tj/TJ rendered non-empty
    text; ``n_images`` = image XObjects referenced from the page's
    /Resources (inline dict or indirect ref, falling back to the
    nearest ancestor /Pages node's /Resources per the PDF-spec
    inheritance rule; counted when their object body carries
    /Subtype /Image); ``image_filters`` = their sorted
    /Filter names (so the router also knows whether the repo's codecs
    could decode them or they sit on the JPX/JBIG2 seam); ``triage`` ∈
    {text, hybrid, image_only, empty}.  Inline BI…EI images are not
    counted (the fixture writer never emits them; a page carrying only
    inline images triages as its text layer dictates — documented
    heuristic, not a misdecode risk since no decode is attempted).
    None when the payload is not a PDF or the page tree cannot be
    resolved — the refuse-never-misguess policy."""
    if not b or not b.startswith(b"%PDF-"):
        return None
    objs = _objects_by_number(b)
    pages = _pages_with_bodies(b, objs)
    if pages is None:
        return None
    out: list[dict] = []
    for i, (body, streams, res_owner) in enumerate(pages):
        content = b"\n".join(streams)
        txt = _extract_text(content) if content else ""
        has_text = bool(txt.strip())
        # /Resources is inheritable (PDF 32000-1 §7.7.3.4): when the
        # page dict lacks one, the tree walk handed us the nearest
        # ancestor /Pages body that declares it — without this, scans
        # with parent-hoisted resources triage as 'empty' and dodge
        # OCR routing (r10 ADVICE)
        res = res_owner if res_owner is not None else body
        rm = _RES_REF_RE.search(res)
        if rm is not None and int(rm.group(1)) in objs:
            res = objs[int(rm.group(1))][0]
        filters: list[str] = []
        xm = _XOBJ_DICT_RE.search(res)
        if xm is not None:
            for _name, num in _NAME_REF_RE.findall(xm.group(1)):
                onum = int(num)
                if onum not in objs:
                    continue
                xbody = objs[onum][0]
                if not re.search(rb"/Subtype\s*/Image\b", xbody):
                    continue
                fm = re.search(rb"/Filter\s*/(\w+)", xbody)
                filters.append(fm.group(1).decode() if fm else "raw")
        n_images = len(filters)
        if has_text:
            triage = "hybrid" if n_images else "text"
        else:
            triage = "image_only" if n_images else "empty"
        out.append(
            {
                "page": i + 1,
                "has_text": has_text,
                "n_images": n_images,
                "image_filters": sorted(filters),
                "triage": triage,
            }
        )
    return out


# ------------------------------------------------------- fixture writer


def make_reference_shaped_pages(
    text: str,
    words_per_page: int = 40,
    furniture: bool = True,
) -> list[str]:
    """Render document text into PDF page strings shaped like a REAL
    scanned article (reference parse_pdfs.py:23-54's input): each page
    carries a ``Page N of M`` header, 10-word body lines with
    hyphen-linebreak splits at line junctions (``transfor-\\n mation``),
    a copyright footer, and a bare page-number line — exactly the
    artifacts ``strip_page_furniture`` and ``rejoin_hyphen_linebreaks``
    exist to remove.  ``furniture=False`` renders the same pagination
    with NO noise, so noisy-vs-clean pipeline equality is a testable
    losslessness property (the noise is invertible by construction:
    furniture lines match PAGE_FURNITURE_RE / DIGIT_LINE_RE exactly,
    and splits only land between ASCII word chars so the rejoin regex
    provably fires)."""
    words = (text or "").split(" ")
    pages = []
    n_pages = max(1, -(-len(words) // words_per_page))
    for p in range(n_pages):
        chunk = words[p * words_per_page : (p + 1) * words_per_page]
        lines = [
            " ".join(chunk[i : i + 10])
            for i in range(0, len(chunk), 10)
        ] or [""]
        if furniture:
            for k in range(len(lines) - 1):
                head = lines[k + 1].split(" ", 1)
                w = head[0]
                if (
                    len(w) >= 6
                    and w[2].isascii() and w[2].isalnum()
                    and w[3].isascii() and w[3].isalnum()
                ):
                    lines[k] += " " + w[:3] + "-"
                    lines[k + 1] = w[3:] + (
                        " " + head[1] if len(head) > 1 else ""
                    )
            lines = (
                [f"Page {p + 1} of {n_pages}"]
                + lines
                + ["© 2024 Example Press. All rights reserved.", str(p + 1)]
            )
        pages.append("\n".join(lines))
    return pages


def encode_simple_pdf(
    pages: list[str],
    compress: bool | str = True,
    images: list[bytes] | None = None,
) -> bytes:
    """Minimal but well-formed single-font PDF writer (fixtures and the
    round-trip query): one content stream per page, FlateDecode by
    default (``compress="lzw"`` writes /LZWDecode streams — the
    pre-Flate legacy filter old Acrobat-era PDFs carry;
    ``"flate-pred12"`` / ``"lzw-pred2"`` write /DecodeParms
    predictor-filtered streams — PNG predictor 12 and TIFF horizontal
    differencing), real xref table.  Each input page string becomes Td-spaced ``Tj`` lines, so
    ``decode_pdf_text(encode_simple_pdf(pages))`` reproduces
    ``"\\n".join(pages)`` exactly — the property the tests and the
    registered round-trip query pin.

    ``images``: image XObjects embedded on page 1, referenced from its
    resources and drawn with ``cm``/``Do`` operators — the shape every
    figure-bearing article PDF has.  Each entry is either raw JPEG
    ``bytes`` (embedded as /DCTDecode, extracted back byte-identical by
    :func:`decode_pdf_images`) or a ``(kind, pixels)`` tuple with
    ``kind`` in ``{"flate", "lzw-gray", "g4"}`` and ``pixels`` a numpy
    array (HxWx3 uint8 RGB for flate, HxW uint8 gray for lzw-gray,
    HxW bool True=black for g4) — embedded as a raw-sample image
    behind /FlateDecode or /LZWDecode, or a /CCITTFaxDecode Group 4
    1-bit image; :func:`decode_pdf_images` re-emits each as P6 PPM."""

    def esc(line: str) -> bytes:
        raw = line.encode("utf-8")
        return (
            raw.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")
        )

    objs: list[bytes] = []  # 1-indexed
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    font_num = 3 + 2 * n_pages
    imgs = images or []
    img_nums = [font_num + 1 + j for j in range(len(imgs))]
    for i, page in enumerate(pages):
        content_num = 4 + 2 * i
        res = f"<< /Font << /F1 {font_num} 0 R >>"
        if i == 0 and imgs:
            xo = " ".join(
                f"/Im{j + 1} {num} 0 R" for j, num in enumerate(img_nums)
            )
            res += f" /XObject << {xo} >>"
        res += " >>"
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources {res} /Contents {content_num} 0 R >>"
            ).encode()
        )
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(page.split("\n")):
            if k:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + esc(line) + b") Tj")
        ops.append(b"ET")
        if i == 0 and imgs:
            for j, img in enumerate(imgs):
                dims = _image_entry_dims(img)
                ops.append(
                    b"q %d 0 0 %d 72 %d cm /Im%d Do Q"
                    % (dims[0], dims[1], 80 + 8 * j, j + 1)
                )
        body = b"\n".join(ops)
        if compress == "lzw":
            from knowledge_model_spark.sources.lzw import lzw_encode_pdf

            data = lzw_encode_pdf(body)
            head = b"<< /Length %d /Filter /LZWDecode >>" % len(data)
        elif compress in ("flate-pred12", "lzw-pred2"):
            # /DecodeParms predictor streams: the row-structured form
            # modern writers give ObjStm/xref (and occasionally content)
            # streams.  The body pads to whole rows with spaces — inert
            # to the content tokenizer — then the shared predictor core
            # filters the rows before compression.
            from knowledge_model_spark.sources.predictors import filter_rows

            columns = 64
            if len(body) % columns:
                body += b" " * (columns - len(body) % columns)
            if compress == "flate-pred12":
                filtered = filter_rows(body, 12, columns)
                data = zlib.compress(filtered)
                head = (
                    b"<< /Length %d /Filter /FlateDecode /DecodeParms "
                    b"<< /Predictor 12 /Columns %d >> >>" % (len(data), columns)
                )
            else:
                from knowledge_model_spark.sources.lzw import lzw_encode_pdf

                filtered = filter_rows(body, 2, columns)
                data = lzw_encode_pdf(filtered)
                head = (
                    b"<< /Length %d /Filter /LZWDecode /DecodeParms "
                    b"<< /Predictor 2 /Columns %d >> >>" % (len(data), columns)
                )
        elif compress:
            data = zlib.compress(body)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        else:
            data = body
            head = b"<< /Length %d >>" % len(data)
        objs.append(head + b"\nstream\n" + data + b"\nendstream")
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for img in imgs:
        w, h = _image_entry_dims(img)
        if isinstance(img, (bytes, bytearray)):  # JPEG → /DCTDecode
            jpg = bytes(img)
            objs.append(
                (
                    b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                    b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                    b"/Filter /DCTDecode /Length %d >>\nstream\n"
                    % (w, h, len(jpg))
                )
                + jpg
                + b"\nendstream"
            )
            continue
        kind, px = img
        if kind in ("g4", "g3"):
            from knowledge_model_spark.sources.ccitt import (
                g3_1d_encode,
                g4_encode,
            )

            data = g4_encode(px) if kind == "g4" else g3_1d_encode(px)
            k = -1 if kind == "g4" else 0
            objs.append(
                (
                    b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
                    b"/Filter /CCITTFaxDecode /DecodeParms "
                    b"<< /K %d /Columns %d /Rows %d >> /Length %d >>\nstream\n"
                    % (w, h, k, w, h, len(data))
                )
                + data
                + b"\nendstream"
            )
            continue
        raw = px.astype("uint8").tobytes()
        if kind == "flate":
            data = zlib.compress(raw)
            flt, cs = b"/FlateDecode", b"/DeviceRGB"
        elif kind == "lzw-gray":
            from knowledge_model_spark.sources.lzw import lzw_encode_pdf

            data = lzw_encode_pdf(raw)
            flt, cs = b"/LZWDecode", b"/DeviceGray"
        else:
            raise ValueError(f"unknown image kind {kind!r}")
        objs.append(
            (
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace %s /BitsPerComponent 8 "
                b"/Filter %s /Length %d >>\nstream\n"
                % (w, h, cs, flt, len(data))
            )
            + data
            + b"\nendstream"
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


# ------------------------------------------------ Spark-side operator


def pdf_text_extract(media, decode: str = "REAL"):
    """media(media_id, payload) → (media_id, n_pages, n_chars, text):
    distributed PDF→text over Arrow-batched ``mapInPandas`` — the
    engine's parse_pdf surface (reference parse_pdfs.py:57-88 runs the
    same extraction single-process over ``src.rglob('*.pdf')``).

    REAL runs :func:`decode_pdf_text` (genuine content extraction for
    FlateDecode/LZWDecode/uncompressed streams; non-PDF payloads raise
    at the exact seam point).  DETERMINISTIC derives a reproducible pseudo-text
    from the payload bytes so the plumbing is testable on arbitrary
    binaries.  Downstream composes with the SAME cleaning/passage
    pipeline as every other text source (functions/text_cleaning.py,
    functions/chunking.py — the reference's strip/split steps).
    """
    import hashlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    if decode not in ("DETERMINISTIC", "REAL"):
        raise ValueError("decode must be DETERMINISTIC or REAL")

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_pages", T.IntegerType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, n_pages, n_chars, texts = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                if decode == "REAL":
                    page_list = decode_pdf_pages(b)
                    if page_list is None:
                        raise NotImplementedError(
                            "non-PDF payload (or scanned/image PDF) requires "
                            "PyMuPDF — not in container; REAL decode supports "
                            "FlateDecode/LZWDecode/uncompressed text PDFs"
                        )
                    txt = "\n".join(page_list)
                    pages = len(page_list)
                else:
                    h = hashlib.sha256(b).hexdigest()
                    txt = f"pdf:{h[:16]}"
                    pages = 1
                ids.append(mid)
                n_pages.append(pages)
                n_chars.append(len(txt))
                texts.append(txt)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "n_pages": pd.Series(n_pages, dtype="int32"),
                    "n_chars": pd.Series(n_chars, dtype="int64"),
                    "text": texts,
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, schema)
