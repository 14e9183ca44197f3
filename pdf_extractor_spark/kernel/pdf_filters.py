"""PDF stream filters beyond raw FlateDecode.

Decoders for the filter names crawl PDFs actually carry — LZWDecode (the
pre-Flate compressor older generators emit), the ASCII transport encodings
(ASCIIHexDecode / ASCII85Decode), RunLengthDecode, and the Flate/LZW
predictor post-step (PNG predictors 10-15, TIFF predictor 2). PNG
predictors are the hard prerequisite for PDF 1.5 cross-reference streams,
which are always written `/Filter /FlateDecode /DecodeParms << /Predictor
12 ... >>` in practice.

The reference gets all of these invisibly from PyMuPDF
(reference services/pdf_service.py:16 — `fitz.open` decodes every standard
filter); here each is a from-scratch implementation of the algorithm as
specified publicly in ISO 32000-1 §7.4.

Error policy matches the kernel's failures-are-data contract: decoders
raise ValueError on malformed input and the stream-level caller maps any
failure to "skip this stream" (document degrades to fewer pages, never a
task failure).
"""

from __future__ import annotations

import re
import zlib


def ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (ISO 32000-1 §7.4.2): hex pairs, whitespace ignored,
    `>` is EOD, odd trailing digit pads a 0."""
    body = data.split(b">")[0]
    body = body.translate(None, b" \t\r\n\f\x0b\x00")
    if len(body) % 2:
        body += b"0"
    try:
        return bytes.fromhex(body.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise ValueError(f"bad ASCIIHex stream: {e}") from None


def ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (ISO 32000-1 §7.4.3): 5 chars of '!'..'u' → 4 bytes
    base-85 big-endian; 'z' is a 4-zero-byte shorthand (only between
    groups); '~>' is EOD; partial final group of k chars yields k-1 bytes."""
    body = data.split(b"~>")[0]
    if body.startswith(b"<~"):  # optional Adobe-style opener
        body = body[2:]
    body = body.translate(None, b" \t\r\n\f\x0b\x00")
    out = bytearray()
    group: list[int] = []
    for c in body:
        if c == 0x7A and not group:  # 'z'
            out += b"\x00\x00\x00\x00"
            continue
        if not (33 <= c <= 117):
            raise ValueError(f"bad ASCII85 byte {c}")
        group.append(c - 33)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflows 32 bits")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("ASCII85 final group of 1 char is illegal")
        k = len(group)
        group += [84] * (5 - k)  # pad with 'u'
        v = 0
        for g in group:
            v = v * 85 + g
        if v > 0xFFFFFFFF:
            raise ValueError("ASCII85 group overflows 32 bits")
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def run_length_decode(data: bytes) -> bytes:
    """RunLengthDecode (ISO 32000-1 §7.4.5): length byte L — L<128 copies
    the next L+1 bytes, L>128 repeats the next byte 257-L times, L==128 is
    EOD. A truncated run degrades to the bytes present (ragged crawl
    data)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        l = data[i]
        i += 1
        if l == 128:
            break
        if l < 128:
            out += data[i : i + l + 1]
            i += l + 1
        elif i < n:
            out += bytes([data[i]]) * (257 - l)
            i += 1
    return bytes(out)


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (ISO 32000-1 §7.4.4): TIFF-style LZW — MSB-first variable
    width codes (9→12 bits), 256 = clear table, 257 = EOD, table entries
    from 258. `early_change` (default 1, per spec) widens the code one
    entry before the table is actually full."""
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    out = bytearray()
    bitbuf = 0
    nbits = 0
    # expansion-bomb defense: legitimate PDF LZW ratios are single-digit
    # (text) to low-hundreds (predictor-friendly raster rows); a crafted
    # stream that builds a maximal table and replays its longest entries
    # expands ~2700× per spec — and QUADRATICALLY if the decoder keeps
    # appending past the 4096-entry spec cap. Breach → ValueError → the
    # stream is skipped (failures are data), the task survives.
    max_out = max(1 << 20, 256 * len(data))
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError(f"LZW code {code} before any literal")
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                elif code == len(table):
                    entry = prev + prev[:1]  # the KwKwK case
                else:
                    raise ValueError(f"LZW code {code} beyond table")
                # spec cap: the encoder must clear at 4096 entries
                # (ISO 32000-1 §7.4.4.2); libtiff-style deferred-clear
                # streams keep USING the full table, so tolerate the
                # missing clear but never grow past it — unbounded
                # appends are what turn expansion quadratic
                if len(table) < 4096:
                    table.append(prev + entry[:1])
                    # early change: the encoder widens one entry before
                    # the table fills (libtiff semantics) — the decoder's
                    # table holds next_code entries, so widen at
                    # (1<<width) - early
                    if len(table) + early_change >= (1 << width) and width < 12:
                        width += 1
            out += entry
            if len(out) > max_out:
                raise ValueError("LZW output exceeds plausible expansion")
            prev = entry
    return bytes(out)


def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """LZW encoder (test/synth twin of lzw_decode — a decoder verified only
    against its own encoder proves nothing, so tests also pin hand-computed
    bit-level vectors)."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)  # leading clear, as PDF writers emit
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # decoder's table runs one append behind the encoder's (it appends
        # only on the NEXT code), so the encoder widens one entry later
        if next_code + early_change > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096 - early_change:  # table full: clear + restart
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w])
    emit(257)  # EOD
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    """ASCII85 encoder (synth/test twin of ascii85_decode): 'z' shorthand
    for zero groups, partial final group of k bytes → k+1 chars, '~>'
    EOD."""
    out = bytearray()
    n = len(data)
    for i in range(0, n, 4):
        chunk = data[i : i + 4]
        k = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        if v == 0 and k == 4:
            out += b"z"
            continue
        group = bytearray(5)
        for j in range(4, -1, -1):
            group[j] = 33 + v % 85
            v //= 85
        out += group[: k + 1]
    return bytes(out) + b"~>"


def run_length_encode(data: bytes) -> bytes:
    """RunLength encoder (synth/test twin): runs ≥3 become repeat codes,
    literals batch up to 128 bytes."""
    out = bytearray()
    i = 0
    n = len(data)
    lit_start = i
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            while lit_start < i:  # flush pending literals first
                take = min(128, i - lit_start)
                out.append(take - 1)
                out += data[lit_start : lit_start + take]
                lit_start += take
            out.append(257 - run)
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    while lit_start < i:
        take = min(128, i - lit_start)
        out.append(take - 1)
        out += data[lit_start : lit_start + take]
        lit_start += take
    out.append(128)  # EOD
    return bytes(out)


def png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """Reverse PNG row filters (predictors 10-15; RFC 2083 §6): each row is
    a filter-type byte + filtered bytes; Sub/Up/Average/Paeth reconstruct
    against the previous pixel/row. `bpp` is the byte-granular pixel span
    used for the 'left' reference (min 1, as PNG specifies)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (colors * bpc * columns + 7) // 8
    if rowlen <= 0:
        raise ValueError("bad predictor columns")
    if rowlen > len(data):
        # /DecodeParms is attacker bytes: Columns=10^9 on a tiny stream
        # would otherwise allocate GiB-scale row buffers (prev + the
        # ragged-tail pad) and loop over them per row. A legitimate
        # stream carries at least one full (1 + rowlen)-byte row, so
        # this bound costs nothing real.
        raise ValueError("predictor row longer than stream")
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i < n:
        ft = data[i]
        i += 1
        row = bytearray(data[i : i + rowlen])
        i += rowlen
        if len(row) < rowlen:
            row += bytes(rowlen - len(row))  # ragged tail degrades
        if ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        elif ft != 0:
            # unknown filter type (spec defines 0-4 only): emit the row
            # unfiltered rather than failing the stream — one garbled row
            # beats a dropped document (failures-are-data)
            pass
        out += row
        prev = row
    return bytes(out)


def png_predict_up(data: bytes, columns: int) -> bytes:
    """Apply PNG Up filtering (type 2) — the synth/test twin for xref
    streams, which real writers emit with /Predictor 12 (= Up)."""
    rowlen = columns
    out = bytearray()
    prev = bytes(rowlen)
    for r0 in range(0, len(data), rowlen):
        row = data[r0 : r0 + rowlen]
        out.append(2)
        out += bytes((row[j] - prev[j]) & 0xFF for j in range(len(row)))
        prev = row
    return bytes(out)


def tiff_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """TIFF predictor 2 (horizontal differencing), 8-bit components only —
    other bit depths are vanishingly rare in text streams and degrade to
    the raw bytes."""
    if bpc != 8:
        return data
    rowlen = colors * columns
    if rowlen <= 0:
        raise ValueError("bad predictor columns")
    out = bytearray(data)
    for r0 in range(0, len(out) - rowlen + 1, rowlen):
        for j in range(r0 + colors, r0 + rowlen):
            out[j] = (out[j] + out[j - colors]) & 0xFF
    return bytes(out)


# --- filter-chain parsing from a stream dictionary --------------------------

_FILTER_RE = re.compile(rb"/Filter\s*(?:\[((?:[^\[\]])*)\]|/([A-Za-z0-9]+))")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_PARMS_KEY_RE = re.compile(rb"/(?:DecodeParms|DP)\b\s*")
_INT_ENTRY_RE = re.compile(rb"/(Predictor|Columns|Colors|BitsPerComponent|EarlyChange)\s+(\d+)")

# short abbreviation names (ISO 32000-1 Table 6 — inline-image forms, but
# tolerated in stream dicts by real parsers)
_ABBREV = {
    b"Fl": b"FlateDecode", b"LZW": b"LZWDecode", b"AHx": b"ASCIIHexDecode",
    b"A85": b"ASCII85Decode", b"RL": b"RunLengthDecode",
}


def filter_names(sdict: bytes) -> "list[bytes] | None":
    """The /Filter chain of a stream dict: [] for an unfiltered stream,
    canonical full names in application order, None when /Filter is present
    but unparseable (indirect ref)."""
    m = _FILTER_RE.search(sdict)
    if m is None:
        return []
    if m.group(2) is not None:
        names = [m.group(2)]
    else:
        names = _NAME_RE.findall(m.group(1))
        if not names:
            return None
    return [_ABBREV.get(n, n) for n in names]


def _balanced_span(data: bytes, start: int, open_: bytes, close: bytes) -> int:
    """End index (exclusive) of the balanced open_/close region at start."""
    depth = 0
    i = start
    n = len(data)
    step = len(open_)
    while i < n:
        if data[i : i + step] == open_:
            depth += 1
            i += step
        elif data[i : i + len(close)] == close:
            depth -= 1
            i += len(close)
            if depth == 0:
                return i
        else:
            i += 1
    return n


def decode_parms(sdict: bytes) -> "list[dict[bytes, int]]":
    """/DecodeParms (or /DP) → one {name: int} dict per filter position.
    A single dict applies to position 0; an array maps positionally with
    `null` → {}. Missing key → []. Only the integer entries the decoders
    consume are extracted."""
    m = _PARMS_KEY_RE.search(sdict)
    if m is None:
        return []
    i = m.end()
    if sdict[i : i + 2] == b"<<":
        end = _balanced_span(sdict, i, b"<<", b">>")
        return [dict_ints(sdict[i:end])]
    if sdict[i : i + 1] == b"[":
        end = _balanced_span(sdict, i, b"[", b"]")
        arr = sdict[i + 1 : end - 1]
        parms: list[dict[bytes, int]] = []
        j = 0
        while j < len(arr):
            if arr[j : j + 2] == b"<<":
                dend = _balanced_span(arr, j, b"<<", b">>")
                parms.append(dict_ints(arr[j:dend]))
                j = dend
            elif arr[j : j + 4] == b"null":
                parms.append({})
                j += 4
            else:
                j += 1
        return parms
    return []


def dict_ints(d: bytes) -> "dict[bytes, int]":
    """Integer predictor-related entries of one parms dict."""
    return {k: int(v) for k, v in _INT_ENTRY_RE.findall(d)}


def apply_filters(
    stream: bytes, names: "list[bytes]", parms: "list[dict[bytes, int]]"
) -> bytes | None:
    """Run the decode chain in order. None = unsupported filter (DCTDecode
    images, JPX, CCITT, Crypt — nothing text lives in); ValueError
    propagates for malformed data in a supported filter."""
    for pos, name in enumerate(names):
        pd = parms[pos] if pos < len(parms) else {}
        if name == b"FlateDecode":
            # inflate-bomb defense. Deflate's expansion is capped at
            # ~1032:1 by the format, so the hazard scales with INPUT
            # size: a ~300 MB crafted member legally inflates to ~300 GB
            # and kills the executor. An ABSOLUTE cap is the meaningful
            # bound — 256 MiB is orders of magnitude above any real
            # text-bearing content/xref stream; past it the stream
            # degrades to skipped and the task survives.
            max_out = 1 << 28
            d = zlib.decompressobj()
            try:
                out = d.decompress(stream, max_out)
            except zlib.error as e:
                raise ValueError(f"bad Flate stream: {e}") from None
            if d.unconsumed_tail:
                raise ValueError("Flate output exceeds plausible expansion")
            stream = out
        elif name == b"LZWDecode":
            stream = lzw_decode(stream, pd.get(b"EarlyChange", 1))
        elif name == b"ASCIIHexDecode":
            stream = ascii_hex_decode(stream)
        elif name == b"ASCII85Decode":
            stream = ascii85_decode(stream)
        elif name == b"RunLengthDecode":
            stream = run_length_decode(stream)
        else:
            return None
        pred = pd.get(b"Predictor", 1)
        if pred >= 2 and name in (b"FlateDecode", b"LZWDecode"):
            colors = pd.get(b"Colors", 1)
            bpc = pd.get(b"BitsPerComponent", 8)
            columns = pd.get(b"Columns", 1)
            if pred >= 10:
                stream = png_unpredict(stream, colors, bpc, columns)
            else:  # predictor 2 = TIFF horizontal differencing
                stream = tiff_unpredict(stream, colors, bpc, columns)
    return stream
