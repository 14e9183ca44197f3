"""Property tests: the kernel NEVER raises and is deterministic on any bytes.

The failure policy (kernel/extract.py — failures are data, never task
failures) only holds if extract_document is total over arbitrary payloads:
a single uncaught exception inside mapInPandas kills a task, and at 10^12
documents every possible byte sequence WILL occur.
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from pdf_extractor_spark.kernel import extract_document
from pdf_extractor_spark.kernel.extract import (
    FAILURE_STATUSES,
    STATUS_EMPTY,
    STATUS_ENCRYPTED,
    STATUS_FAILED,
    STATUS_OK,
)
from pdf_extractor_spark.kernel.html_extract import extract_html
from pdf_extractor_spark.kernel.pdf_extract import extract_pdf

# '%PDF-' + any bytes containing 'trailer/Encrypt' is flagged encrypted
STATUSES = {STATUS_OK, STATUS_EMPTY, STATUS_FAILED, STATUS_ENCRYPTED}


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=4096))
def test_total_on_arbitrary_bytes(payload):
    r1 = extract_document(payload)
    r2 = extract_document(payload)
    assert r1.parse_status in STATUSES
    assert r1.extracted_text == r2.extracted_text  # deterministic
    assert r1.parse_status == r2.parse_status
    # every failure, and only a failure, names its class
    assert (r1.error_class is None) == (r1.parse_status not in FAILURE_STATUSES)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
@example(b"trailer/Encrypt")
def test_total_on_pdf_prefixed_bytes(payload):
    r = extract_document(b"%PDF-" + payload)
    assert r.parse_status in STATUSES
    assert (r.error_class is None) == (r.parse_status not in FAILURE_STATUSES)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2048))
def test_total_on_object_structured_pdf_bytes(payload):
    """Arbitrary bytes inside an object/page-tree skeleton never raise."""
    r = extract_document(
        b"%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] >> endobj\n"
        b"3 0 obj << /Type /Page /Contents 4 0 R >> endobj\n" + payload
    )
    assert r.parse_status in STATUSES


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=1024), st.binary(max_size=1024))
def test_total_on_fuzzed_font_objects(font_body, cmap_body):
    """Arbitrary bytes in font dicts / ToUnicode streams never raise, and
    whatever text comes out is UTF-8 encodable (lone surrogates from a
    crafted code map would kill the Arrow task, not just the document)."""
    pdf = (
        b"%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R "
        b"/Resources << /Font << /F2 5 0 R >> >> /Contents 4 0 R >> endobj\n"
        b"5 0 obj << /Type /Font /ToUnicode 6 0 R /Encoding << /Differences [ "
        + font_body
        + b" ] >> >> endobj\n"
        b"6 0 obj stream\nbeginbfchar " + cmap_body + b" endbfchar\n"
        b"1 beginbfrange\n<00> <ff> <D7F0>\nendbfrange\nendstream endobj\n"
        b"4 0 obj stream\nBT /F2 12 Tf 72 700 Td "
        b"(\x00\x40\x80\xc0\xff fuzz payload) Tj <00418080ffff> Tj ET\n"
        b"endstream endobj\n%%EOF\n"
    )
    r = extract_document(pdf)
    assert r.parse_status in STATUSES
    r.extracted_text.encode("utf-8")  # must never raise


def test_deep_kids_chain_does_not_blow_stack():
    """A 50k-deep /Pages chain walks iteratively (no RecursionError path)."""
    depth = 50_000
    parts = [b"%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"]
    for i in range(2, depth):
        parts.append(
            b"%d 0 obj << /Type /Pages /Kids [%d 0 R] >> endobj\n" % (i, i + 1)
        )
    parts.append(
        b"%d 0 obj << /Type /Page /Contents %d 0 R >> endobj\n" % (depth, depth + 1)
    )
    parts.append(
        b"%d 0 obj stream\nBT /F1 12 Tf 72 700 Td (deep page) Tj ET\nendstream endobj\n"
        % (depth + 1)
    )
    text, _ = extract_pdf(b"".join(parts) + b"%%EOF\n")
    assert text == "deep page"


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2048))
def test_total_on_html_ish_text(text):
    payload = ("<html><body>" + text).encode("utf-8", "replace")
    r = extract_document(payload)
    assert r.parse_status in STATUSES
    # span offsets always index into extracted_text
    for s in r.span_offsets:
        assert 0 <= s["start"] <= s["end"] <= len(r.extracted_text)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<nav>",
             "</nav>", "<script>", "</script>", "<!--", "-->", "text chunk ",
             "&amp;", "&bogus;", "<", ">", "<br/>", "<h1>", "</h1>", "\xa0",
             "<meta charset=latin-1>", "caf\xe9 "]
        ),
        max_size=60,
    )
)
def test_total_on_adversarial_tag_soup(parts):
    payload = "".join(parts).encode("latin-1", "replace")
    text, spans = extract_html(payload)
    assert isinstance(text, str)
    off = 0
    for a, b in spans:
        assert a == off and b >= a
        off = b + 1  # blocks joined by single '\n'


def test_truncated_flate_stream_is_skipped_not_fatal():
    import zlib

    good = b"stream\nBT /F1 12 Tf 1 0 0 1 72.0 700.0 Tm (hello world) Tj ET\nendstream\n"
    z = zlib.compress(b"BT /F1 12 Tf 1 0 0 1 72.0 680.0 Tm (gone) Tj ET")[:10]
    bad = b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\n" % (len(z), z)
    payload = b"%PDF-1.4\n" + good + bad + b"%%EOF\n"
    text, spans = extract_pdf(payload)
    assert text == "hello world"  # corrupt page dropped, good page kept


def test_bom_encodings_decode():
    body = "<html><body><p>Straße café content paragraph with enough chars here.</p></body></html>"
    for enc, bom in (("utf-8", b"\xef\xbb\xbf"), ("utf-16-le", b"\xff\xfe"), ("utf-16-be", b"\xfe\xff")):
        payload = bom + body.encode(enc)
        r = extract_document(payload)
        assert r.parse_status == STATUS_OK, enc
        assert "Straße café" in r.extracted_text, enc
        assert "﻿" not in r.extracted_text, enc  # BOM never leaks into text


def test_span_cap_truncates_metadata_not_text(monkeypatch):
    from pdf_extractor_spark.kernel import extract as ex

    html = "<html><body>" + "".join(
        f"<p>paragraph number {i} with sufficient characters to be kept.</p>"
        for i in range(40)
    ) + "</body></html>"
    full = extract_document(html.encode())
    assert len(full.span_offsets) == 40 and not full.truncated

    monkeypatch.setattr(ex, "MAX_SPANS_PER_DOC", 10)
    capped = ex.extract_document(html.encode())
    assert capped.truncated
    assert len(capped.span_offsets) == 10
    assert capped.extracted_text == full.extracted_text  # text NEVER truncated


def test_indirect_length_ref_not_used_for_slicing():
    """'/Length 7 0 R' is an indirect object ref — its first number must not
    slice the stream body."""
    import zlib

    body = b"BT /F1 12 Tf 1 0 0 1 72.0 700.0 Tm (hello world) Tj ET"
    z = zlib.compress(body)
    payload = (
        b"%PDF-1.4\n<< /Filter /FlateDecode /Length 7 0 R >>\nstream\n"
        + z + b"\nendstream\n%%EOF\n"
    )
    text, _ = extract_pdf(payload)
    assert text == "hello world"


def test_unicode_whitespace_not_counted_as_content():
    """A block of en-spaces around 2 chars must stay below MIN_BLOCK_CHARS."""
    payload = ("<html><body><p>hi" + " " * 30 + "</p>"
               "<p>real paragraph with plenty of visible characters here.</p>"
               "</body></html>").encode()
    text, _ = extract_html(payload)
    assert "hi" not in text.split("\n")[0] or len(text.split("\n")) == 1
    assert text == "real paragraph with plenty of visible characters here."


def test_binary_payloads_flagged_failed_not_ok():
    for payload in (
        b"\x89PNG\r\n\x1a\n" + bytes(range(256)),
        b"\xff\xd8\xff\xe0JFIF" + bytes(64),
        b"\x1f\x8b\x08\x00" + bytes(64),
        b"PK\x03\x04" + bytes(64),
        b"plain text with an embedded \x00 NUL byte " * 10,
    ):
        assert extract_document(payload).parse_status == STATUS_FAILED, payload[:8]
    # PDFs with NUL-bearing compressed streams must still parse
    import zlib
    z = zlib.compress(b"BT /F1 12 Tf 1 0 0 1 72.0 700.0 Tm (ok text) Tj ET")
    pdf = (b"%PDF-1.4\n<< /Filter /FlateDecode /Length " + str(len(z)).encode()
           + b" >>\nstream\n" + z + b"\nendstream\n%%EOF\n")
    assert extract_document(pdf).parse_status == STATUS_OK


def test_multidigit_indirect_length_ref():
    """'/Length 70 0 R': backtracking must not shrink the capture to '7'."""
    import zlib

    body = b"BT /F1 12 Tf 1 0 0 1 72.0 700.0 Tm (hello world) Tj ET"
    z = zlib.compress(body)
    payload = (b"%PDF-1.4\n<< /Filter /FlateDecode /Length 70 0 R >>\nstream\n"
               + z + b"\nendstream\n%%EOF\n")
    text, _ = extract_pdf(payload)
    assert text == "hello world"


def test_short_ascii_magics_are_not_binary():
    for text in (b"BMW announced a new electric vehicle today in a press release.",
                 b"ID3 tags are metadata containers used in audio files and more.",
                 b"RIFF on this idea: plain text that starts with a container name.",
                 b"GIF8 is not a full magic; GIF87a/GIF89a are the real ones okay."):
        payload = b"<html><body><p>" + text + b"</p></body></html>"
        r = extract_document(payload)
        assert r.parse_status == STATUS_OK, payload[:12]


@settings(max_examples=100, deadline=None)
@given(
    st.sampled_from(["nav", "footer", "header", "aside", "form"]),
    st.integers(0, 3),
)
def test_chrome_text_never_leaks(chrome_tag, n_links):
    """Well-formed chrome subtrees NEVER contribute to extracted_text."""
    marker = "ZZCHROMEMARKERZZ boilerplate navigation words everywhere here"
    links = "".join(f"<a href='/{i}'>link {i}</a>" for i in range(n_links))
    payload = (
        f"<html><body><{chrome_tag}><p>{marker}</p>{links}</{chrome_tag}>"
        f"<p>Genuine article content paragraph with plenty of characters.</p>"
        f"</body></html>"
    ).encode()
    text, _ = extract_html(payload)
    assert "ZZCHROMEMARKERZZ" not in text
    assert "Genuine article content" in text


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=2048))
def test_strip_inline_images_total_and_never_grows(data):
    """The inline-image stripper is total over arbitrary bytes and can only
    shrink its input (each stripped BI..EI segment is ≥8 bytes and becomes
    one space; a BI without ID keeps its span verbatim; a missing EI
    truncates). Growth would mean the scanner double-emitted a span."""
    from pdf_extractor_spark.kernel.pdf_extract import _strip_inline_images

    out = _strip_inline_images(data)
    assert isinstance(out, bytes)
    assert len(out) <= len(data)
    # a second pass finds nothing new to do on image-free output
    if b"BI" not in out:
        assert _strip_inline_images(out) == out


def test_mutation_fuzz_corpus_docs_bounded_time():
    """Byte-flip mutation fuzz over REAL corpus docs of every structural
    flavor (classic tree, ObjStm/xref-stream, forms, rotation, filters,
    encryption, HTML): random bytes almost never form semi-valid
    structures, so mutating VALID documents is what actually reaches the
    deep parser paths — this exact technique caught a 500-second regex
    backtracking hang in the TJ-array scan (fixed with possessive
    quantifiers). Every mutation must parse deterministically, without
    raising, in bounded time."""
    import time

    from pdf_extractor_spark.synth import synth_row

    # pick a structurally diverse sample: first N PDFs + some HTML
    pdfs, htmls = [], []
    i = 0
    while (len(pdfs) < 14 or len(htmls) < 4) and i < 4000:
        r = synth_row(42, i)
        i += 1
        if r["_kind"] == "pdf" and len(pdfs) < 14:
            pdfs.append(r["html"])
        elif r["_kind"] == "html" and len(htmls) < 4:
            htmls.append(r["html"])
    assert len(pdfs) == 14 and len(htmls) == 4
    mutations = 0
    for doc in pdfs + htmls:
        stride = max(1, len(doc) // 12)  # ~12 flips per doc, spread out
        for off in range(7, len(doc), stride):
            mutated = (
                bytes(doc[:off]) + bytes([doc[off] ^ 0x5A]) + bytes(doc[off + 1 :])
            )
            t0 = time.perf_counter()
            got = extract_document(mutated)
            dt = time.perf_counter() - t0
            assert dt < 5.0, (off, len(doc), dt)
            assert got.parse_status in STATUSES
            mutations += 1
    assert mutations > 150
