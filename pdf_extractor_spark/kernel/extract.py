"""Payload dispatch: one document in, (text, spans, status, error class) out.

This is the engine's core custom kernel (SURVEY.md §2.1 S5, §2.10 D1/D2) and
the pure-Python ORACLE for the byte-identity fidelity suite. The Spark
pipeline wraps exactly this function in mapInPandas (kernel/spark_kernel.py),
so oracle-vs-pipeline equality checks Spark plumbing, not two algorithms.

Dispatch is on content magic bytes, not file extension — the reference's
suffix matching (finetune_commands/excel2training.py:231-239) is unreliable
for crawl data where the URL rarely reflects the payload type.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pdf_extractor_spark.kernel.html_extract import extract_html
from pdf_extractor_spark.kernel.pdf_extract import (
    PDF_MAGIC,
    extract_pdf,
    pdf_is_encrypted,
)

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_FAILED = "failed"
# well-formed PDF whose streams/strings are RC4/AES ciphertext (/Encrypt in
# the trailer): structurally valid, unreadable without keys. Distinct from
# 'failed' in the output table so operators can tell crypt from corruption;
# counted WITH 'failed' in the parse_failures lineage metric.
STATUS_ENCRYPTED = "encrypted"
FAILURE_STATUSES = (STATUS_FAILED, STATUS_ENCRYPTED)

# Executor-memory guard (SURVEY §4.2 "spill-aware"): span arrays are
# bounded per document; a pathological page with more blocks keeps its FULL
# extracted_text but only the first MAX_SPANS_PER_DOC span records, with
# `truncated=True` so the cap is data, never silent.
MAX_SPANS_PER_DOC = 10_000


@dataclass
class ExtractResult:
    """Per-document extraction output (FIXTURES.md §2 `extracted` row).

    Mirrors the reference's ProcessingResult (core/models.py:67-71) with
    fields generalized to span offsets: span.page/bbox are None for HTML
    payloads, set for PDF payloads (optional page/bbox as in
    core/models.py:37-42).
    """

    extracted_text: str = ""
    span_offsets: list = field(default_factory=list)  # [{start,end,page,bbox}]
    parse_status: str = STATUS_OK
    truncated: bool = False  # span list hit MAX_SPANS_PER_DOC
    # PDF font codes that had NO unicode mapping (Identity-H CID fonts
    # without a ToUnicode stream, codes missing from a sparse CMap): each
    # surfaces as U+FFFD in extracted_text and is counted here so the
    # degradation is lineage, not silent mojibake (round-3 verdict #4).
    # Counted from the decoded text — the kernel's decoders are the only
    # U+FFFD producers in the PDF branch.
    font_unmapped: int = 0
    # WHY a failing document failed, the dead-letter triage taxonomy:
    # 'empty_payload' | 'binary_payload' | 'encrypted_pdf' | the exception
    # class name. None for ok/empty results.
    error_class: str | None = None


# well-known non-text magics seen in crawl payloads. Only unambiguous
# prefixes: short ASCII magics (BM, ID3, RIFF, OggS, fLaC) collide with
# ordinary text ("BMW announced…", "ID3 tags are…") — those containers are
# caught by the NUL-in-head check below instead.
_BINARY_MAGICS = (
    b"\x89PNG", b"\xff\xd8\xff", b"GIF87a", b"GIF89a", b"\x1f\x8b",
    b"PK\x03\x04", b"\x00\x00\x01\x00",
)
_UTF_BOMS = (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff")


def _is_non_text_binary(raw: bytes) -> bool:
    """Cheap content sniff: known binary magic, or NUL bytes in the head
    without a UTF BOM (utf-16 text legitimately contains NULs)."""
    head = raw[:16]
    if head.startswith(PDF_MAGIC):  # PDF streams legitimately contain NULs
        return False
    for magic in _BINARY_MAGICS:
        if head.startswith(magic):
            return True
    if raw[:3] in _UTF_BOMS or raw[:2] in _UTF_BOMS:
        return False  # utf-16 text legitimately contains NULs
    return b"\x00" in raw[:1024]


def extract_document(
    raw: bytes | None, charset_hint: str | None = None
) -> ExtractResult:
    """Extract main content from one raw payload. NEVER raises.

    `charset_hint` is the transport-layer charset (the WARC record's HTTP
    Content-Type parameter, when the source carries one) — honored by the
    HTML branch between BOM and meta-tag, per WHATWG precedence.

    Failures are data, not exceptions: a malformed payload yields
    parse_status='failed' (or 'encrypted') with its `error_class`, and is
    counted in partition lineage (control table `parse_failures`), never a
    task failure — the reference's per-doc try/except analog
    (core/extractor.py:340-347), classifying each document exactly once.
    """
    if raw is None or len(raw) == 0:
        return ExtractResult(parse_status=STATUS_FAILED, error_class="empty_payload")
    try:
        if _is_non_text_binary(raw):
            # images / archives / NUL-ridden payloads in the html column
            # (inevitable in crawl data) must be flagged, not decoded into
            # mojibake 'ok' rows that pollute the corpus
            return ExtractResult(
                parse_status=STATUS_FAILED, error_class="binary_payload"
            )
        font_unmapped = 0
        if raw.startswith(PDF_MAGIC):
            crypt = None
            if pdf_is_encrypted(raw):
                # standard-security RC4 with an EMPTY user password (the
                # owner-locked-but-readable crawl case PyMuPDF opens
                # silently) decrypts from scratch (kernel/pdf_crypt.py);
                # anything else — AES, crypt filters, a real user
                # password — is flagged, never parsed into mojibake
                from pdf_extractor_spark.kernel import pdf_crypt

                crypt = pdf_crypt.try_open(raw)
                if crypt is None:
                    return ExtractResult(
                        parse_status=STATUS_ENCRYPTED, error_class="encrypted_pdf"
                    )
            text, spans = extract_pdf(raw, crypt)
            truncated = len(spans) > MAX_SPANS_PER_DOC
            if truncated:
                spans = spans[:MAX_SPANS_PER_DOC]
            font_unmapped = text.count("�")
        else:
            text, pairs = extract_html(raw, charset_hint)
            # cap BEFORE building the per-span dicts so the dict list (the
            # dominant span memory) never exceeds the bound; the upstream
            # (start,end) tuples are ~5× smaller per entry
            truncated = len(pairs) > MAX_SPANS_PER_DOC
            spans = [
                {"start": s, "end": e, "page": None, "bbox": None}
                for s, e in (pairs[:MAX_SPANS_PER_DOC] if truncated else pairs)
            ]
        if not text:
            return ExtractResult(parse_status=STATUS_EMPTY)
        return ExtractResult(
            extracted_text=text,
            span_offsets=spans,
            parse_status=STATUS_OK,
            truncated=truncated,
            font_unmapped=font_unmapped,
        )
    except Exception as e:
        return ExtractResult(parse_status=STATUS_FAILED, error_class=type(e).__name__)
