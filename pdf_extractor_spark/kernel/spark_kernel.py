"""Arrow mapInPandas wrapper around the extraction kernel.

One `mapInPandas` pass runs the whole per-partition pipeline —
decode → tokenize → classify → serialize — with no intermediate shuffle
(SURVEY.md §4.2 "pipelining"). Batches arrive Arrow-sized
(spark.sql.execution.arrow.maxRecordsPerBatch, kept small because `html`
blobs are large); within a batch the kernel is called once per document,
and no row-at-a-time Spark Python UDF is involved (input_hint: "no per-row
Python" = no per-row serde; Arrow moves whole columns).

Output schema (FIXTURES.md §2), after any pass-through input columns:
  url string, extracted_text string,
  span_offsets array<struct<start int, end int, page int, bbox array<float>>>,
  parse_status string, truncated boolean, n_bytes long, font_unmapped int,
  error_class string, payload_head binary
The last two are set only for failing documents; pipeline.dead_letter_sample
filters them instead of running the kernel again.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pdf_extractor_spark.kernel.extract import extract_document

EXTRACTED_SCHEMA = (
    "url string, extracted_text string, "
    "span_offsets array<struct<start: int, end: int, page: int, bbox: array<float>>>, "
    "parse_status string, truncated boolean, n_bytes long, font_unmapped int, "
    "error_class string, payload_head binary"
)
PAYLOAD_HEAD_BYTES = 64  # of a failing payload: its magic and first tag, never a blob

# Columns the kernel needs — select these before mapInPandas so Catalyst
# prunes `text`/`lang`/`warc_ts` out of the parquet scan.
KERNEL_INPUT_COLS = ["url", "html"]
# Input columns the kernel consumes; every other input column passes through.
_CONSUMED_COLS = ("html", "charset")


def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (..., url, html[, charset]) batches → extracted rows.

    The optional `charset` column (WARC sources) is a transport-layer
    decode hint per document; absent or empty means sniff-only. Every other
    input column (`url`, and `partition_id` in the batch job) passes through
    unchanged, in input order, ahead of the extracted columns."""
    for pdf in batches:
        payloads = pdf["html"].tolist()
        hints = (
            pdf["charset"].tolist()
            if "charset" in pdf.columns
            else [None] * len(payloads)
        )
        texts: list[str] = []
        spans: list[list[tuple]] = []
        statuses: list[str] = []
        truncs: list[bool] = []
        n_bytes: list[int] = []
        unmapped: list[int] = []
        errors: list[str | None] = []
        heads: list[bytes | None] = []
        for raw, hint in zip(payloads, hints):
            b = bytes(raw) if raw is not None else None
            res = extract_document(b, hint or None)
            texts.append(res.extracted_text)
            # tuples serialize to Arrow struct fields positionally
            spans.append(
                [(s["start"], s["end"], s["page"], s["bbox"]) for s in res.span_offsets]
            )
            statuses.append(res.parse_status)
            truncs.append(res.truncated)
            n_bytes.append(len(b) if b is not None else 0)
            unmapped.append(res.font_unmapped)
            errors.append(res.error_class)
            heads.append(None if res.error_class is None else (b or b"")[:PAYLOAD_HEAD_BYTES])
        out = {c: pdf[c].to_numpy() for c in pdf.columns if c not in _CONSUMED_COLS}
        out.update(
            extracted_text=texts,
            span_offsets=spans,
            parse_status=statuses,
            truncated=truncs,
            n_bytes=n_bytes,
            font_unmapped=unmapped,
            error_class=errors,
            payload_head=heads,
        )
        yield pd.DataFrame(out)


def kernel_input(pages_df):
    """Project a pages DataFrame to the kernel's input columns: (url, html)
    plus the optional charset decode-hint column when the source carries
    one (WARC readers). Keeps the parquet scan pruned to exactly these."""
    cols = list(KERNEL_INPUT_COLS)
    if "charset" in pages_df.columns:
        cols.append("charset")
    return pages_df.select(*cols)


def run_kernel(pages_df):
    """Apply the extraction kernel to a pages DataFrame.

    Projects to (url, html[, charset]) first so the parquet scan reads only
    those columns (check: .explain shows ReadSchema with 2 fields).
    """
    return kernel_input(pages_df).mapInPandas(
        extract_batches, schema=EXTRACTED_SCHEMA
    )
