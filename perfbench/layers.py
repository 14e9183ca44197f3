"""Per-layer probes for the traced run, wrapped around the program's public
functions from outside; the program itself is not changed.

- kernel: the extraction kernel timed in-process on one thread over a fixed
  sample of the workload's own payloads, per branch and per phase;
- boundary: `extract_batches` against `extract_document` on the same batch;
- control: timing wrappers installed on `pipeline.ctl` for one call;
- corpus: the MinHash band table and its join against the prior state.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

from pdf_extractor_spark.kernel import pdf_crypt
from pdf_extractor_spark.kernel.extract import extract_document
from pdf_extractor_spark.kernel.html_extract import sniff_encoding
from pdf_extractor_spark.kernel.pdf_extract import (
    parse_glyph_runs,
    pdf_is_encrypted,
    reading_order_text,
)
from pdf_extractor_spark.kernel.spark_kernel import extract_batches
from pdf_extractor_spark.session import ARROW_MAX_RECORDS_PER_BATCH

HTML_KINDS = ("html", "empty", "near_dup")  # payloads routed to extract_html
PASSES = 3


def _us_per_doc(fn, items) -> float:
    """Median over PASSES of the mean µs per item of fn(item)."""
    if not items:
        return 0.0
    per_pass = []
    for _ in range(PASSES):
        t0 = time.perf_counter_ns()
        for item in items:
            fn(item)
        per_pass.append((time.perf_counter_ns() - t0) / 1e3 / len(items))
    return statistics.median(per_pass)


def _glyph_runs(raw: bytes):
    crypt = pdf_crypt.try_open(raw) if pdf_is_encrypted(raw) else None
    return parse_glyph_runs(raw, crypt)


def kernel_sample(payloads: list[bytes], kinds: list[str]) -> dict[str, float]:
    html = [p for p, k in zip(payloads, kinds) if k in HTML_KINDS]
    pdf = [p for p, k in zip(payloads, kinds) if k == "pdf"]
    runs = [_glyph_runs(p) for p in pdf]
    return {
        "kernel.html_us_per_doc": _us_per_doc(extract_document, html),
        "kernel.html.sniff_us_per_doc": _us_per_doc(sniff_encoding, html),
        "kernel.pdf_us_per_doc": _us_per_doc(extract_document, pdf),
        "kernel.pdf.glyph_runs_us_per_doc": _us_per_doc(_glyph_runs, pdf),
        "kernel.pdf.reading_order_us_per_doc": _us_per_doc(reading_order_text, runs),
    }


def boundary_sample(urls: list[str], payloads: list[bytes]) -> float:
    """µs per doc that extract_batches adds over calling extract_document on
    each row of the same Arrow-sized batches (pandas in and out)."""
    n = ARROW_MAX_RECORDS_PER_BATCH
    batches = [
        pd.DataFrame({"url": urls[i:i + n], "html": payloads[i:i + n]})
        for i in range(0, len(urls), n)
    ]
    diffs = []
    for _ in range(PASSES):
        t0 = time.perf_counter_ns()
        for b in batches:
            next(extract_batches(iter([b])))
        t1 = time.perf_counter_ns()
        for p in payloads:
            extract_document(p)
        t2 = time.perf_counter_ns()
        diffs.append(((t1 - t0) - (t2 - t1)) / 1e3 / len(payloads))
    return statistics.median(diffs)


class TimedControl:
    """Stands in for the `pipeline.ctl` module during one traced call.

    The resume check is `committed_partitions` (the control-dir read and the
    bucketing collect) plus the pipeline's collect of the DataFrame it
    returns; the commit is `append_commits_rows`. Spans are epoch ms, the
    event log's clock.
    """

    def __init__(self, real):
        self._real = real
        self.resume_spans: list[tuple[float, float]] = []
        self.commit_spans: list[tuple[float, float]] = []

    def __getattr__(self, name):
        return getattr(self._real, name)

    @staticmethod
    def _timed(spans, fn, *args, **kwargs):
        t0 = time.time() * 1000
        try:
            return fn(*args, **kwargs)
        finally:
            spans.append((t0, time.time() * 1000))

    def committed_partitions(self, *args, **kwargs):
        df = self._timed(self.resume_spans, self._real.committed_partitions, *args, **kwargs)
        collect = df.collect
        df.collect = lambda: self._timed(self.resume_spans, collect)
        return df

    def append_commits_rows(self, *args, **kwargs):
        return self._timed(self.commit_spans, self._real.append_commits_rows, *args, **kwargs)

    @property
    def resume_check_s(self) -> float:
        return sum(b - a for a, b in self.resume_spans) / 1000

    @property
    def commit_s(self) -> float:
        return sum(b - a for a, b in self.commit_spans) / 1000


def corpus_bands(spark, extracted_dir: str, prior_state: str) -> dict[str, float]:
    """Band table of the snapshot's quality-filtered, exact-deduplicated
    docs (timed to a noop sink), then its (band, band_key) join volume
    against the prior snapshot's persisted state."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf_extractor_spark.enrich import enrich_extracted
    from pdf_extractor_spark.operators.dedup import minhash_band_table

    docs = (
        enrich_extracted(spark.read.parquet(extracted_dir))
        .filter("quality_ok")
        .groupBy(F.md5("extracted_text").alias("h"))
        .agg(F.min_by(F.struct("url", "extracted_text"), F.col("url")).alias("w"))
        .select("w.*")
    )
    bands = minhash_band_table(docs, id_col="url", text_col="extracted_text").persist()
    try:
        obs = Observation("bands")
        t0 = time.perf_counter()
        bands.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        minhash_s = time.perf_counter() - t0
        new = bands.groupBy("band", "band_key").agg(F.count("*").alias("n_new"))
        old = spark.read.parquet(prior_state).groupBy("band", "band_key").agg(
            F.count("*").alias("n_old")
        )
        n_new, n_old = F.coalesce("n_new", F.lit(0)), F.coalesce("n_old", F.lit(0))
        row = new.join(old, ["band", "band_key"], "full").agg(
            F.sum(n_new * n_old).alias("pairs"), F.max(n_new + n_old).alias("bucket")
        ).first()
    finally:
        bands.unpersist()
    return {
        "corpus.minhash_s": minhash_s,
        "corpus.band_rows": int(obs.get["n"]),
        "corpus.band_pairs": int(row["pairs"] or 0),
        "corpus.max_band_bucket": int(row["bucket"] or 0),
    }
