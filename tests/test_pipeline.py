"""Spark pipeline tests: byte-identity vs oracle, resume, skew spread.

The fidelity gate required by BASELINE.json `north_rule`: every url's
`extracted_text` from the Spark pipeline must be byte-identical to the
pure-Python oracle's output.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.kernel import extract_document
from pdf_extractor_spark.kernel.spark_kernel import run_kernel
from pdf_extractor_spark.pipeline import run_extraction, with_partition_id
from pdf_extractor_spark.synth import pages_df, synth_row

SEED = 42
N_DOCS = 1200


@pytest.fixture(scope="module")
def out_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("pipeline")
    return str(base / "out"), str(base / "control")


def test_fidelity_byte_identity(spark):
    """Pipeline output == oracle output, byte for byte, for every url; a
    failing document also carries the oracle's error class and its
    payload's first 64 bytes (null for ok and empty documents)."""
    from pdf_extractor_spark.synth import PAGES_SCHEMA_DDL

    crafted = {
        "https://x/logo.png": b"\x89PNG\r\n\x1a\n000",
        "https://x/blob": b"bytes with \x00 NULs " * 60,
    }
    pages = pages_df(spark, N_DOCS, seed=SEED, num_partitions=4).unionByName(
        spark.createDataFrame(
            [(u, None, bytearray(b), "", "") for u, b in crafted.items()], PAGES_SCHEMA_DDL
        )
    )
    got = {
        r.url: (r.extracted_text, r.parse_status, r.error_class, r.payload_head)
        for r in run_kernel(pages).collect()
    }
    assert len(got) == N_DOCS + len(crafted)
    payloads = {(sr := synth_row(SEED, i))["url"]: sr["html"] for i in range(N_DOCS)}
    payloads.update(crafted)
    classes = set()
    for url, payload in payloads.items():
        res = extract_document(payload)
        text, status, error_class, head = got[url]
        assert status == res.parse_status, url
        assert text == res.extracted_text, url
        assert error_class == res.error_class, url
        assert head == (None if res.error_class is None else payload[:64]), url
        classes.add(error_class)
    assert classes == {None, "empty_payload", "binary_payload"}


def test_end_to_end_with_control(spark, out_dirs):
    out_dir, control_dir = out_dirs
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(control_dir, ignore_errors=True)

    pages = pages_df(spark, N_DOCS, seed=SEED, num_partitions=4)
    # verify_readback: the kernel-side lineage counters must agree exactly
    # with what was actually written (the audit path raises on mismatch)
    stats = run_extraction(
        spark, pages, out_dir, control_dir, n_buckets=16, verify_readback=True
    )
    assert stats.partitions_committed == 16
    assert stats.docs_processed == N_DOCS
    assert stats.parse_failures > 0  # fixture includes broken payloads
    assert stats.bytes_parsed > 0

    out = spark.read.parquet(out_dir)
    assert out.count() == N_DOCS
    # every url exactly once (idempotent write)
    assert out.select("url").distinct().count() == N_DOCS


def test_resume_zero_recompute(spark, out_dirs):
    """Second run over the same input commits nothing and recomputes nothing."""
    out_dir, control_dir = out_dirs
    pages = pages_df(spark, N_DOCS, seed=SEED, num_partitions=4)
    stats2 = run_extraction(spark, pages, out_dir, control_dir, n_buckets=16)
    assert stats2.partitions_committed == 0
    assert stats2.docs_processed == 0
    assert spark.read.parquet(out_dir).count() == N_DOCS
    # control still has exactly one committed row per partition
    ctl = spark.read.parquet(control_dir)
    assert ctl.count() == 16
    assert ctl.select("partition_id").distinct().count() == 16


def test_partial_commit_resume(spark, tmp_path):
    """Kill-after-k-partitions simulation: pre-commit half the partitions,
    rerun, assert only the other half is processed."""
    out_dir = str(tmp_path / "out")
    control_dir = str(tmp_path / "control")
    n_buckets = 8

    pages = pages_df(spark, 400, seed=SEED, num_partitions=2)

    # first: full run to produce a valid control table
    run_extraction(spark, pages, out_dir, control_dir, n_buckets=n_buckets)

    # simulate crash: drop control rows for partitions >= 4 (they become
    # uncommitted), leave output files in place
    from pdf_extractor_spark.control import CONTROL_SCHEMA

    kept = spark.read.parquet(control_dir).filter(F.col("partition_id") < 4).collect()
    shutil.rmtree(control_dir)
    spark.createDataFrame(kept, CONTROL_SCHEMA).write.parquet(control_dir)

    stats = run_extraction(spark, pages, out_dir, control_dir, n_buckets=n_buckets)
    assert stats.partitions_committed == 4  # only the uncommitted half
    docs_per_pid = {
        r.partition_id: r.cnt
        for r in with_partition_id(pages, n_buckets)
        .groupBy("partition_id").agg(F.count("*").alias("cnt")).collect()
    }
    expected = sum(v for k, v in docs_per_pid.items() if k >= 4)
    assert stats.docs_processed == expected
    # final output complete and unique
    out = spark.read.parquet(out_dir)
    assert out.count() == 400
    assert out.select("url").distinct().count() == 400


def test_training_examples_sink(spark, out_dirs, tmp_path, monkeypatch):
    """S9/X11/A9: JSONL sink emits one parseable chat-format object per kept
    doc, round-trips the extracted text byte-exactly, and the min-examples
    gate fails fast without writing. `file://` dirs swap and clean up
    through the Hadoop FS: the sink lands under the real dir (a rerun
    replaces it), and the gate leaves neither the dir nor its staging."""
    import json

    from pdf_extractor_spark.pipeline import TooFewExamplesError, write_training_examples

    out_dir, _ = out_dirs  # written by test_end_to_end_with_control
    train_dir = str(tmp_path / "training")
    n = write_training_examples(spark, out_dir, train_dir, min_examples=10)

    ok_rows = {
        r.url: r.extracted_text
        for r in spark.read.parquet(out_dir)
        .filter((F.col("parse_status") == "ok") & (F.length("extracted_text") > 0))
        .collect()
    }
    lines = [r.value for r in spark.read.text(train_dir).collect()]
    assert n == len(lines) == len(ok_rows)
    ex = json.loads(lines[0])
    assert [m["role"] for m in ex["messages"]] == ["user", "assistant"]
    url = json.loads(ex["messages"][1]["content"])["url"]
    # user content carries the whitespace-collapsed extracted text verbatim
    collapsed = " ".join(ok_rows[url].split())
    assert ex["messages"][0]["content"] == "Extract the fields from:\n" + collapsed

    # A9 gate: demanding more examples than exist fails WITHOUT writing
    gate_dir = str(tmp_path / "training_gate")
    with pytest.raises(TooFewExamplesError):
        write_training_examples(spark, out_dir, gate_dir, min_examples=len(ok_rows) + 1)
    import os

    assert not os.path.exists(gate_dir)
    assert not os.path.exists(gate_dir + "._staging")  # staging cleaned up
    assert not os.path.exists(train_dir + "._staging")

    monkeypatch.chdir(tmp_path)
    uri_dir = tmp_path / "training_uri"
    for _ in range(2):
        assert write_training_examples(spark, out_dir, "file://" + str(uri_dir)) == n
        assert spark.read.text(str(uri_dir)).count() == n
    uri_gate = tmp_path / "training_uri_gate"
    with pytest.raises(TooFewExamplesError):
        write_training_examples(spark, out_dir, "file://" + str(uri_gate), min_examples=n + 1)
    assert sorted(p.name for p in tmp_path.iterdir() if "_uri" in p.name) == ["training_uri"]
    assert not (tmp_path / "file:").exists()


def test_metrics_param_replace_semantics():
    """Speculative twin / retried task of the same physical partition must
    REPLACE its previous contribution, never double-count."""
    from pdf_extractor_spark.pipeline import _PerTaskMetricsParam

    p = _PerTaskMetricsParam()
    a = p.zero(None)
    a = p.addInPlace(a, {0: {3: (10, 100, 1)}})
    a = p.addInPlace(a, {1: {3: (5, 50, 0), 4: (2, 20, 0)}})
    a = p.addInPlace(a, {0: {3: (10, 100, 1)}})  # speculative duplicate
    merged: dict = {}
    for sub in a.values():
        for pid, (d, b, f) in sub.items():
            cur = merged.get(pid, (0, 0, 0))
            merged[pid] = (cur[0] + d, cur[1] + b, cur[2] + f)
    assert merged == {3: (15, 150, 1), 4: (2, 20, 0)}


def test_lineage_exactly_once_under_task_retry(spark, tmp_path):
    """A kernel task failing AFTER batches already flowed through the
    kernel must not inflate control-table lineage: counts commit once per
    completed attempt (round-2 verdict #3). Requires conftest's
    local[4,2] so the failed task retries instead of killing the job."""
    from pdf_extractor_spark.pipeline import run_extraction
    from pdf_extractor_spark.synth import PAGES_SCHEMA_DDL

    pages = pages_df(spark, 200, seed=SEED, num_partitions=4)

    def flaky(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.partitionId() == 1 and tc.attemptNumber() == 0:
            it = iter(batches)
            first = next(it, None)
            if first is not None:
                yield first  # downstream kernel counts these rows, then dies
            raise RuntimeError("injected attempt-0 failure")
        yield from batches

    flaky_pages = pages.mapInPandas(flaky, schema=PAGES_SCHEMA_DDL)
    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    stats = run_extraction(spark, flaky_pages, out, ctl, n_buckets=8)
    assert stats.docs_processed == 200  # the old per-batch adds overcounted
    ctl_sum = spark.read.parquet(ctl).agg(F.sum("docs_processed")).collect()[0][0]
    assert ctl_sum == 200
    out_df = spark.read.parquet(out)
    assert out_df.count() == 200
    assert out_df.select("url").distinct().count() == 200


def test_build_training_corpus(spark, tmp_path):
    """Corpus builder: quality filter + exact dedup with a DETERMINISTIC
    winner (min url per text hash); funnel stats come from the same single
    action."""
    from pdf_extractor_spark.pipeline import build_training_corpus

    good = "This paragraph has plenty of ordinary prose tokens for the gate."
    rows = [
        ("https://a/1", good, "ok"),
        ("https://a/2", good, "ok"),          # exact dup, higher url
        ("https://a/0", good, "ok"),          # exact dup, LOWEST url → winner
        ("https://b/1", "unique second document with enough plain tokens here.", "ok"),
        ("https://c/1", "!!! ??? ... ;;; :::", "ok"),   # junk → quality fail
        ("https://d/1", "", "failed"),                  # failed → quality fail
    ]
    src = str(tmp_path / "extracted")
    spark.createDataFrame(
        rows, "url string, extracted_text string, parse_status string"
    ).write.parquet(src)

    out = str(tmp_path / "corpus")
    cs = build_training_corpus(spark, src, out)
    assert (cs.docs_in, cs.docs_quality, cs.docs_corpus) == (6, 4, 2)

    got = spark.read.parquet(out).collect()
    assert len(got) == 2
    by_text = {r.extracted_text: r for r in got}
    assert by_text[good].url == "https://a/0"  # deterministic min-url winner
    assert all(r.quality_ok for r in got)
    # rerun is byte-stable (same winners)
    out2 = str(tmp_path / "corpus2")
    build_training_corpus(spark, src, out2)
    assert sorted((r.url, r.text_hash) for r in spark.read.parquet(out2).collect()) == sorted(
        (r.url, r.text_hash) for r in got
    )


def test_dead_letter_sample(spark, tmp_path):
    """The dead-letter sample over the written output holds every failing
    document (cap permitting) with its error class and payload head, never
    an ok one; the cap keeps the lowest urls of each bucket; and a bucket
    written before the class columns existed still lets the others sample."""
    from pdf_extractor_spark.pipeline import OUTPUT_SCHEMA, dead_letter_sample

    pages = pages_df(spark, 300, seed=SEED, num_partitions=2)
    out = str(tmp_path / "out")
    run_extraction(spark, pages, out, str(tmp_path / "ctl"), n_buckets=4)
    rows = dead_letter_sample(spark.read.parquet(out), max_per_bucket=50).collect()
    failed = {
        r["url"] for i in range(300) if (r := synth_row(SEED, i))["_kind"] == "failed"
    }
    assert {r.url for r in rows} == failed and len(rows) == len(failed)
    assert all(r.error_class == "empty_payload" and r.payload_head == b"" for r in rows)

    # cap bounds the sample per bucket: at most n_buckets rows, the lowest
    # failing url of each bucket
    bucket_of = {
        r.url: r.partition_id
        for r in with_partition_id(pages, 4).filter(F.col("url").isin(sorted(failed))).collect()
    }
    capped = dead_letter_sample(spark.read.parquet(out), max_per_bucket=1).collect()
    assert len(capped) <= 4
    assert {r.url for r in capped} == {
        min(u for u in failed if bucket_of[u] == b) for b in set(bucket_of.values())
    }

    # one bucket rewritten as an older kernel wrote it, without error_class
    # and payload_head: read with OUTPUT_SCHEMA it samples as null
    old = sorted(set(bucket_of.values()))[0]
    old_dir = f"{out}/partition_id={old}"
    spark.read.parquet(old_dir).drop("error_class", "payload_head").write.parquet(
        str(tmp_path / "old_bucket")
    )
    shutil.rmtree(old_dir)
    shutil.move(str(tmp_path / "old_bucket"), old_dir)
    mixed = dead_letter_sample(spark.read.schema(OUTPUT_SCHEMA).parquet(out), 50).collect()
    assert {r.url for r in mixed} == {u for u in failed if bucket_of[u] != old}
    assert mixed

    # taxonomy
    assert extract_document(b"\x89PNG\r\n\x1a\n").error_class == "binary_payload"
    assert extract_document(b"PK\x03\x04zipzip").error_class == "binary_payload"
    assert extract_document(None).error_class == "empty_payload"
    assert extract_document(b"").error_class == "empty_payload"
    assert extract_document(b"<p>perfectly fine text content</p>").error_class is None


def test_font_unmapped_metric_reaches_control_table(spark, tmp_path):
    """An Identity-H PDF with no ToUnicode stream extracts with U+FFFD
    placeholders, and the unmapped-code count surfaces as font_unmapped
    lineage in the control table — degradation as data, not silent
    mojibake (round-3 verdict #4)."""
    import datetime as dt

    degenerate_pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Resources "
        b"<< /Font << /F1 4 0 R >> >> /Contents 5 0 R >> endobj\n"
        b"4 0 obj << /Type /Font /Subtype /Type0 /BaseFont /NoToUni "
        b"/Encoding /Identity-H >> endobj\n"
        b"5 0 obj stream\nBT /F1 12 Tf 72 700 Td <00480065006c> Tj ET\n"
        b"endstream endobj\n%%EOF\n"
    )
    ts = dt.datetime(2024, 3, 4, 5, 6, 7)
    rows = [
        ("https://cid.example/doc.pdf", ts, degenerate_pdf, "", "en"),
        ("https://ok.example/a.html", ts,
         b"<html><body><p>plain healthy body text for the control row.</p></body></html>",
         "", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    stats = run_extraction(spark, pages, out, ctl, n_buckets=4)
    assert stats.font_unmapped == 3  # three 2-byte CIDs, no unicode source
    ctl_sum = spark.read.parquet(ctl).agg(F.sum("font_unmapped")).collect()[0][0]
    assert ctl_sum == 3
    got = {r.url: r for r in spark.read.parquet(out).collect()}
    assert got["https://cid.example/doc.pdf"].font_unmapped == 3
    assert got["https://ok.example/a.html"].font_unmapped == 0


def test_resume_rejects_mismatched_bucketing(spark, tmp_path):
    """A control dir committed under n_buckets=16 must not silently resume
    a run with n_buckets=8 — the partition ids mean different things."""
    from pdf_extractor_spark.control import BucketingMismatchError

    out_dir = str(tmp_path / "out")
    control_dir = str(tmp_path / "control")
    pages = pages_df(spark, 100, seed=SEED, num_partitions=2)
    run_extraction(spark, pages, out_dir, control_dir, n_buckets=16)
    with pytest.raises(BucketingMismatchError):
        run_extraction(spark, pages, out_dir, control_dir, n_buckets=8)
    # same bucketing still resumes cleanly
    stats = run_extraction(spark, pages, out_dir, control_dir, n_buckets=16)
    assert stats.partitions_committed == 0


def test_default_buckets_follow_shuffle_partitions(spark, tmp_path):
    """Without n_buckets a fresh run buckets by the shuffle partitions
    (the suite's 8) and stamps that count; a resume adopts the stamp
    whatever its own shuffle parallelism, and an explicit other count is
    refused. A pre-stamp (null) row cannot say its modulus, so it needs an
    explicit n_buckets."""
    import glob
    import os

    from pdf_extractor_spark.control import BucketingMismatchError, append_commits_rows
    from pdf_extractor_spark.pipeline import _MetricsRow

    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    pages = pages_df(spark, 300, seed=SEED, num_partitions=2)
    stats = run_extraction(spark, pages, out, ctl)
    dirs = glob.glob(os.path.join(out, "partition_id=*"))
    assert len(dirs) == stats.partitions_committed == 8
    assert all(glob.glob(os.path.join(d, "*.parquet")) for d in dirs)
    stamps = spark.read.parquet(ctl).groupBy("n_buckets").count().collect()
    assert [(r.n_buckets, r["count"]) for r in stamps] == [(8, 8)]

    stats = run_extraction(spark, pages, out, ctl, shuffle_partitions=16)
    assert stats.docs_processed == 0
    with pytest.raises(BucketingMismatchError, match="n_buckets=8"):
        run_extraction(spark, pages, out, ctl, n_buckets=16)

    pre_stamp = str(tmp_path / "ctl-pre-stamp")
    append_commits_rows([_MetricsRow(0, 1, 10, 0, 0)], pre_stamp, n_buckets=None)
    with pytest.raises(BucketingMismatchError, match="cannot be inferred"):
        run_extraction(spark, pages, str(tmp_path / "out2"), pre_stamp)
    assert not (tmp_path / "out2").exists()
    stats = run_extraction(spark, pages, str(tmp_path / "out2"), pre_stamp, n_buckets=8)
    assert stats.partitions_committed == 7


def test_default_buckets_refuse_unstamped_output(spark, tmp_path):
    """Output left without its control rows (a crash between write and
    commit, or a reused out_dir) cannot take the shuffle default: under a
    smaller count the dirs it does not reach would survive next to the
    rewritten ones. The rerun refuses, as does one given a smaller count,
    and with the count it was written under it overwrites the output in
    place."""
    import shutil

    from pdf_extractor_spark.control import BucketingMismatchError

    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    pages = pages_df(spark, 300, seed=SEED, num_partitions=2)
    run_extraction(spark, pages, out, ctl, shuffle_partitions=16)
    shutil.rmtree(ctl)

    def written():
        df = spark.read.parquet(out)
        return df.count(), df.select("url").distinct().count()

    with pytest.raises(BucketingMismatchError, match="--n-buckets"):
        run_extraction(spark, pages, out, ctl, shuffle_partitions=8)
    assert written() == (300, 300)
    # an explicit smaller count would leave partition_id=8..15 beside it too
    with pytest.raises(BucketingMismatchError, match="--n-buckets"):
        run_extraction(spark, pages, out, ctl, n_buckets=8)
    assert written() == (300, 300)
    stats = run_extraction(spark, pages, out, ctl, n_buckets=16, shuffle_partitions=8)
    assert stats.docs_processed == 300
    assert written() == (300, 300)


def test_file_uri_control_dir_commits(spark, tmp_path, monkeypatch):
    """A `file://` control dir resolves through the Hadoop FS: the commit
    lands at the real path (the rerun resumes it), not under a `file:`
    directory beside the working directory."""
    monkeypatch.chdir(tmp_path)
    out, ctl = str(tmp_path / "out"), "file://" + str(tmp_path / "ctl")
    pages = pages_df(spark, 40, seed=SEED, num_partitions=1)
    assert run_extraction(spark, pages, out, ctl, n_buckets=4).docs_processed == 40
    assert run_extraction(spark, pages, out, ctl, n_buckets=4).docs_processed == 0
    assert not (tmp_path / "file:").exists()


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_committed_ids_one_read(spark, tmp_path):
    """The resume set is read in one job, whatever wrote the control rows:
    Spark (as in test_partial_commit_resume), the Hadoop FS commit path, and
    a pre-stamp row with a null n_buckets. A missing dir costs no job, and
    neither does an append, on a bare path or a `file://` URI; a row
    stamped with another n_buckets raises."""
    from pdf_extractor_spark.control import (
        CONTROL_SCHEMA, BucketingMismatchError, append_commits_rows, committed_ids,
    )
    from pdf_extractor_spark.pipeline import _MetricsRow

    control_dir = str(tmp_path / "control")
    ids, jobs = _jobs_in(spark, "ctl-missing", lambda: committed_ids(spark, control_dir, 8))
    assert (ids, jobs) == ((frozenset(), 8), 0)

    spark.createDataFrame(
        [(p, "committed", 1, 10, 0, 0, None, 8) for p in (0, 1)], CONTROL_SCHEMA
    ).write.parquet(control_dir)
    _, jobs = _jobs_in(spark, "ctl-append", lambda: append_commits_rows(
        [_MetricsRow(p, 1, 10, 0, 0) for p in (2, 3)], control_dir, n_buckets=8))
    assert jobs == 0
    append_commits_rows([_MetricsRow(5, 1, 10, 0, 0)], control_dir, n_buckets=None)
    ids, jobs = _jobs_in(spark, "ctl-union", lambda: committed_ids(spark, control_dir, 8))
    assert ids == ({0, 1, 2, 3, 5}, 8)
    assert jobs == 1

    append_commits_rows([_MetricsRow(6, 1, 10, 0, 0)], control_dir, n_buckets=16)
    with pytest.raises(BucketingMismatchError):
        committed_ids(spark, control_dir, 8)

    uri_dir = "file://" + str(tmp_path / "control_uri")
    _, jobs = _jobs_in(spark, "ctl-append-uri", lambda: append_commits_rows(
        [_MetricsRow(p, 1, 10, 0, 0) for p in (4, 7)], uri_dir, n_buckets=8))
    assert jobs == 0
    assert committed_ids(spark, uri_dir) == ({4, 7}, 8)


def test_corrupt_control_file_fails_resume(spark, tmp_path):
    """Only a MISSING control dir means nothing is committed: a corrupt
    commit file must fail the run, not silently turn resume off."""
    control_dir = tmp_path / "control"
    control_dir.mkdir()
    (control_dir / "commit-garbage.parquet").write_bytes(b"not a parquet file" * 8)
    pages = pages_df(spark, 20, seed=SEED, num_partitions=1)
    with pytest.raises(Exception) as exc:
        run_extraction(spark, pages, str(tmp_path / "out"), str(control_dir), n_buckets=8)
    assert "FAILED_READ_FILE" in str(exc.value) and "commit-garbage" in str(exc.value)
    assert not (tmp_path / "out").exists()


def test_skew_runtime_hot_url_spread(spark, tmp_path):
    """Runtime skew stress (round-2 verdict #8, complements the plan-level
    AQE skew-join test): ONE url recrawled at ~100× density — identical
    rows, so a url-keyed shuffle would map them all to a single write task.
    The write's size-aware split must fan them across write tasks: the job
    completes, lineage is exact, and no single task file owns the hot url."""
    import glob
    import os

    import pandas as pd

    from pdf_extractor_spark.pipeline import run_extraction

    base = pages_df(spark, 100, seed=SEED, num_partitions=4)
    hot = next(r for i in range(50) if (r := synth_row(SEED, i))["_kind"] == "html")
    n_hot = 2000
    hot_pdf = pd.DataFrame(
        {
            "url": [hot["url"]] * n_hot,
            "warc_ts": [hot["warc_ts"]] * n_hot,
            "html": [hot["html"]] * n_hot,
            "text": [""] * n_hot,
            "lang": ["en"] * n_hot,
        }
    )
    # round-robin over 8 partitions: the recrawled copies span scan splits,
    # exactly like a 10^6-duplicate url spans splits of a 100 TB table
    hot_df = spark.createDataFrame(hot_pdf).repartition(8)
    pages = base.unionByName(hot_df)

    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    stats = run_extraction(
        spark, pages, out, ctl, n_buckets=16, shuffle_partitions=16
    )
    assert stats.docs_processed == 100 + n_hot

    bucket = spark.createDataFrame([(hot["url"],)], "url string").select(
        F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("b")
    ).collect()[0].b
    files = glob.glob(os.path.join(out, f"partition_id={bucket}", "*.parquet"))
    hot_counts = [
        c
        for f in files
        if (c := spark.read.parquet(f).filter(F.col("url") == hot["url"]).count()) > 0
    ]
    assert sum(hot_counts) == n_hot + 1  # +1: the base table's own copy
    assert len(hot_counts) >= 2, "hot url serialized onto one write task"
    assert max(hot_counts) <= int(n_hot * 0.6), hot_counts


def test_write_layout_one_file_per_cold_bucket(spark, tmp_path):
    """Only a hot bucket spreads: the write splits a bucket only when its
    shuffle bytes exceed one task's fair share. The input is file-backed,
    so the plan's size estimate is the real one, and one url recrawled
    2,000 times spans its scan splits. The hot url's bucket dir holds ≥ 2
    files, none with more than 60% of the copies; every other non-empty
    bucket dir holds exactly one file, where a layout keyed on the scan
    split would give it up to one file per split."""
    import glob
    import os

    base = pages_df(spark, 300, seed=SEED, num_partitions=4)
    hot = next(r for i in range(50) if (r := synth_row(SEED, i))["_kind"] == "html")
    n_hot = 2000
    hot_df = spark.createDataFrame([tuple(hot[c] for c in base.columns)] * n_hot, base.schema)
    src = str(tmp_path / "pages")
    base.unionByName(hot_df.repartition(8)).write.parquet(src)
    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    stats = run_extraction(spark, spark.read.parquet(src), out, ctl, n_buckets=64)
    assert stats.docs_processed == 300 + n_hot

    files = {
        int(d.rsplit("=", 1)[1]): glob.glob(os.path.join(d, "*.parquet"))
        for d in glob.glob(os.path.join(out, "partition_id=*"))
    }
    assert len(files) == stats.partitions_committed
    hot_bucket = with_partition_id(
        spark.createDataFrame([(hot["url"],)], "url string"), 64
    ).collect()[0].partition_id
    hot_counts = [
        spark.read.parquet(f).filter(F.col("url") == hot["url"]).count()
        for f in files.pop(hot_bucket)
    ]
    assert sum(hot_counts) == n_hot + 1  # +1: the base table's own copy
    assert len(hot_counts) >= 2, "hot url serialized onto one write task"
    assert max(hot_counts) <= int(n_hot * 0.6), hot_counts
    assert all(len(f) == 1 for f in files.values()), {
        b: len(f) for b, f in files.items() if len(f) != 1
    }
    # the write restores the session's advisory size
    assert spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None) is None


def test_write_layout_floor_bounds_underestimated_source(spark, tmp_path):
    """pages_df is spark.range-based, so the plan estimates a few bytes per
    row and the fair share falls to a few bytes: unfloored, every bucket
    split at every map output. The split size is floored at AQE's
    minPartitionSize; at Spark's 1 MB default every bucket of this run is
    below it, so each gets one file whatever the estimate."""
    import glob
    import os

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    suite_floor = spark.conf.get(key)
    spark.conf.set(key, "1m")
    try:
        stats = run_extraction(
            spark, pages_df(spark, 300, seed=SEED, num_partitions=4),
            str(tmp_path / "out"), str(tmp_path / "ctl"),
        )
    finally:
        spark.conf.set(key, suite_floor)
    counts = [
        len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(str(tmp_path / "out" / "partition_id=*"))
    ]
    assert len(counts) == stats.partitions_committed
    assert set(counts) == {1}, counts


def test_run_extraction_rejects_no_buckets(spark, tmp_path):
    """n_buckets < 1 used to return an all-zero RunStats: every committed
    set looked complete, so nothing ran and nothing failed."""
    pages = pages_df(spark, 10, seed=SEED, num_partitions=1)
    for n in (0, -1):
        with pytest.raises(ValueError, match="n_buckets"):
            run_extraction(spark, pages, str(tmp_path / "out"), str(tmp_path / "ctl"), n_buckets=n)
    assert not (tmp_path / "out").exists()


def test_skew_spread(spark):
    """Heavy-hitter hosts must not serialize onto one task: with salting,
    the max task share of the hot partition stays bounded."""
    pages = pages_df(spark, 1000, seed=SEED, num_partitions=4)
    hosts = (
        pages.withColumn("host", F.parse_url("url", F.lit("HOST")))
        .groupBy("host").count().orderBy(F.desc("count")).limit(2).collect()
    )
    # fixture promises ~45% of docs on the two heavy hosts
    heavy_share = sum(r["count"] for r in hosts) / 1000
    assert heavy_share > 0.3

    salted = pages.repartition(
        16, F.pmod(F.xxhash64("url"), F.lit(64))
    ).withColumn("spid", F.spark_partition_id())
    sizes = [r.cnt for r in salted.groupBy("spid").agg(F.count("*").alias("cnt")).collect()]
    assert max(sizes) < 1000 * 0.25  # no task owns a hot-host-sized chunk


def test_encrypted_pdf_counts_as_parse_failure(spark, tmp_path):
    """An /Encrypt-bearing PDF lands in the output as
    parse_status='encrypted' with no text, counts toward the
    parse_failures lineage metric in the control table (crypt is a
    failure to extract, distinguishable from corruption in the output
    table), and dead-letter triage classes it 'encrypted_pdf'."""
    import datetime as dt

    import numpy as np

    from pdf_extractor_spark.pipeline import dead_letter_sample
    from pdf_extractor_spark.synth import make_encrypted_pdf

    ts = dt.datetime(2024, 3, 4, 5, 6, 7)
    rows = [
        ("https://enc.example/doc.pdf", ts,
         make_encrypted_pdf(np.random.default_rng(11)), "", "en"),
        ("https://ok.example/a.html", ts,
         b"<html><body><p>plain healthy body text for the control row.</p></body></html>",
         "", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    stats = run_extraction(spark, pages, out, ctl, n_buckets=4)
    assert stats.parse_failures == 1
    ctl_sum = spark.read.parquet(ctl).agg(F.sum("parse_failures")).collect()[0][0]
    assert ctl_sum == 1
    got = {r.url: r for r in spark.read.parquet(out).collect()}
    enc = got["https://enc.example/doc.pdf"]
    assert enc.parse_status == "encrypted" and enc.extracted_text == ""
    assert got["https://ok.example/a.html"].parse_status == "ok"

    triage = {r.url: r.error_class for r in dead_letter_sample(spark.read.parquet(out)).collect()}
    assert triage == {"https://enc.example/doc.pdf": "encrypted_pdf"}


def test_build_training_corpus_redact_pii(spark, tmp_path):
    """--redact-pii corpus mode: emails/phones/IPs become typed
    placeholders, the substitution count reaches the funnel stats, and
    span_offsets (stale after substitution) is dropped; without the flag
    the text and schema are untouched."""
    from pdf_extractor_spark.pipeline import build_training_corpus

    rows = [
        (
            "https://a/1",
            "Contact alice@example.com or call 555-0199 about the plain "
            "prose paragraph with enough ordinary tokens for the gate.",
            "[]",
            "ok",
        ),
        (
            "https://b/1",
            "Server 10.1.2.3 hosts another unique document with plenty of "
            "ordinary prose tokens to pass the quality gate easily.",
            "[]",
            "ok",
        ),
    ]
    src = str(tmp_path / "extracted")
    spark.createDataFrame(
        rows,
        "url string, extracted_text string, span_offsets string, parse_status string",
    ).write.parquet(src)

    out = str(tmp_path / "corpus_red")
    cs = build_training_corpus(spark, src, out, redact_pii=True)
    got = {r.url: r for r in spark.read.parquet(out).collect()}
    assert cs.pii_redactions == 3  # email + phone + ip
    assert "[EMAIL]" in got["https://a/1"].extracted_text
    assert "[PHONE]" in got["https://a/1"].extracted_text
    assert "[IP]" in got["https://b/1"].extracted_text
    assert "alice@example.com" not in got["https://a/1"].extracted_text
    assert "span_offsets" not in got["https://a/1"].__fields__
    assert got["https://a/1"].pii_redactions == 2

    out2 = str(tmp_path / "corpus_plain")
    cs2 = build_training_corpus(spark, src, out2, redact_pii=False)
    plain = {r.url: r for r in spark.read.parquet(out2).collect()}
    assert cs2.pii_redactions == 0
    assert "alice@example.com" in plain["https://a/1"].extracted_text
    assert "span_offsets" in plain["https://a/1"].__fields__


def test_build_training_corpus_strip_dup_spans(spark, tmp_path):
    """--strip-dup-spans corpus mode: a word span shared by two documents
    survives only in the min-url owner, the removed-word count reaches the
    funnel stats, and span_offsets (stale after removal) is dropped."""
    from pdf_extractor_spark.pipeline import build_training_corpus

    span = " ".join(f"boiler{i}" for i in range(12))
    rows = [
        (
            "https://a/1",
            f"Totally unique opening prose sentence with many tokens. {span}",
            "[]",
            "ok",
        ),
        (
            "https://b/1",
            f"{span} Another page whose remaining prose is entirely unique.",
            "[]",
            "ok",
        ),
    ]
    src = str(tmp_path / "extracted")
    spark.createDataFrame(
        rows,
        "url string, extracted_text string, span_offsets string, parse_status string",
    ).write.parquet(src)

    out = str(tmp_path / "corpus_strip")
    cs = build_training_corpus(spark, src, out, strip_dup_spans=True)
    got = {r.url: r for r in spark.read.parquet(out).collect()}
    # min-url owner keeps the span byte-identically; the loser loses it
    assert got["https://a/1"].extracted_text == rows[0][1]
    assert got["https://b/1"].extracted_text == (
        "Another page whose remaining prose is entirely unique."
    )
    assert cs.dup_span_words_dropped == 12
    assert got["https://b/1"].dup_span_words == 12
    assert "span_offsets" not in got["https://a/1"].__fields__

    out2 = str(tmp_path / "corpus_keep")
    cs2 = build_training_corpus(spark, src, out2, strip_dup_spans=False)
    plain = {r.url: r for r in spark.read.parquet(out2).collect()}
    assert cs2.dup_span_words_dropped == 0
    assert span in plain["https://b/1"].extracted_text
    assert "span_offsets" in plain["https://b/1"].__fields__


def test_build_training_corpus_incremental_state(spark, tmp_path):
    """Two-snapshot incremental corpus build: snapshot 1 persists its
    MinHash band state via dedup_state_out; snapshot 2 consumes it via
    dedup_state_in and drops the recrawl duplicate WITHOUT re-reading
    snapshot 1's corpus text; the drop count reaches the funnel and the
    surviving doc's state is written for snapshot 3."""
    from pdf_extractor_spark.pipeline import build_training_corpus

    recrawl = ("the annual municipal report details road maintenance "
               "budgets and the schedule of public works for the district")
    rows1 = [
        ("https://a/1", recrawl, "[]", "ok"),
        ("https://b/1", "an unrelated gardening article about seasonal "
                        "planting schedules for home growers everywhere", "[]", "ok"),
    ]
    src1 = str(tmp_path / "extracted1")
    spark.createDataFrame(
        rows1,
        "url string, extracted_text string, span_offsets string, parse_status string",
    ).write.parquet(src1)
    state1 = str(tmp_path / "state1")
    cs1 = build_training_corpus(
        spark, src1, str(tmp_path / "corpus1"), dedup_state_out=state1
    )
    assert cs1.docs_corpus == 2 and cs1.recrawl_dups_dropped == 0

    rows2 = [
        ("https://a/recrawled", recrawl, "[]", "ok"),  # same page, new crawl
        ("https://c/1", "a fresh unique article on deep sea exploration "
                        "vessels and the sonar mapping of ocean trenches", "[]", "ok"),
    ]
    src2 = str(tmp_path / "extracted2")
    spark.createDataFrame(
        rows2,
        "url string, extracted_text string, span_offsets string, parse_status string",
    ).write.parquet(src2)
    state2 = str(tmp_path / "state2")
    out2 = str(tmp_path / "corpus2")
    cs2 = build_training_corpus(
        spark, src2, out2, dedup_state_in=state1, dedup_state_out=state2
    )
    got = {r.url for r in spark.read.parquet(out2).collect()}
    assert got == {"https://c/1"}
    assert cs2.recrawl_dups_dropped == 1 and cs2.docs_corpus == 1
    # snapshot-3 state covers only the survivor
    s2 = spark.read.parquet(state2)
    assert {r.url for r in s2.select("url").distinct().collect()} == {"https://c/1"}


def test_training_examples_approved_xlsx_gate(spark, out_dirs, tmp_path):
    """The reference's excel2training flow (excel2training.py:150-153,
    261-330): a reviewer workbook gates which docs become training
    examples. Only rows whose APPROVED upper-cases to 'Y' survive; a
    workbook without URL/APPROVED fails fast like the reference's
    missing-APPROVED error."""
    import json

    from pdf_extractor_spark.pipeline import write_training_examples
    from pdf_extractor_spark.synth import write_xlsx

    out_dir, _ = out_dirs
    ok_urls = sorted(
        r.url
        for r in spark.read.parquet(out_dir)
        .filter((F.col("parse_status") == "ok") & (F.length("extracted_text") > 0))
        .collect()
    )
    assert len(ok_urls) >= 4
    # approve the first two (one lowercase 'y'), reject/blank the rest
    grid = [
        ["Alternative Column Names", "document link", None],
        ["Column Extraction Rules", None, "Y/N"],
        [None, "URL", "APPROVED"],
        [None, ok_urls[0], "Y"],
        [None, ok_urls[1], "y"],
        [None, ok_urls[2], "n"],
        [None, ok_urls[3], None],
        [None, "https://never-extracted.example/x", "Y"],  # no matching doc
    ]
    wb_path = str(tmp_path / "approved.xlsx")
    write_xlsx(grid, wb_path)
    train_dir = str(tmp_path / "train_gated")
    n = write_training_examples(
        spark, out_dir, train_dir, min_examples=1, approved_xlsx=wb_path
    )
    lines = [r.value for r in spark.read.text(train_dir).collect()]
    got_urls = sorted(
        json.loads(json.loads(ln)["messages"][1]["content"])["url"] for ln in lines
    )
    assert n == 2 and got_urls == sorted(ok_urls[:2])

    # fail-fast on a workbook without the required columns
    bad = str(tmp_path / "bad.xlsx")
    write_xlsx(
        [[None, "x"], [None, "y"], [None, "NAME"], [None, "v"]], bad
    )
    with pytest.raises(ValueError, match="APPROVED"):
        write_training_examples(
            spark, out_dir, str(tmp_path / "t2"), min_examples=1, approved_xlsx=bad
        )


def test_job_rejects_corpus_flags_without_corpus_out(tmp_path, capsys):
    """Flags that only act together with another one (corpus-only flags
    without --corpus-out, --approved-xlsx without --training-out,
    --warc-split-mb without --input-warc) used to be accepted and silently
    ignored (exit 0), as was --warc-split-mb 0; a negative split size
    raised a traceback. All are usage errors (exit 2) raised before any
    Spark session starts. So is a bucket count below 1: --n-buckets 0 used
    to exit 0 having processed nothing."""
    from pdf_extractor_spark import job

    out = ["--output", str(tmp_path / "out"), "--control", str(tmp_path / "ctl")]
    synth = ["--synth", "10", *out]
    warc = ["--input-warc", str(tmp_path / "warc"), *out]
    for argv, err in (
        (synth + ["--dedup-state-in", str(tmp_path / "state")], "--corpus-out"),
        (synth + ["--dedup-state-out", str(tmp_path / "state")], "--corpus-out"),
        (synth + ["--redact-pii"], "--corpus-out"),
        (synth + ["--strip-dup-spans"], "--corpus-out"),
        (synth + ["--temperature-lang"], "--corpus-out"),
        (synth + ["--token-budget", "100"], "--corpus-out"),
        (synth + ["--approved-xlsx", str(tmp_path / "ok.xlsx")], "--training-out"),
        (synth + ["--warc-split-mb", "1"], "--input-warc"),
        (warc + ["--warc-split-mb", "0"], "positive"),
        (warc + ["--warc-split-mb", "-1"], "positive"),
        (synth + ["--n-buckets", "0"], "--n-buckets"),
        (synth + ["--n-buckets", "-4"], "--n-buckets"),
    ):
        with pytest.raises(SystemExit) as exc:
            job.main(argv)
        assert exc.value.code == 2
        assert err in capsys.readouterr().err
    assert not (tmp_path / "out").exists()


def test_job_runs_from_outside_the_repo(tmp_path):
    """spark-submit job.py from a cwd outside the repo, without --py-files
    or PYTHONPATH: the Python workers must import the package as the driver
    does (they used to fail every task with ModuleNotFoundError)."""
    import json
    import os
    import subprocess

    from pdf_extractor_spark import job

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        ["spark-submit", "--master", "local[2]", job.__file__, "--synth", "20",
         "--output", str(tmp_path / "out"), "--control", str(tmp_path / "ctl"),
         "--n-buckets", "4"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert json.loads(res.stdout.splitlines()[-1])["docs_processed"] == 20


def test_build_training_corpus_temperature_lang(spark, tmp_path):
    """--temperature-lang corpus mode: the rarest language is kept in
    full, the head language is downsampled by the deterministic md5(url)
    rule, the kept set matches a pure-Python replay of that rule exactly
    (reproducible across runs and cluster sizes), and the dropped count
    reaches the funnel."""
    import hashlib
    import math

    from pdf_extractor_spark.pipeline import build_training_corpus

    rows = [
        (
            f"https://en/{i}",
            f"the quick brown fox and the lazy dog of page {i} keep walking",
            "[]",
            "ok",
        )
        for i in range(16)
    ] + [
        (
            f"https://fr/{i}",
            f"le chat et la ville et le pont numero {i} sont la",
            "[]",
            "ok",
        )
        for i in range(2)
    ]
    src = str(tmp_path / "extracted_temp")
    spark.createDataFrame(
        rows,
        "url string, extracted_text string, span_offsets string, parse_status string",
    ).write.parquet(src)

    out = str(tmp_path / "corpus_temp")
    cs = build_training_corpus(spark, src, out, temperature_lang=True)
    got = {r.url for r in spark.read.parquet(out).collect()}

    def bucket16(url: str) -> int:
        return int(hashlib.md5(url.encode()).hexdigest()[:4], 16)

    thr = {
        "en": math.floor(math.sqrt(2 / 16) * 65536),
        "fr": math.floor(math.sqrt(2 / 2) * 65536),
    }
    expect = {
        u for u, *_ in rows if bucket16(u) < thr["en" if "//en/" in u else "fr"]
    }
    assert got == expect
    assert {u for u in got if "//fr/" in u} == {f"https://fr/{i}" for i in range(2)}
    assert cs.temperature_dropped == len(rows) - len(got) > 0


def test_build_training_corpus_token_budget(spark, tmp_path):
    """--token-budget corpus mode: the final corpus keeps the best-scoring
    docs first until the whitespace-token budget fills, the funnel carries
    the dropped count, and the __prebudget staging dir is cleaned up, also
    for a `file://` corpus dir."""
    import os

    from pdf_extractor_spark.pipeline import build_training_corpus

    # same 12-token sentence shape, increasing length → longer docs score
    # higher (score = ln(1+chars)*(1-punct_ratio); no punctuation here)
    def text(i, extra):
        base = f"document number {i} with plain simple prose tokens here now so"
        return base + " wordy" * extra

    rows = [
        ("https://q/0", text(0, 0), "[]", "ok"),   # 12 tokens, shortest
        ("https://q/1", text(1, 8), "[]", "ok"),   # 20 tokens
        ("https://q/2", text(2, 18), "[]", "ok"),  # 30 tokens, best score
    ]
    src = str(tmp_path / "extracted_budget")
    spark.createDataFrame(
        rows,
        "url string, extracted_text string, span_offsets string, parse_status string",
    ).write.parquet(src)

    out = str(tmp_path / "corpus_budget")
    # budget fits docs 2 and 1 (30 + 20 = 50) but not doc 0
    cs = build_training_corpus(spark, src, out, token_budget=50)
    got = {r.url for r in spark.read.parquet(out).collect()}
    assert got == {"https://q/2", "https://q/1"}
    assert cs.budget_dropped == 1
    assert cs.docs_corpus == 3  # pre-budget dedup count still in the funnel
    assert not os.path.exists(out.rstrip("/") + "__prebudget")

    # a file:// corpus dir: the same kept docs, and the staging dir is
    # deleted through the Hadoop FS instead of left beside the corpus
    uri_out = tmp_path / "corpus_budget_uri"
    cs_uri = build_training_corpus(spark, src, "file://" + str(uri_out), token_budget=50)
    assert cs_uri.budget_dropped == 1
    assert {r.url for r in spark.read.parquet(str(uri_out)).collect()} == got
    assert not (tmp_path / "corpus_budget_uri__prebudget").exists()

    # sanity: no budget → everything ships
    out2 = str(tmp_path / "corpus_nobudget")
    cs2 = build_training_corpus(spark, src, out2)
    assert cs2.budget_dropped == 0
    assert spark.read.parquet(out2).count() == 3
