"""Raw-file and WARC sources: same pages schema, byte-identical extraction."""

from __future__ import annotations

import os

from pdf_extractor_spark.kernel import extract_document
from pdf_extractor_spark.kernel.spark_kernel import run_kernel
from pdf_extractor_spark.sources import (
    _warc_ts,
    parse_warc_records,
    read_pages_binary,
    read_pages_warc,
    write_warc,
)
from pdf_extractor_spark.synth import synth_row

SEED = 42


def _synth_rows(n):
    return [synth_row(SEED, i) for i in range(n)]


def test_binary_file_source(spark, tmp_path):
    """Files on disk → pages table → kernel, byte-identical to the oracle."""
    d = tmp_path / "files"
    d.mkdir()
    rows = [r for r in _synth_rows(120) if r["_kind"] in ("html", "pdf")][:40]
    for i, r in enumerate(rows):
        ext = "pdf" if r["_kind"] == "pdf" else "html"
        (d / f"doc_{i:03d}.{ext}").write_bytes(r["html"])

    pages = read_pages_binary(spark, str(d))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    got = {
        os.path.basename(r.url): r.extracted_text for r in run_kernel(pages).collect()
    }
    assert len(got) == len(rows)
    for i, r in enumerate(rows):
        ext = "pdf" if r["_kind"] == "pdf" else "html"
        assert got[f"doc_{i:03d}.{ext}"] == extract_document(r["html"]).extracted_text


def test_warc_roundtrip_plain_and_gzip(spark, tmp_path):
    """pages → WARC (plain + member-gzip) → reader → byte-identical kernel
    output per url, timestamps preserved to the second."""
    d = tmp_path / "warc"
    d.mkdir()
    rows = _synth_rows(80)
    write_warc(rows[:40], str(d / "seg-00000.warc"))
    write_warc(rows[40:], str(d / "seg-00001.warc.gz"), gzip_members=True)

    pages = read_pages_warc(spark, str(d))
    collected = {r.url: r for r in pages.collect()}
    assert len(collected) == 80
    for r in rows:
        got = collected[r["url"]]
        assert bytes(got.html) == r["html"]
        assert got.warc_ts == r["warc_ts"].replace(tzinfo=None, microsecond=0)

    extracted = {r.url: r.extracted_text for r in run_kernel(pages).collect()}
    for r in rows:
        assert extracted[r["url"]] == extract_document(r["html"]).extracted_text


def test_warc_parser_edge_cases():
    html = b"<html><body><p>body text long enough to keep for the test.</p></body></html>"
    http_hdr = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    # record without HTTP block, bad Content-Length (falls back to boundary),
    # plus a non-response record that must be skipped
    raw = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a/1\r\nWARC-Date: 2024-03-04T05:06:07Z\r\n"
        b"Content-Length: oops\r\n\r\n" + html + b"\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a/2\r\nWARC-Date: 2024-03-04T05:06:08Z\r\n"
        + (b"Content-Length: %d\r\n\r\n" % (len(http_hdr) + len(html)))
        + http_hdr + html + b"\r\n\r\n"
    )
    recs = parse_warc_records(raw)
    assert [r["url"] for r in recs] == ["https://a/1", "https://a/2"]
    assert recs[0]["html"] == html  # boundary fallback
    assert recs[1]["html"] == html  # HTTP header block stripped
    # truncated gzip member: earlier records survive
    import gzip

    member = gzip.compress(raw, mtime=0)
    recs2 = parse_warc_records(member + b"\x1f\x8b\x08TRUNCATED")
    assert [r["url"] for r in recs2] == ["https://a/1", "https://a/2"]


def test_warc_negative_content_length():
    """A negative Content-Length is malformed, not short: the scanner must
    resync at the next `WARC/` boundary instead of busy-looping (a length
    that exactly cancels the header offset lands pos back on the same
    record head) or slicing tail-relative bytes as the body (round-3
    ADVICE, high)."""
    html = b"<html><body><p>good record body, long enough to matter.</p></body></html>"
    bad_hdr = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t/bad\r\nWARC-Date: 2024-03-04T05:06:07Z\r\n"
    )
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t/good\r\nWARC-Date: 2024-03-04T05:06:08Z\r\n"
        + (b"Content-Length: %d\r\n\r\n" % len(html)) + html + b"\r\n\r\n"
    )
    for length in (-1, -10**9, -(len(bad_hdr) + len(b"Content-Length: -0\r\n\r\n"))):
        raw = (
            bad_hdr + (b"Content-Length: %d\r\n\r\n" % length)
            + b"bad body\r\n\r\n" + good
        )
        recs = parse_warc_records(raw)
        # malformed record degrades to boundary fallback; good record intact
        assert [r["url"] for r in recs] == ["https://t/bad", "https://t/good"]
        assert recs[0]["html"] == b"bad body"
        assert recs[1]["html"] == html
    # the exact self-cancelling offset from the advice repro: header length
    # negated → body_end == start of this same record. Must terminate.
    hdr = bad_hdr + b"Content-Length: -999\r\n\r\n"
    cancel = len(hdr)
    raw = bad_hdr + (b"Content-Length: -%d\r\n\r\n" % cancel) + good
    recs = parse_warc_records(raw)
    assert recs[-1]["url"] == "https://t/good"


def test_warc_split_reader_skips_hidden_files(spark, tmp_path):
    """The Hadoop FS listing must follow Spark's hidden-path rule exactly
    (skip a name or a dir below the root that starts with `.`, or with `_`
    and holds no `=`, or ends in `._COPYING_`; keep a `_metadata*` dir) so
    an orphaned `_tmp-*-attempt*.warc.gz` from a hard-killed export task, a
    committer's `_temporary/` staging dir or an in-flight `hadoop fs -put`
    copy is never double-counted (round-3 ADVICE), while a `_p=2/`
    partition dir is read. The stream lists through Spark's file index, so
    it must read the same urls. A name with a space, `#`, `%` or a
    non-ASCII char opens in both readers."""
    from pdf_extractor_spark import streaming as st

    d = tmp_path / "warc"
    rows = _synth_rows(40)
    visible = {
        "a.warc.gz": rows[:20],
        "_p=2/h.warc.gz": rows[30:32],
        "k=1/g.warc.gz": rows[32:34],
        "_common_metadata/j.warc.gz": rows[34:36],
        "ü s#%.warc.gz": rows[36:38],
    }
    # orphaned temps and hidden names carry the OTHER rows: must be invisible
    hidden = [
        "_tmp-part-0-attempt0.warc.gz",
        ".hidden.warc",
        "_temporary/0/part-0.warc.gz",
        "c.warc.gz._COPYING_",
        "sub/.x/i.warc.gz",
        "_d.warc.gz",
        "_metadata.warc.gz",
    ]
    for name, part in [*visible.items(), *((n, rows[20:30]) for n in hidden)]:
        (d / name).parent.mkdir(parents=True, exist_ok=True)
        write_warc(part, str(d / name), gzip_members=name.endswith(".gz"))

    want = {r["url"] for part in visible.values() for r in part}
    got = {r.url for r in read_pages_warc(spark, str(d), split_bytes=1500).collect()}
    assert got == want

    out = str(tmp_path / "out")
    q = st.stream_extract_warc(spark, str(d), out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert q.exception() is None
    assert {r.url for r in spark.read.parquet(out).select("url").collect()} == want


def test_warc_reader_expands_hadoop_glob(spark, tmp_path):
    """A Hadoop glob input (Common Crawl's `segments/*/warc` layout) reads
    every archive under each match and nothing else; a path or a glob that
    matches nothing raises FileNotFoundError instead of a Java trace."""
    import pytest

    d = tmp_path / "segments"
    rows = _synth_rows(30)
    for seg, sub, part, gz in (
        ("s1", "warc", rows[:10], True),
        ("s2", "warc", rows[10:20], False),
        ("s3", "wet", rows[20:], True),
    ):
        (d / seg / sub).mkdir(parents=True)
        write_warc(part, str(d / seg / sub / f"{seg}.WARC.gz"), gzip_members=gz)

    got = [r.url for r in read_pages_warc(spark, f"{d}/*/warc", split_bytes=1500).collect()]
    assert sorted(got) == sorted(r["url"] for r in rows[:20])
    for missing in (f"{d}/nope", f"{d}/*/nope"):
        with pytest.raises(FileNotFoundError):
            read_pages_warc(spark, missing)


def test_warc_reader_packs_small_archives(spark, tmp_path):
    """Many small archives pack into at most one task per core, as Spark
    packs small files, instead of one task per archive."""
    d = tmp_path / "warc"
    d.mkdir()
    rows = _synth_rows(48)
    for i in range(12):
        write_warc(rows[4 * i : 4 * i + 4], str(d / f"p{i:02d}.warc.gz"), gzip_members=True)
    df = read_pages_warc(spark, str(d))
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert sorted(r.url for r in df.collect()) == sorted(r["url"] for r in rows)


def test_arrow_uri_maps_hadoop_s3_schemes():
    """Hadoop lists S3 objects as s3a:// (or s3n://); pyarrow.fs opens
    them as s3://. Other URIs and plain paths pass through unchanged."""
    from pdf_extractor_spark.sources import _arrow_uri

    assert _arrow_uri("s3a://cc/seg/a.warc.gz") == "s3://cc/seg/a.warc.gz"
    assert _arrow_uri("s3n://cc/a.warc.gz") == "s3://cc/a.warc.gz"
    for uri in ("file:/tmp/a.warc.gz", "hdfs://nn:8020/a.warc", "gs://b/a.warc", "/tmp/a.warc"):
        assert _arrow_uri(uri) == uri


def test_warc_http_charset_hint_beats_meta(spark, tmp_path):
    """When the WARC record's HTTP Content-Type charset disagrees with the
    page's meta tag, the transport header wins (WHATWG precedence below
    the BOM): the latin-1 bytes must decode as cp1252, not the meta's
    claimed utf-8 — and the Spark kernel must agree with the oracle twin
    byte-for-byte (round-3 verdict #8)."""
    body_txt = (
        "<html><head><meta charset=\"utf-8\"></head><body>"
        "<p>Caf\xe9 r\xe9sum\xe9 \xfcber stra\xdfe — body long enough to keep "
        "for extraction in this fixture page.</p></body></html>"
    )
    payload = body_txt.encode("latin-1", "replace")
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=ISO-8859-1\r\n\r\n" + payload
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t/hinted\r\nWARC-Date: 2024-03-04T05:06:07Z\r\n"
        + (b"Content-Length: %d\r\n\r\n" % len(http)) + http + b"\r\n\r\n"
    )
    # oracle twin: parser surfaces the hint; kernel honors it
    recs = parse_warc_records(rec)
    assert recs[0]["charset"] == "iso-8859-1"
    want = extract_document(recs[0]["html"], recs[0]["charset"]).extracted_text
    assert "Café résumé über straße" in want
    # WITHOUT the hint, the meta tag would (wrongly, per the transport
    # header) force utf-8 and mangle the accents
    unhinted = extract_document(recs[0]["html"]).extracted_text
    assert "Café" not in unhinted

    d = tmp_path / "warc"
    d.mkdir()
    (d / "x.warc").write_bytes(rec)
    pages = read_pages_warc(spark, str(d))
    assert pages.select("charset").collect()[0][0] == "iso-8859-1"
    got = run_kernel(pages).collect()[0].extracted_text
    assert got == want


def test_warc_bad_date_and_offset_date(spark, tmp_path):
    """Malformed WARC-Date → null timestamp (not a task failure); an
    offset-bearing date normalizes to UTC."""
    html = b"<html><body><p>enough body text to be a valid record body.</p></body></html>"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t/bad\r\nWARC-Date: not-a-date\r\n"
        + (b"Content-Length: %d\r\n\r\n" % len(html)) + html + b"\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t/offset\r\nWARC-Date: 2024-03-04T10:00:00+05:00\r\n"
        + (b"Content-Length: %d\r\n\r\n" % len(html)) + html + b"\r\n\r\n"
    )
    d = tmp_path / "warc"
    d.mkdir()
    (d / "x.warc").write_bytes(rec)
    rows = {r.url: r for r in read_pages_warc(spark, str(d)).collect()}
    assert rows["https://t/bad"].warc_ts is None
    assert str(rows["https://t/offset"].warc_ts) == "2024-03-04 05:00:00"


def test_warc_export_roundtrip(spark, tmp_path):
    """Distributed export: pages → per-partition WARC archives → reader →
    identical rows; the manifest accounts for every record."""
    from pdf_extractor_spark.sources import export_pages_warc
    from pdf_extractor_spark.synth import pages_df

    out = str(tmp_path / "export")
    pages = pages_df(spark, 150, seed=SEED, num_partitions=3)
    manifest = export_pages_warc(pages, out, gzip_members=True).collect()
    assert sum(m.n_records for m in manifest) == 150
    assert len(manifest) == 3 and all(m.file.endswith(".warc.gz") for m in manifest)

    back = {r.url: bytes(r.html) for r in read_pages_warc(spark, out).collect()}
    orig = {r.url: bytes(r.html) for r in pages.collect()}
    assert back == orig

    # a file:// URI lands under the real directory, not a literal `file:`
    # tree under the task's cwd
    real = tmp_path / "export_uri"
    manifest = export_pages_warc(pages, "file://" + str(real), gzip_members=True).collect()
    assert sorted(p.name for p in real.iterdir()) == sorted(
        os.path.basename(m.file) for m in manifest
    )
    assert all(m.n_bytes == (real / os.path.basename(m.file)).stat().st_size for m in manifest)
    back = {r.url: bytes(r.html) for r in read_pages_warc(spark, str(real)).collect()}
    assert back == orig


def test_warc_export_null_timestamp(spark, tmp_path):
    """A null warc_ts (what read_pages_warc yields for malformed WARC-Date)
    must export cleanly — pandas NaT has a strftime attr that raises, so the
    sink needs an isna check, not hasattr (round-2 ADVICE)."""
    from pdf_extractor_spark.sources import export_pages_warc

    payload = b"<html><body><p>null timestamp payload body text here.</p></body></html>"
    df = spark.createDataFrame(
        [("https://t/nat", None, bytearray(payload), "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1)
    out = str(tmp_path / "natexp")
    manifest = export_pages_warc(df, out).collect()
    assert sum(m.n_records for m in manifest) == 1
    back = read_pages_warc(spark, out).collect()
    assert bytes(back[0].html) == payload
    assert back[0].warc_ts is not None  # NaT fell back to the default date


def test_warc_export_task_retry_no_orphans(spark, tmp_path):
    """Task-commit protocol: an attempt that fails MID-WRITE (after records
    already hit its temp file) must leave no orphan archive — the directory
    holds exactly the manifest's files and the roundtrip is byte-exact.
    Requires the session's maxFailures≥2 (conftest local[4,2])."""
    import glob

    from pdf_extractor_spark.sources import export_pages_warc
    from pdf_extractor_spark.synth import PAGES_SCHEMA_DDL, pages_df

    pages = pages_df(spark, 120, seed=SEED, num_partitions=3)

    def flaky(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.partitionId() == 0 and tc.attemptNumber() == 0:
            it = iter(batches)
            first = next(it, None)
            if first is not None:
                yield first  # some rows reach the sink's temp file first
            raise RuntimeError("injected attempt-0 failure")
        yield from batches

    out = str(tmp_path / "retry_export")
    manifest = export_pages_warc(
        pages.mapInPandas(flaky, schema=PAGES_SCHEMA_DDL), out, gzip_members=True
    ).collect()
    assert sum(m.n_records for m in manifest) == 120

    on_disk = sorted(glob.glob(os.path.join(out, "*")))
    assert on_disk == sorted(m.file for m in manifest)  # no orphans, no temps

    back = {r.url: bytes(r.html) for r in read_pages_warc(spark, out).collect()}
    orig = {r.url: bytes(r.html) for r in pages.collect()}
    assert back == orig  # a double-counted orphan would add duplicate urls


def test_warc_streaming_member_parse_bounded_buffer(monkeypatch):
    """Multi-member archives far larger than the decompression chunk parse
    byte-identically, including a record whose gzip member is split into
    many chunks and records spanning member boundaries."""
    import gzip

    from pdf_extractor_spark import sources as src

    monkeypatch.setattr(src, "WARC_CHUNK_BYTES", 256)  # force many refills

    rows = [
        {
            "url": f"https://big/{i}",
            "warc_ts": "2024-05-06T07:08:09Z",
            # payloads 10-40 KB >> the 256-byte chunk
            "html": bytes([65 + (i + j) % 26 for j in range(10_000 + i * 3_000)]),
        }
        for i in range(10)
    ]
    # member-per-record archive (Common-Crawl layout)
    member_gz = b"".join(
        gzip.compress(
            src.encode_warc_record(r["url"], r["warc_ts"], r["html"]), 6, mtime=0
        )
        for r in rows
    )
    got = src.parse_warc_records(member_gz)
    assert [r["url"] for r in got] == [r["url"] for r in rows]
    assert all(g["html"] == r["html"] for g, r in zip(got, rows))

    # records spanning member boundaries: one gzip stream chopped into
    # arbitrary members mid-record
    plain = b"".join(src.encode_warc_record(r["url"], r["warc_ts"], r["html"]) for r in rows)
    cuts = [0, 5_000, 12_345, 50_000, 123_456, len(plain)]
    chopped = b"".join(
        gzip.compress(plain[a:b], 6, mtime=0) for a, b in zip(cuts, cuts[1:]) if b > a
    )
    got2 = src.parse_warc_records(chopped)
    assert [r["url"] for r in got2] == [r["url"] for r in rows]
    assert all(g["html"] == r["html"] for g, r in zip(got2, rows))

    # corrupt trailing member: earlier records survive (ragged-data policy)
    got3 = src.parse_warc_records(member_gz + b"\x1f\x8b\x08GARBAGE")
    assert [r["url"] for r in got3] == [r["url"] for r in rows]


def test_warc_split_reader_matches_unsplit(spark, tmp_path):
    """Splittable reader: tiny byte ranges (boundaries landing mid-member
    everywhere) must produce exactly the unsplit rows of the pure-Python
    oracle (parse_warc_records over each non-hidden archive) — every member
    owned by exactly one range, none dropped, none duplicated — whatever
    the case of the archive's name, and the same for the directory given
    as a `file://` URI."""
    d = tmp_path / "warc"
    d.mkdir()
    rows = _synth_rows(210)
    write_warc(rows[:70], str(d / "a.warc.gz"), gzip_members=True)
    write_warc(rows[70:120], str(d / "b.warc.gz"), gzip_members=True)
    # plain (non-gzip) archive: not byte-splittable → its first range reads
    # it whole
    write_warc(rows[120:150], str(d / "c.warc"))
    # misnamed archives: the layout is sniffed, never taken from the name
    write_warc(rows[150:170], str(d / "d.warc.gz"))
    write_warc(rows[170:190], str(d / "e.warc"), gzip_members=True)
    write_warc(rows[190:], str(d / "F.WARC.GZ"), gzip_members=True)
    write_warc(rows[:20], str(d / "_tmp-x.warc.gz"), gzip_members=True)

    oracle = {
        r["url"]: (r["html"], _warc_ts(r["warc_ts"]))
        for p in sorted(d.iterdir())
        if not p.name.startswith(("_", "."))
        for r in parse_warc_records(p.read_bytes())
    }
    assert len(oracle) == 210
    for input_dir in (str(d), d.as_uri()):
        got = [
            (r.url, (bytes(r.html), r.warc_ts))
            for r in read_pages_warc(spark, input_dir, split_bytes=1500).collect()
        ]
        assert len(got) == 210, input_dir
        assert dict(got) == oracle, input_dir
    for r in rows:
        html, ts = oracle[r["url"]]
        assert html == r["html"]
        assert ts == r["warc_ts"].replace(tzinfo=None, microsecond=0)


def test_warc_range_ownership_exact(tmp_path):
    """Pure-Python grid check: for ANY split size, concatenating per-range
    records over a partition of [0, size) equals the whole-archive parse —
    the exactly-once ownership invariant of the splittable reader."""
    import os

    from pdf_extractor_spark.sources import _iter_range_records

    rows = _synth_rows(60)
    p = str(tmp_path / "grid.warc.gz")
    write_warc(rows, p, gzip_members=True)
    size = os.path.getsize(p)
    want = [r["url"] for r in parse_warc_records(open(p, "rb").read())]
    assert len(want) == 60
    for sb in (512, 1000, 7777, size):
        urls = []
        for off in range(0, size, sb):
            urls.extend(
                r["url"] for r in _iter_range_records(p, off, min(off + sb, size))
            )
        assert urls == want, f"split_bytes={sb}"


def test_incremental_scan_equals_oneshot_property():
    """Property: feeding plain WARC bytes to the incremental scanner in
    ARBITRARY chunk sizes (flushing complete records each step, final scan
    at the end) yields exactly the one-shot parse — the invariant every
    reader (member chains, plain files, streaming) rests on."""
    from hypothesis import given, settings, strategies as st

    from pdf_extractor_spark.sources import _scan_records, encode_warc_record

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.binary(max_size=600), min_size=1, max_size=8),
        st.lists(st.integers(min_value=1, max_value=700), min_size=1, max_size=40),
    )
    def check(payloads, cuts):
        raw = b"".join(
            encode_warc_record(f"https://inc/{i}", "2024-01-02T03:04:05Z", p)
            for i, p in enumerate(payloads)
        )
        want, _ = _scan_records(raw, 0, final=True)

        got = []
        buf = b""
        pos = 0
        ci = 0
        while pos < len(raw):
            step = cuts[ci % len(cuts)]
            ci += 1
            buf += raw[pos : pos + step]
            pos += step
            records, consumed = _scan_records(buf, 0, final=False)
            got.extend(records)
            if consumed:
                buf = buf[consumed:]
        records, _ = _scan_records(buf, 0, final=True)
        got.extend(records)

        assert [(r["url"], r["html"]) for r in got] == [
            (r["url"], r["html"]) for r in want
        ]

    check()


def test_warc_split_ownership_property(tmp_path):
    """Property: for random payload sizes and random split grids, per-range
    parsing over a partition of the archive equals the whole-archive parse
    exactly (ownership exactly-once, order preserved)."""
    import os

    from hypothesis import given, settings, strategies as st

    from pdf_extractor_spark.sources import _iter_range_records

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=4000), min_size=2, max_size=12),
        st.integers(min_value=300, max_value=50_000),
    )
    def check(sizes, split_bytes):
        rows = [
            {
                "url": f"https://p/{i}",
                "warc_ts": "2024-02-03T04:05:06Z",
                "html": bytes([(i * 7 + j) % 251 for j in range(n)]),
            }
            for i, n in enumerate(sizes)
        ]
        p = str(tmp_path / "prop.warc.gz")
        write_warc(rows, p, gzip_members=True)
        size = os.path.getsize(p)
        want = [(r["url"], r["html"]) for r in parse_warc_records(open(p, "rb").read())]
        got = []
        for off in range(0, size, split_bytes):
            got.extend(
                (r["url"], r["html"])
                for r in _iter_range_records(p, off, min(off + split_bytes, size))
            )
        assert got == want

    check()


def test_warc_roundtrip_property(tmp_path):
    """Arbitrary payload bytes — including ones embedding 'WARC/' markers
    and \\r\\n\\r\\n separators — round-trip exactly: Content-Length framing
    must win over any content-based heuristic."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(
            st.binary(max_size=512).map(
                lambda b: b + b"\r\n\r\nWARC/1.0\r\n" if len(b) % 7 == 0 else b
            ),
            min_size=1,
            max_size=5,
        ),
        st.booleans(),
    )
    def roundtrip(payloads, gz):
        import datetime

        rows = [
            {
                "url": f"https://h/{i}",
                "warc_ts": datetime.datetime(2024, 1, 1 + i % 27),
                "html": p,
            }
            for i, p in enumerate(payloads)
        ]
        path = str(tmp_path / ("p.warc.gz" if gz else "p.warc"))
        write_warc(rows, path, gzip_members=gz)
        recs = parse_warc_records(open(path, "rb").read())
        assert [r["url"] for r in recs] == [r["url"] for r in rows]
        for got, want in zip(recs, rows):
            assert got["html"] == want["html"]

    roundtrip()


def test_warc_job_end_to_end(spark, tmp_path):
    """The full extraction job runs off --input-warc semantics: WARC →
    kernel → partitioned output + control commit."""
    from pdf_extractor_spark.pipeline import run_extraction

    d = tmp_path / "warc"
    d.mkdir()
    rows = _synth_rows(60)
    write_warc(rows, str(d / "seg.warc.gz"), gzip_members=True)
    pages = read_pages_warc(spark, str(d))
    stats = run_extraction(
        spark, pages, str(tmp_path / "out"), str(tmp_path / "ctl"), n_buckets=8
    )
    assert stats.docs_processed == 60
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.select("url").distinct().count() == 60


def test_warc_scanner_mutation_fuzz_bounded(tmp_path):
    """Byte-flip mutation fuzz over a realistic multi-record archive
    (plain + member-gzip): every mutation must scan to completion in
    bounded time without raising — the scanner's contract is fewer/
    degraded records, never a wedged task (the round-3 negative-length
    busy-loop is this class). Each mutated member-gzip archive also goes
    through the byte-range reader over a small split grid."""
    import datetime as dt
    import time

    from pdf_extractor_spark.sources import _iter_range_records, parse_warc_records

    rows = [
        {
            "url": "https://m/%d" % i,
            "warc_ts": dt.datetime(2024, 3, 4, 5, 6, i),
            "html": (b"<html><p>record %d body text</p></html>" % i) * 3,
        }
        for i in range(6)
    ]
    from pdf_extractor_spark.sources import encode_warc_record

    p = tmp_path / "mutated.warc.gz"
    for gz in (False, True):
        raw = b"".join(
            encode_warc_record(r["url"], r["warc_ts"], r["html"], gz) for r in rows
        )
        stride = max(1, len(raw) // 60)  # ~60 flips across the archive
        for off in range(3, len(raw), stride):
            mutated = (
                bytes(raw[:off]) + bytes([raw[off] ^ 0xA5]) + bytes(raw[off + 1 :])
            )
            t0 = time.perf_counter()
            recs = parse_warc_records(mutated)
            dt_s = time.perf_counter() - t0
            assert dt_s < 5.0, (gz, off, dt_s)
            assert len(recs) <= len(rows) + 1  # never invents extra records
            for r in recs:
                assert isinstance(r["url"], str)
            if not gz:
                continue
            # the byte-range path over the same damage: mid-file alignment
            # and member ownership must degrade the same way
            p.write_bytes(mutated)
            for sb in (97, 400, len(mutated)):
                t0 = time.perf_counter()
                n = sum(
                    1
                    for s in range(0, len(mutated), sb)
                    for _ in _iter_range_records(str(p), s, min(s + sb, len(mutated)))
                )
                dt_s = time.perf_counter() - t0
                assert dt_s < 5.0, (off, sb, dt_s)
                assert n <= len(rows) + 1, (off, sb, n)


def test_plain_record_without_length_scans_linearly(monkeypatch, tmp_path):
    """A record with no Content-Length is only complete at the next `WARC/`
    boundary. It may span many chunks, plain or inside one gzip member;
    each refill must not rescan the whole buffer, or a long record costs
    O(size² / chunk). The member's body is incompressible, so each 1 KiB
    compressed read inflates to about 1 KiB."""
    import gzip
    import random
    import time

    from pdf_extractor_spark import sources as src

    monkeypatch.setattr(src, "WARC_CHUNK_BYTES", 1024)
    tail = src.encode_warc_record("https://t/next", "2024-01-02T03:04:05Z", b"tail")
    head = b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://t/long\r\n\r\n"
    body = b"<p>no length</p>" * (1 << 19)  # 8 MiB, 8,192 chunks
    raw = head + body + b"\r\n\r\n" + tail
    p = tmp_path / "long.warc"
    p.write_bytes(raw)
    noise = random.Random(0).randbytes(8 << 20)  # 8 MiB, ~8,200 chunks
    member = gzip.compress(head + noise + b"\r\n\r\n" + tail, 1, mtime=0)
    pm = tmp_path / "long.warc.gz"
    pm.write_bytes(member)
    for read, want in (
        (lambda: src.parse_warc_records(raw), body),
        (lambda: list(src._iter_range_records(str(p), 0, len(raw))), body),
        (lambda: src.parse_warc_records(member), noise),
        (lambda: list(src._iter_range_records(str(pm), 0, len(member))), noise),
    ):
        t0 = time.perf_counter()
        recs = read()
        assert time.perf_counter() - t0 < 2.0
        assert [r["url"] for r in recs] == ["https://t/long", "https://t/next"]
        assert recs[0]["html"] == want
