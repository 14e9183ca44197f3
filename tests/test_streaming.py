"""Structured Streaming: incremental extraction resume + watermarked windows."""

from __future__ import annotations

import os

import pandas as pd

from pdf_extractor_spark import streaming as st
from pdf_extractor_spark.kernel import extract_document
from pdf_extractor_spark.synth import synth_pandas

SEED = 42


def _write_pages(spark, path: str, ids) -> None:
    pdf = synth_pandas(SEED, list(ids))
    spark.createDataFrame(pdf).write.mode("append").parquet(path)


def test_stream_merge_sink_no_duplicate_urls(spark, tmp_path):
    """T2: overlapping redelivery (fresh checkpoint = everything replayed)
    must not duplicate urls in the sink — foreachBatch dedup-merge."""
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")

    _write_pages(spark, inp, range(0, 80))
    q = st.stream_extract_merge(spark, inp, out, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 80

    # redelivery: 40 overlapping docs land again as NEW files, plus 20 new
    # docs; a SECOND checkpoint replays all files — at-least-once upstream
    _write_pages(spark, inp, range(40, 100))
    q2 = st.stream_extract_merge(spark, inp, out, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 100
    assert final.select("url").distinct().count() == 100

    # merged rows are still byte-faithful
    sample = {r.url: r.extracted_text for r in final.limit(200).collect()}
    from pdf_extractor_spark.synth import synth_row

    for i in range(100):
        r = synth_row(SEED, i)
        if r["url"] in sample:
            assert sample[r["url"]] == extract_document(r["html"]).extracted_text


def test_stream_extract_warc_incremental(spark, tmp_path):
    """Streaming WARC ingestion: archives process exactly once across
    restarts (file-source checkpoint), output byte-identical to the
    oracle. An archive name in upper case is listed like any other."""
    from pdf_extractor_spark.sources import write_warc
    from pdf_extractor_spark.synth import synth_row

    d = tmp_path / "warc"
    d.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    rows1 = [synth_row(SEED, i) for i in range(40)]
    write_warc(rows1, str(d / "seg0.warc.gz"), gzip_members=True)
    q = st.stream_extract_warc(spark, str(d), out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 40

    rows2 = [synth_row(SEED, i) for i in range(40, 70)]
    write_warc(rows2[:20], str(d / "seg1.warc.gz"), gzip_members=True)
    write_warc(rows2[20:], str(d / "SEG2.WARC.GZ"), gzip_members=True)
    q2 = st.stream_extract_warc(spark, str(d), out, ckpt)  # same checkpoint
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 70  # seg0 NOT reprocessed
    assert final.select("url").distinct().count() == 70

    got = {r.url: r.extracted_text for r in final.collect()}
    for r in rows1 + rows2:
        assert got[r["url"]] == extract_document(r["html"]).extracted_text


def test_stream_extract_warc_over_2gib_archive(spark, tmp_path):
    """An archive past 2 GiB streams like any other: only `(path, length)`
    crosses the Arrow boundary (a whole-archive `content` cell fails the
    micro-batch with FAILED_READ_FILE past 2147483647 bytes), and the
    archive is split with the batch reader's range rule. The sparse
    fixture is 20 member-gzip records, a hole, then 10 records past 3 GiB:
    the member chain from offset 0 ends at the hole, and only a later
    range finds the members past it."""
    from pdf_extractor_spark.sources import read_pages_warc, write_warc
    from pdf_extractor_spark.synth import synth_row

    d = tmp_path / "warc"
    d.mkdir()
    rows = [synth_row(SEED, i) for i in range(30)]
    write_warc(rows[:20], str(tmp_path / "head.warc.gz"), gzip_members=True)
    write_warc(rows[20:], str(tmp_path / "tail.warc.gz"), gzip_members=True)
    with open(d / "big.warc.gz", "wb") as f:
        f.write((tmp_path / "head.warc.gz").read_bytes())
        f.seek(3 << 30)  # a hole: no disk blocks
        f.write((tmp_path / "tail.warc.gz").read_bytes())
    assert os.path.getsize(d / "big.warc.gz") > 3 << 30

    batch = sorted(r.url for r in read_pages_warc(spark, str(d)).collect())
    assert batch == sorted(r["url"] for r in rows)

    out = str(tmp_path / "out")
    q = st.stream_extract_warc(spark, str(d), out, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert q.exception() is None
    assert sorted(r.url for r in spark.read.parquet(out).collect()) == batch


def test_stream_merge_corrupt_sink_fails_batch(spark, tmp_path):
    """A sink-read failure that is NOT path-not-found must FAIL the batch
    (checkpoint retries it) — silently skipping the anti-join would append
    duplicate urls and break the exactly-once-per-url contract (round-2
    ADVICE)."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    _write_pages(spark, inp, range(0, 10))

    # out_dir exists but holds junk → read fails with a non-PATH_NOT_FOUND
    # AnalysisException; the old blanket `except Exception` swallowed it
    os.makedirs(out)
    with open(os.path.join(out, "garbage.parquet"), "wb") as f:
        f.write(b"this is not parquet")

    q = st.stream_extract_merge(spark, inp, out, str(tmp_path / "ckpt_corrupt"))
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
        raise AssertionError("query should have failed on the corrupt sink")

    # an EXISTING-BUT-EMPTY sink dir (crashed first write, operator mkdir)
    # must NOT wedge the stream — there are no urls to dedup against, so
    # the first batch proceeds (round-3 review: exception-sniffing raised
    # UNABLE_TO_INFER_SCHEMA forever here)
    out2 = str(tmp_path / "out_empty")
    os.makedirs(out2)
    q2 = st.stream_extract_merge(spark, inp, out2, str(tmp_path / "ckpt_empty"))
    q2.awaitTermination(120)
    assert spark.read.parquet(out2).count() == 10


def test_stream_extract_incremental_resume(spark, tmp_path):
    """AvailableNow + checkpoint: second run processes ONLY new files (T1)."""
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, inp, range(0, 120))
    q = st.stream_extract(spark, inp, out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    assert first.count() == 120

    # new files land; restarted query must pick up exactly the delta
    _write_pages(spark, inp, range(120, 180))
    q2 = st.stream_extract(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 180
    assert final.select("url").distinct().count() == 180

    # fidelity holds through the streaming path too
    got = {r.url: r.extracted_text for r in final.collect()}
    for i in (0, 60, 150):
        row = synth_pandas(SEED, [i]).iloc[0]
        assert got[row.url] == extract_document(bytes(row.html)).extracted_text


def test_stream_windowed_counts_vs_batch(spark, tmp_path, sf_dir):
    """Streaming watermarked window agg == batch agg on closed windows (T5)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema_ddl = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    inp = str(tmp_path / "events_in")
    out = str(tmp_path / "agg_out")
    ckpt = str(tmp_path / "agg_ckpt")
    events.write.parquet(inp)

    q = st.stream_windowed_counts(spark, inp, out, ckpt, schema_ddl)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = st.windowed_event_counts(events)

    # append mode emits only windows closed by the final watermark: every
    # emitted row must match the batch result exactly
    batch_map = {
        (r.window_start, r.event_type): (r.n, r.total) for r in batch.collect()
    }
    got_rows = got.collect()
    assert len(got_rows) > 0
    for r in got_rows:
        assert batch_map[(r.window_start, r.event_type)] == (r.n, r.total)


def test_watermark_bounds_state(spark):
    """The watermark column survives the plan (state-bounding contract)."""
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:05", "2024-01-01 01:05"]),
            "event_type": ["a", "a"],
            "value": [1.0, 2.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = st.windowed_event_counts(df, window="1 hour", watermark="10 minutes")
    rows = {(str(r.window_start), r.event_type): r.n for r in out.collect()}
    assert len(rows) == 2  # two separate hourly windows


def test_stateful_totals_accumulate_across_restarts(spark, tmp_path):
    """applyInPandasWithState: state survives the checkpoint across runs."""
    import pandas as pd

    schema_ddl = "user_id long, value double, ts timestamp"
    inp = str(tmp_path / "ev_in")
    out = str(tmp_path / "tot_out")
    ckpt = str(tmp_path / "tot_ckpt")

    def write(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "value"])
        pdf["ts"] = pd.Timestamp("2024-01-01")
        spark.createDataFrame(pdf).write.mode("append").parquet(inp)

    write([(1, 10.0), (1, 5.0), (2, 7.0)])
    q = st.stateful_user_totals(spark, inp, out, ckpt, schema_ddl)
    q.awaitTermination(120)

    write([(1, 1.0), (3, 2.0)])
    q2 = st.stateful_user_totals(spark, inp, out, ckpt, schema_ddl)
    q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    # latest snapshot per user: user 1 accumulated across BOTH runs
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    assert latest[1].n_events == 3 and latest[1].total_value == 16.0
    assert latest[2].n_events == 1 and latest[2].total_value == 7.0
    assert latest[3].n_events == 1 and latest[3].total_value == 2.0


def test_stream_dedup_corpus_two_snapshots(spark, tmp_path):
    """Streaming incremental dedup: snapshot 1 establishes the band state;
    snapshot 2's recrawl (same long text, new url) and within-batch twin
    are dropped, fresh content passes, and the state grows by exactly the
    survivors' bands (4 rows/doc)."""
    import datetime

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "corpus")
    state = str(tmp_path / "bands")

    article = ("a long syndicated article body with plenty of distinct "
               "shingle material spread across the entire passage so the "
               "minhash signatures are stable and collide for recrawls")
    fresh = ("entirely different prose about mountain weather patterns "
             "and the slow drift of glaciers through alpine valleys over "
             "geological timescales and their terminal moraines")
    ts = datetime.datetime(2026, 3, 4, 5, 6, 7)

    def write(rows, path):
        pdf = pd.DataFrame(
            [(u, ts, b"<html></html>", t, "en") for u, t in rows],
            columns=["url", "warc_ts", "html", "text", "lang"],
        )
        spark.createDataFrame(pdf).write.mode("append").parquet(path)

    write([("https://a/1", article), ("https://b/1", fresh)], inp)
    q = st.stream_dedup_corpus(spark, inp, out, state, str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2
    assert spark.read.parquet(state).count() == 8  # 4 bands per survivor

    # snapshot 2: recrawl of the article under a new url, an in-batch twin
    # pair, and genuinely new content
    novel = ("recipes for fermented vegetables using traditional brine "
             "ratios and burping schedules for small batch crocks in "
             "cold climates with limited cellar space available")
    write(
        [("https://c/recrawl", article),          # vs-state dup -> dropped
         ("https://d/twin1", novel),
         ("https://e/twin2", novel),              # within-batch dup -> dropped
         ],
        inp,
    )
    q = st.stream_dedup_corpus(spark, inp, out, state, str(tmp_path / "ck"))
    q.awaitTermination(120)
    got = {r.url for r in spark.read.parquet(out).select("url").collect()}
    assert got == {"https://a/1", "https://b/1", "https://d/twin1"}
    assert spark.read.parquet(state).count() == 12  # +4 for the one survivor


def test_stream_drops_near_dups_batch_builder_keeps_them(spark, tmp_path):
    """Batch and stream dedup share the band table, the state probe and the
    min-url winner, but only the stream drops near-dups within a snapshot:
    two near-identical (not identical) docs in one snapshot leave one row
    through stream_dedup_corpus and two through build_training_corpus."""
    import datetime

    from pdf_extractor_spark.operators.dedup import band_pairs, minhash_band_table
    from pdf_extractor_spark.pipeline import build_training_corpus

    article = ("a long syndicated article body with plenty of distinct "
               "shingle material spread across the entire passage so the "
               "minhash signatures are stable and collide for near copies")
    docs = [("https://a/1", article), ("https://b/1", article + " today")]
    ts = datetime.datetime(2026, 3, 4, 5, 6, 7)
    pages = spark.createDataFrame(pd.DataFrame(
        [(u, ts, b"<html></html>", t, "en") for u, t in docs],
        columns=["url", "warc_ts", "html", "text", "lang"],
    ))
    bands = minhash_band_table(pages, id_col="url", text_col="text")
    assert band_pairs(bands, id_col="url").count() == 1  # a candidate pair

    inp, out = str(tmp_path / "pages"), str(tmp_path / "corpus_stream")
    pages.write.parquet(inp)
    q = st.stream_dedup_corpus(
        spark, inp, out, str(tmp_path / "bands"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    assert [r.url for r in spark.read.parquet(out).collect()] == ["https://a/1"]

    extracted = str(tmp_path / "extracted")
    spark.createDataFrame(
        [(u, t, "ok") for u, t in docs],
        "url string, extracted_text string, parse_status string",
    ).write.parquet(extracted)
    corpus = str(tmp_path / "corpus_batch")
    assert build_training_corpus(spark, extracted, corpus).docs_corpus == 2
    assert {r.url for r in spark.read.parquet(corpus).collect()} == {u for u, _ in docs}
