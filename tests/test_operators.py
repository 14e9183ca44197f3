"""Operator-library tests: Spark vs DuckDB oracle parity on a representative
subset (full sweep lives in tools/check_oracle.py; the driver runs it all
at sf0.01). Runs at sf0.001 to keep the suite fast.
"""

from __future__ import annotations

import duckdb
import pytest

import sys

sys.path.insert(0, "/root/repo")

from tools.check_oracle import canon_cell, value_hash  # noqa: E402

from pdf_extractor_spark.operators.registry import TABLES, all_ops  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# fast, shape-diverse subset: agg, joins, window, set op, scalar fns,
# dedup, similarity, text stats
SUBSET = [
    "a2_pricing_summary",
    "j2_anti_dedup",
    "j5_theta_contains",
    "j6_full_outer_compare",
    "w1_reading_order",
    "w4_topk_per_group",
    "u1_set_suite",
    "x1_scalar_suite",
    "x4_marker_roundtrip",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_buckets",
    "text_lang_id",
    "text_token_count",
    "t5_tumbling_window",
    # round-1 additions
    "a3_quality_metrics",
    "o3_sorted_distinct",
    "o4_limit_suite",
    "w2_first_match_suite",
    "f1_filter_suite",
    "s2_suffix_scan",
    "x14_url_pattern",
    "t6_session_window",
    "ann_ivf_probe",
    "ann_ivf_multiprobe",
    "emb_near_dup_bucketed",
    "dedup_components",
    "training_corpus_pipeline",
    "g1_grouped_trend",
    # round-3 additions
    "emb_near_dup_multiband",
    # round-4 additions
    "dedup_lines",
    "text_gopher_suite",
    "decontam_ngrams",
    "pii_redact",
    "c4_filter_suite",
    "sample_stratified",
    "url_canonical",
    "text_unigram_nll",
    "host_stats_salted",
    "dedup_substring",
    # round-5 additions
    "semdedup",
    "sample_temperature",
    "token_budget_select",
    "classifier_calibration",
    "decontam_fuzzy",
    "text_collapse_repeats",
    "dedup_keep_best",
    "url_quality_filter",
    "shuffle_shard",
    "url_seen_bloom",
    "quality_signals_wide",
    "domain_mix_report",
    "text_bigram_nll",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_parity(spark, duck, name):
    op = all_ops()[name]
    assert op.oracle, name

    sdf = op.build(spark, SF_DIR)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = [c.lower() for c in sdf.columns]

    rel = duck.sql(op.oracle)
    d_cols = [c.lower() for c in rel.columns]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: schema mismatch"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    assert value_hash(s_cols, s_rows) == value_hash(d_cols, d_rows), (
        f"{name}: value hash mismatch"
    )


def test_all_registered_ops_have_docs():
    ops = all_ops()
    assert len(ops) >= 40
    for name, op in ops.items():
        assert op.doc, f"{name} missing doc"


def test_vectorized_assignment_matches_explode_form(spark):
    """The Arrow-matmul bucket and rank-1 cell reductions must agree
    row-for-row with an inline posexplode form of the same projection —
    two physical strategies, one logical op."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.similarity import (
        _N_PLANES,
        _ivf_cells,
        _lsh_buckets,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # explode-form buckets (same expression as ann_lsh_buckets' oracle, pre-agg)
    e = emb.select("vec_id", F.posexplode("embedding").alias("i", "x")).select(
        "vec_id", "i", F.col("x").cast("double").alias("x")
    )
    planes = spark.range(_N_PLANES).select(F.col("id").cast("int").alias("j"))
    coef = ((1 + F.col("j")) * (F.col("i") * F.col("i") + 3 * F.col("i") + 7)) % 19 - 9
    sql_buckets = {
        r.vec_id: r.bucket
        for r in e.crossJoin(F.broadcast(planes))
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * coef).alias("dot"))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(F.col("dot") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("bucket")
        )
        .collect()
    }
    vec_buckets = {r.vec_id: r.bucket for r in _lsh_buckets(emb).collect()}
    assert vec_buckets == sql_buckets

    # explode-form cells (same expression as ann_ivf_probe's quantizer)
    ks = spark.range(4).select(F.col("id").cast("int").alias("k"))
    cent = ((2 + F.col("k")) * (F.col("i") * F.col("i") + 5 * F.col("i") + 11)) % 17 - 8
    sql_cells = {
        r.vec_id: r.cell
        for r in e.crossJoin(F.broadcast(ks))
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("x") * cent).alias("e_dot"))
        .groupBy("vec_id")
        .agg(F.max_by("k", "e_dot").cast("long").alias("cell"))
        .collect()
    }
    vec_cells = {r.vec_id: r.cells[0] for r in _ivf_cells(emb).collect()}
    assert vec_cells == sql_cells


def test_band_vectorized_assignment_matches_explode_form(spark, duck):
    """The multiband Arrow-matmul signatures must agree per (vec_id, band)
    with DuckDB running the signature CTEs (e, coefs, proj, sig) of
    emb_near_dup_multiband's own oracle — an independent reference."""
    from pdf_extractor_spark.operators.similarity import _band_buckets

    ctes = all_ops()["emb_near_dup_multiband"].oracle.split("cand AS (")[0]
    assert "sig AS (" in ctes
    sql_sigs = {
        (v, r): bucket
        for v, r, bucket in duck.sql(
            ctes.rstrip().rstrip(",") + " SELECT vec_id, r, bucket FROM sig"
        ).fetchall()
    }
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec_sigs = {(r.vec_id, r.r): r.bucket for r in _band_buckets(emb).collect()}
    assert len(vec_sigs) == len(sql_sigs) > 0
    assert vec_sigs == sql_sigs


def test_multiband_recall_dominates_single_band(spark):
    """32 independent md5-seeded bands must land recall >= 0.3 vs the
    exhaustive emb_near_dup ground truth at the adversarial near-threshold
    fixture (every true pair sits at cos ~0.38-0.40, per-plane agreement
    ~0.63 — the round-4 verdict's weak point at 0.089), dominate the
    single-band form, and keep precision 1.0 (the cosine predicate is
    exact in both)."""
    ops = all_ops()
    truth = {(r.va, r.vb) for r in ops["emb_near_dup"].build(spark, SF_DIR).collect()}
    single = {
        (r.va, r.vb)
        for r in ops["emb_near_dup_bucketed"].build(spark, SF_DIR).collect()
    }
    multi = {
        (r.va, r.vb)
        for r in ops["emb_near_dup_multiband"].build(spark, SF_DIR).collect()
    }
    assert truth, "ground-truth fixture produced no near-dup pairs"
    # ground truth covers the vec_id < 120 window only
    single_w = {p for p in single if p[0] < 120 and p[1] < 120}
    multi_w = {p for p in multi if p[0] < 120 and p[1] < 120}
    assert multi_w <= truth  # precision 1.0: every emitted pair is real
    r_single = len(single_w & truth) / len(truth)
    r_multi = len(multi_w & truth) / len(truth)
    assert r_multi >= max(r_single, 0.3)
    print(f"near-dup recall: single-band={r_single:.2f} multiband={r_multi:.2f}")


def test_pin_utc_restores_session_timezone(spark, duck):
    """Ops analyze under UTC but must NOT leave the session mutated; the
    already-built plan keeps UTC semantics after restore (Spark analyzes
    eagerly at DataFrame construction)."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        op = all_ops()["x12_ts_format"]  # date_format: timezone-sensitive
        sdf = op.build(spark, SF_DIR)
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        s_rows = [tuple(r) for r in sdf.collect()]  # collected AFTER restore
        d_rows = duck.sql(op.oracle).fetchall()
        cols = [c.lower() for c in sdf.columns]
        assert value_hash(cols, s_rows) == value_hash(cols, d_rows)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_canon_cell_stability():
    assert canon_cell(None) == "NULL"
    assert canon_cell(1.0) == canon_cell(1.0000000001)  # 9-decimal rounding
    assert canon_cell(True) == "1"


def test_strip_duplicate_lines_removes_shared_footer(spark):
    """CCNet-shape line dedup on extraction output: a footer line shared by
    many docs is stripped everywhere; unique content survives
    byte-identically; whitespace-only lines are exempt from counting."""
    from pdf_extractor_spark.operators.dedup import explode_lines, strip_duplicate_lines

    footer = "Subscribe to our newsletter today"
    docs = [
        (f"https://s/{i}", f"Unique headline {i}\nBody paragraph number {i} stays.\n" + footer)
        for i in range(5)
    ] + [
        ("https://s/solo", "A one-off page with no shared lines.\n\nSecond para."),
    ]
    df = spark.createDataFrame(docs, "url string, extracted_text string")
    out = {
        r.url: r
        for r in strip_duplicate_lines(
            explode_lines(df), id_col="url", max_docs=3
        ).collect()
    }
    for i in range(5):
        r = out[f"https://s/{i}"]
        # footer (present in 5 > 3 docs) stripped; unique lines byte-exact
        assert r.clean_text == f"Unique headline {i}\nBody paragraph number {i} stays."
        assert r.n_dropped == 1 and r.n_kept == 2
    solo = out["https://s/solo"]
    # the empty line is exempt: kept verbatim, never counted as duplicate
    assert solo.clean_text == "A one-off page with no shared lines.\n\nSecond para."
    assert solo.n_dropped == 0 and solo.n_kept == 3

    # a footer appearing in <= max_docs docs survives
    few = spark.createDataFrame(docs[:3], "url string, extracted_text string")
    out_few = {
        r.url: r
        for r in strip_duplicate_lines(
            explode_lines(few), id_col="url", max_docs=3
        ).collect()
    }
    assert all(footer in r.clean_text for r in out_few.values())


def test_strip_duplicate_substrings_keeps_one_owner(spark):
    """Lee-et-al. span removal: a 40-word span shared by 3 docs survives in
    EXACTLY one (the min-id owner, byte-identical there); the other two
    lose every covered word; unique text is byte-identical everywhere."""
    from pdf_extractor_spark.operators.dedup import strip_duplicate_substrings

    span = " ".join(f"shared{i}" for i in range(40))
    docs = [
        (0, f"alpha opening zero {span} alpha closing zero"),
        (1, f"beta opening one beta middle one {span}"),
        (2, f"{span} gamma closing two gamma end two"),
        (3, "delta page with entirely unique words only here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_duplicate_substrings(df).collect()}

    # owner (doc 0) keeps the span byte-identically inside its own text
    assert out[0].clean_text == docs[0][1]
    assert out[0].n_dropped == 0
    # losers lose exactly the 40 span words; their unique words survive
    # in order, byte-identical
    assert out[1].clean_text == "beta opening one beta middle one"
    assert out[1].n_dropped == 40 and out[1].n_kept == 6
    assert out[2].clean_text == "gamma closing two gamma end two"
    assert out[2].n_dropped == 40 and out[2].n_kept == 6
    # the span survives in exactly one document
    assert sum("shared0" in r.clean_text for r in out.values()) == 1
    # a doc with no shared grams is untouched
    assert out[3].clean_text == docs[3][1] and out[3].n_dropped == 0

    # overlap semantics: two docs sharing only a 5-gram strip just that
    # gram's words from the non-owner, not neighbors
    pair = spark.createDataFrame(
        [
            (10, "u1 u2 c1 c2 c3 c4 c5 u3 u4"),
            (11, "v1 v2 v3 c1 c2 c3 c4 c5 v4"),
        ],
        "doc_id long, text string",
    )
    pout = {r.doc_id: r for r in strip_duplicate_substrings(pair).collect()}
    assert pout[10].clean_text == "u1 u2 c1 c2 c3 c4 c5 u3 u4"
    assert pout[11].clean_text == "v1 v2 v3 v4"
    assert pout[11].n_dropped == 5


def test_dedup_keep_best_prefers_quality_over_min_id(spark, tmp_path):
    """Quality-aware canonical selection: within a near-dup cluster the
    HIGHEST-quality member wins, not the numerically-first doc_id. Three
    recrawl variants normalize to the same text (identical shingles →
    guaranteed band collisions); the highest-id copy has the highest raw
    quality (longest raw text, zero lowercase stopword hits), so it must
    be the keeper."""
    from pdf_extractor_spark.operators.dedup import dedup_keep_best

    base = (
        "the quick brown fox jumps over the lazy dog with data and table "
        "rows repeated for shingle mass " * 3
    ).strip()
    rows = [
        (10, base, "en", "src0", len(base)),
        (11, base + "  ", "en", "src0", len(base) + 2),
        # uppercase + padding: same NORMALIZED text (lowercased by _norm),
        # but longer raw length and no lowercase stop-hits → best quality
        (12, base.upper() + "    ", "en", "src0", len(base) + 4),
        (40, "a completely unrelated gardening page about soil and tools",
         "en", "src1", 59),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = dedup_keep_best(spark, str(tmp_path)).collect()
    assert len(out) == 1  # doc 40 shares no shingles → no cluster
    row = out[0]
    assert row.component == 10
    assert row.cluster_size == 3
    assert row.keep_doc == 12  # min-id dedup would have kept 10
    assert row.keep_quality > 0


def test_url_quality_filter_rules(spark, tmp_path):
    """Each RefinedWeb-style URL rule fires on exactly the doc built to
    trip it: blocklisted domain (broadcast list), bad-word path segment,
    digit-heavy CDN host — and a clean doc keeps."""
    from pdf_extractor_spark.operators.curation import url_quality_filter

    rows = [
        (3, "text", "en", "src3", 4),    # src3.example.com is blocklisted
        (5, "text", "en", "src1", 4),    # %5 == 0 → /casino/ path
        # %7 == 0 and large enough that cdn||(id*37%100000) carries 5 digits
        # (273*37 = 10101 → 'cdn10101-img.example.com', 5/24 > 0.2)
        (273, "text", "en", "src1", 4),
        (11, "text", "en", "src1", 4),   # trips nothing
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in url_quality_filter(spark, str(tmp_path)).collect()}
    assert out[3].blocked_domain and not out[3].keep
    assert out[5].badword_hit and "/casino/" in out[5].url and not out[5].keep
    assert out[273].digit_heavy and out[273].host.startswith("cdn")
    assert not out[273].keep
    assert out[11].keep
    assert not (out[11].blocked_domain or out[11].badword_hit or out[11].digit_heavy)


def test_shuffle_shard_deterministic_and_contiguous(spark):
    """The training-order shuffle must be a deterministic PERMUTATION:
    every doc appears exactly once, positions within each shard are
    contiguous 1..n, and re-running (or re-partitioning the input) yields
    the byte-identical assignment — epoch reproducibility at any
    parallelism."""
    from pdf_extractor_spark.operators.curation import shuffle_shard

    sf = "/root/testdata/sf0.001"
    a = shuffle_shard(spark, sf).collect()
    b = shuffle_shard(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(a) == n_docs
    assert len({r.doc_id for r in a}) == n_docs  # permutation, no dup/loss
    by_shard: dict = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # the md5 order is not the input order (it actually shuffles)
    first_shard = sorted(by_shard)[0]
    ids_in_order = [
        r.doc_id for r in sorted(a, key=lambda r: (r.shard, r.pos))
        if r.shard == first_shard
    ]
    assert ids_in_order != sorted(ids_in_order)


def test_url_seen_bloom_one_sided_error(spark):
    """Bloom seen-set semantics: NO false negatives ever (every true
    recrawl is flagged), false positives possible and measurable via the
    carried truth bit; the sf0.001 fixture has a real mix of seen and
    unseen URLs."""
    from pdf_extractor_spark.operators.curation import url_seen_bloom

    out = url_seen_bloom(spark, "/root/testdata/sf0.001").collect()
    assert any(r.true_dup for r in out) and any(not r.true_dup for r in out)
    for r in out:
        if r.true_dup:
            assert r.bloom_hit, f"false negative at doc {r.doc_id}"


def test_incremental_dedup_uses_persisted_band_state(spark, tmp_path):
    """Two-snapshot incremental dedup: the OLD snapshot's MinHash band
    table is persisted to parquet; the NEW crawl's candidates against it
    come from the STATE alone (old text never re-read — only the band
    table exists on disk), and new-vs-new pairs are caught within the
    fresh snapshot. The T1 control-table discipline applied to dedup."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import (
        incremental_dedup_candidates,
        minhash_band_table,
    )

    base = ("the quarterly filing describes revenue growth across all "
            "segments with stable operating margins and a cautious outlook "
            "for the coming fiscal year in every geography")
    old_docs = spark.createDataFrame(
        [(1, base), (2, "an entirely different page about gardening tools "
                        "and seasonal planting schedules for home growers")],
        "doc_id long, text string",
    )
    state = str(tmp_path / "band_state")
    minhash_band_table(old_docs).write.parquet(state)

    new_docs = spark.createDataFrame(
        [
            (10, base),  # recrawl duplicate of old doc 1
            (11, "a fresh unique article on deep sea exploration vessels "
                 "and the sonar mapping of trenches no crawler has seen"),
            (12, base),  # duplicate WITHIN the new snapshot too
        ],
        "doc_id long, text string",
    )
    # old docs' TEXT is gone — only the persisted band table is consulted
    old_bands = spark.read.parquet(state)
    got = {
        (r.da, r.db, r.kind)
        for r in incremental_dedup_candidates(
            minhash_band_table(new_docs), old_bands
        ).collect()
    }
    assert (10, 1, "vs_old") in got
    assert (12, 1, "vs_old") in got
    assert (10, 12, "new") in got
    assert not any(11 in (a, b) for a, b, _ in got)
    # the state join never sees doc 2 as a candidate (no shared bands)
    assert not any(b == 2 for _, b, _ in got)


def test_band_primitives_hot_key(spark):
    """band_hits / band_pairs on a hot band key: 40 old docs share one text,
    so each of the 4 bands is one 40-doc bucket. The state probe is a
    left-semi join on (band, band_key) returning each hitting id once (the
    same set the inner-join-plus-distinct form gave); self mode yields
    exactly the 40*39/2 ordered pairs; cross mode honours a broadcast hint
    even with auto-broadcast off."""
    import re

    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import (
        band_hits,
        band_pairs,
        minhash_band_table,
    )

    hot = ("cookie settings accept all privacy policy terms of service "
           "newsletter signup footer links and the same boilerplate everywhere")
    old_bands = minhash_band_table(
        spark.createDataFrame(
            [(i, hot) for i in range(1, 41)], "doc_id long, text string"
        )
    ).cache()
    new_bands = minhash_band_table(
        spark.createDataFrame(
            [
                (100, "a field report on alpine glaciers retreating over "
                      "four decades of satellite imagery and ground surveys"),
                (101, hot),  # recrawl of the hot text
                (102, "notes from a community orchestra rehearsal covering "
                      "tempo changes bowing choices and the second movement"),
            ],
            "doc_id long, text string",
        )
    ).cache()
    try:
        hits = band_hits(new_bands, old_bands)
        assert {r.doc_id for r in hits.collect()} == {101}
        state = old_bands.select("band", "band_key")
        inner = new_bands.join(state, ["band", "band_key"]).select("doc_id")
        assert {r.doc_id for r in inner.distinct().collect()} == {101}
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"\[band#\d+L?, band_key#\d+\], \[band#\d+L?, band_key#\d+\], LeftSemi",
            plan,
        ), plan

        self_pairs = band_pairs(old_bands).collect()
        assert len(self_pairs) == 40 * 39 // 2 == 780
        assert all(r.da < r.db for r in self_pairs)

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cross = band_pairs(new_bands, F.broadcast(old_bands))
            plan = cross._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in plan, plan
            got = {(r.da, r.db) for r in cross.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert got == {(101, i) for i in range(1, 41)}
    finally:
        old_bands.unpersist()
        new_bands.unpersist()


def test_minhash_band_table_merges_rows_sharing_an_id(spark):
    """Two rows with one id and different texts (the corpus path's one url
    winning two text hashes) merge into ONE signature: 4 band rows, equal
    to the DuckDB twin over the same rows, whose GROUP BY doc_id merges
    them too."""
    from pdf_extractor_spark.operators.dedup import _band_cte_sql, minhash_band_table

    rows = [
        (7, "the committee approved the annual budget after a long debate "
            "about road repairs and library opening hours"),
        (7, "a short guide to repotting succulents without damaging the "
            "roots or overwatering the fresh soil mix"),
        (8, "minutes of the harbour board meeting on dredging schedules"),
    ]
    got = minhash_band_table(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()
    assert sorted(r.doc_id for r in got) == [7] * 4 + [8] * 4

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.sql(
        f"WITH {_band_cte_sql('bands', 'true')} SELECT * FROM bands"
    ).fetchall()
    assert sorted(tuple(r) for r in got) == sorted(want)


def test_hashed_ngram_classifier_separates_boilerplate(spark):
    """The trained hashed-ngram scorer must separate boilerplate-heavy
    pages from content pages on a fixture DESIGNED so the heuristic stack
    cannot: every doc passes the Gopher windows (word count, mean word
    length, stopword evidence, repetition), so heuristics score 50% — the
    classifier, trained on half the docs, must get >=90% held out. This is
    the point of model-based quality filtering (fastText/DCLM) on top of
    heuristics."""
    import random

    from pdf_extractor_spark.operators.textstats import (
        _GOPHER_MAX_DUP2,
        _GOPHER_MAX_MWL,
        _GOPHER_MIN_MWL,
        _GOPHER_MIN_WORDS,
        _GOPHER_STOPS,
        hashed_ngram_features,
        score_hashed_ngram,
        train_hashed_ngram_weights,
    )
    from pyspark.sql import functions as F

    rng = random.Random(7)
    content = ("report quarterly revenue grew while margins held steady the "
               "board approved a dividend and analysts expect growth in new "
               "markets next year of modest scale").split()
    boiler = ("accept cookies manage privacy settings subscribe newsletter "
              "sign in trending footer navigation menu copyright rights "
              "reserved terms of service contact about careers sitemap").split()
    docs = []
    for i in range(80):
        is_content = i % 2 == 0
        pool = content if is_content else (boiler * 2 + content)
        words = [rng.choice(pool) for _ in range(40)]
        # guarantee stopword evidence in every doc so the heuristic rule
        # can never separate on it
        words[0] = "the"
        docs.append((i, " ".join(words), is_content))
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in docs], "doc_id long, text string"
    )
    truth = {i: c for i, t, c in docs}

    # heuristic stack is blind here: every doc passes all four Gopher rules
    for i, t, _ in docs:
        ws = t.split()
        mwl = sum(len(w) for w in ws) / len(ws)
        from collections import Counter

        big = Counter(zip(ws, ws[1:]))
        dup2 = sum(c for c in big.values() if c > 1) / sum(big.values())
        assert len(ws) >= _GOPHER_MIN_WORDS
        assert _GOPHER_MIN_MWL <= mwl <= _GOPHER_MAX_MWL
        assert any(w in _GOPHER_STOPS for w in ws)
        assert dup2 <= _GOPHER_MAX_DUP2

    feats = hashed_ngram_features(df)
    labels = spark.createDataFrame(
        [(i, c) for i, t, c in docs], "doc_id long, pos boolean"
    )
    train = feats.join(labels, "doc_id").filter(F.col("doc_id") % 4 < 2)
    weights = train_hashed_ngram_weights(spark, train)
    held = {
        r.doc_id: r.pred_pos
        for r in score_hashed_ngram(feats, weights).collect()
        if r.doc_id % 4 >= 2
    }
    acc = sum(held[i] == truth[i] for i in held) / len(held)
    print(f"hashed-ngram classifier held-out accuracy: {acc:.2f} (heuristics: 0.50)")
    assert acc >= 0.9


def test_trained_ivf_beats_untrained_recall(spark):
    """Lloyd-trained coarse quantizer must dominate the integer-centroid
    stand-in on recall@3 vs the brute-force cosine ground truth — the
    point of training the quantizer (round-3 verdict #6)."""
    ops = all_ops()
    gt = ops["ann_cosine_topk"].build(spark, SF_DIR).toPandas()
    trained = ops["ann_ivf_trained"].build(spark, SF_DIR).toPandas()
    untrained = ops["ann_ivf_probe"].build(spark, SF_DIR).toPandas()
    gtp = set(zip(gt.query_id, gt.neighbor_id))
    r_tr = len(set(zip(trained.query_id, trained.neighbor_id)) & gtp) / len(gtp)
    r_un = len(set(zip(untrained.query_id, untrained.neighbor_id)) & gtp) / len(gtp)
    assert r_tr >= r_un
    assert r_tr >= 0.5  # sf0.01 measures 0.867 vs untrained 0.4


def test_gopher_suite_metrics_hand_computed(spark):
    """Recompute every text_gopher_suite metric for a few documents in
    plain Python from the parquet text and require exact agreement —
    independent of both the Spark expressions and the DuckDB oracle."""
    import pandas as pd

    from pdf_extractor_spark.operators import textstats as ts

    got = (
        all_ops()["text_gopher_suite"].build(spark, SF_DIR).toPandas()
        .set_index("doc_id").sort_index()
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet").set_index("doc_id")
    checked = 0
    for doc_id in list(got.index)[:10]:
        text = docs.loc[doc_id, "text"].strip()
        ws = [w for w in text.split(" ") if w]
        assert got.loc[doc_id, "n_words"] == len(ws)
        mwl = sum(len(w) for w in ws) / len(ws)
        assert got.loc[doc_id, "mean_word_len"] == round(mwl, 4)
        stops = sum(1 for w in ws if w in ts._GOPHER_STOPS)
        assert got.loc[doc_id, "stop_hits"] == stops
        bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        from collections import Counter

        cnt = Counter(bgs)
        dup = sum(c for c in cnt.values() if c > 1) / len(bgs)
        assert got.loc[doc_id, "dup_2gram_frac"] == round(dup, 4)
        ok = (
            ts._GOPHER_MIN_WORDS <= len(ws) <= ts._GOPHER_MAX_WORDS
            and ts._GOPHER_MIN_MWL <= mwl <= ts._GOPHER_MAX_MWL
            and stops >= 1
            and round(dup, 4) <= ts._GOPHER_MAX_DUP2
        )
        assert bool(got.loc[doc_id, "gopher_ok"]) == ok
        checked += 1
    assert checked == 10
    # the rule set must actually discriminate on this corpus
    assert got.gopher_ok.any() and (~got.gopher_ok).any()


def test_decontaminate_flags_planted_overlap(spark):
    """Brown-et-al-style n-gram decontamination on a planted fixture: a
    training doc that embeds a benchmark 8-gram verbatim is flagged with
    the exact overlapping-gram count; paraphrases (7-word overlap) and
    unrelated docs are clean; gram totals are hand-computed."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.curation import decontaminate

    bench_sentence = "the quick brown fox jumps over the lazy dog tonight"
    docs = [
        # 0: contains benchmark words 0..9 verbatim → 3 shared 8-grams
        (0, "intro words " + bench_sentence + " trailing tail"),
        # 1: 7-word overlap only (word 8 differs: 'weary' vs 'lazy') →
        #    below the 8-gram bar, clean
        (1, "the quick brown fox jumps over the weary dog tail words here"),
        # 2: unrelated
        (2, "completely different content with no benchmark overlap at all whatsoever"),
    ]
    train = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws")
    )
    bench = spark.createDataFrame(
        [(100, bench_sentence)], "doc_id long, text string"
    ).select("doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws"))

    out = {r.doc_id: r for r in decontaminate(train, bench).collect()}
    # doc 0: 14 words → 7 grams; benchmark has 10 words → 3 grams, all of
    # which appear verbatim inside doc 0
    assert out[0].n_grams == 7
    assert out[0].hit_grams == 3 and out[0].contaminated
    assert out[1].hit_grams == 0 and not out[1].contaminated
    assert out[2].hit_grams == 0 and not out[2].contaminated


def test_redact_pii_hand_cases(spark):
    """PII scrub: counts and placements hand-checked, including multiple
    matches in one doc, PII-free text passing through byte-identically,
    and the boundary guard (no match inside a longer token)."""
    from pdf_extractor_spark.operators.curation import redact_pii

    rows = [
        (0, "mail a.b-c_d@ex-1.co.uk then mail second@x.org done"),
        (1, "dial 555-0199 or 555-12345 visit 192.168.0.1 end"),
        (2, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    out = {r.doc_id: r for r in redact_pii(df).collect()}

    assert out[0].n_email == 2 and out[0].n_phone == 0 and out[0].n_ip == 0
    assert out[0].redacted == "mail [EMAIL] then mail [EMAIL] done"
    # 555-12345: \b after 4 digits fails (5th digit is a word char) → the
    # phone pattern must NOT match a 5-digit extension
    assert out[1].n_phone == 1 and out[1].n_ip == 1
    assert out[1].redacted == "dial [PHONE] or 555-12345 visit [IP] end"
    assert out[2].redacted == "no pii here at all"
    assert out[2].n_email == out[2].n_phone == out[2].n_ip == 0


def test_pointer_jump_components_converge_logarithmically(spark):
    """Adversarial worst case for label propagation: a 256-node chain
    (sequentially-edited near-dups). Pointer jumping must reach the
    fixpoint in O(log n) rounds — ≤ 12 for n=256 — where plain
    neighbor-min needs ~n; labels must all equal the component min, and a
    second disjoint component must keep its own min (no cross-component
    label bleed)."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import min_label_components

    n = 256
    chain = [(i, i + 1) for i in range(n - 1)]
    other = [(1000, 1001), (1001, 1002)]
    pairs = spark.createDataFrame(chain + other, "da long, db long")
    edges = pairs.selectExpr("da AS a", "db AS b").unionAll(
        pairs.selectExpr("db AS a", "da AS b")
    )
    pinned, rounds = min_label_components(edges)
    got = {r.node: r.root for r in pinned.select("node", "root").collect()}
    pinned.unpersist()
    assert rounds <= 12, f"chain of {n} took {rounds} rounds"
    assert all(got[i] == 0 for i in range(n))
    assert all(got[i] == 1000 for i in (1000, 1001, 1002))


def test_c4_clean_rules_hand_computed(spark):
    """c4_clean judged against hand-applied C4 rules on explicit line
    arrays — independent of the in-query line derivation AND of the DuckDB
    oracle (which shares that derivation)."""
    from pdf_extractor_spark.operators.curation import c4_clean

    good = [
        "one two three four five.",
        "six seven eight nine ten!",
        "alpha beta gamma delta epsilon?",
    ]
    rows = [
        # A: 3 qualifying lines among noise -> kept
        (0, good + ["short.", "no terminal mark here at all"]),
        # B: lorem ipsum anywhere kills the page
        (1, good + ["Lorem Ipsum dolor sit amet."]),
        # C: a brace anywhere kills the page
        (2, good + ["var config = { };"]),
        # D: only 2 qualifying lines -> below the page threshold
        (3, good[:2] + ["tiny.", "also not terminated"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    out = {r["doc_id"]: r for r in c4_clean(df).collect()}

    a = out[0]
    assert (a["n_lines"], a["n_kept"]) == (5, 3)
    assert a["c4_keep"] and not a["has_lorem"] and not a["has_brace"]
    assert a["clean_text"] == "\n".join(good)

    assert out[1]["has_lorem"] and not out[1]["c4_keep"]
    assert out[1]["clean_text"] == ""
    assert out[2]["has_brace"] and not out[2]["c4_keep"]
    assert out[3]["n_kept"] == 2 and not out[3]["c4_keep"]


def test_sample_stratified_matches_python_md5(spark):
    """The kept set must equal a pure-Python md5 replay of the rule, and a
    second run must return the identical sample (determinism is the whole
    point of hash sampling: resumable, auditable, cluster-size-invariant)."""
    import hashlib

    import pyarrow.parquet as pq

    from pdf_extractor_spark.operators.curation import SAMPLE_RATES_256
    from pdf_extractor_spark.operators.registry import all_ops

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "lang"])
    expected = set()
    for doc_id, lang in zip(tbl["doc_id"].to_pylist(), tbl["lang"].to_pylist()):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        bucket = int(h[0], 16) * 16 + int(h[1], 16)
        if bucket < SAMPLE_RATES_256.get(lang, 0):
            expected.add(doc_id)

    build = all_ops()["sample_stratified"].build
    got1 = {r["doc_id"] for r in build(spark, SF_DIR).collect()}
    got2 = {r["doc_id"] for r in build(spark, SF_DIR).collect()}
    assert got1 == expected
    assert got1 == got2
    # the sample is a strict, non-empty subset on this corpus
    assert 0 < len(got1) < tbl.num_rows


def test_unigram_nll_matches_python_replay(spark):
    """avg_nll replayed in pure Python (collections.Counter over the
    parquet) for every document — independent of both engines."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    from pdf_extractor_spark.operators.registry import all_ops

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    docs = {
        d: t.strip().split()
        for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
        if t.strip()
    }
    freq = Counter(w for ws in docs.values() for w in ws)
    n = sum(freq.values())
    got = {
        r["doc_id"]: (r["n_words"], r["avg_nll"])
        for r in all_ops()["text_unigram_nll"].build(spark, SF_DIR).collect()
    }
    assert set(got) == set(docs)
    for d, ws in docs.items():
        want = round(sum(-math.log(freq[w] / n) for w in ws) / len(ws), 4)
        assert got[d][0] == len(ws)
        assert abs(got[d][1] - want) < 5e-4, (d, got[d][1], want)


def test_ccnet_buckets_match_python_replay(spark):
    """head/middle/tail replayed in pure Python: unigram NLL per doc, then
    per-language DISCRETE tercile cutoffs (first value with cume_dist >= q,
    the SQL-standard percentile_disc) — every doc's bucket must match."""
    import math
    from collections import Counter, defaultdict

    import pyarrow.parquet as pq

    from pdf_extractor_spark.operators.registry import all_ops
    from pdf_extractor_spark.operators.textstats import _CCNET_Q

    tbl = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    rows = list(
        zip(
            tbl["doc_id"].to_pylist(),
            tbl["text"].to_pylist(),
            tbl["lang"].to_pylist(),
        )
    )
    docs = {d: (t.strip().split(), lang) for d, t, lang in rows if t.strip()}
    freq = Counter(w for ws, _ in docs.values() for w in ws)
    n = sum(freq.values())
    nll = {
        d: round(sum(-math.log(freq[w] / n) for w in ws) / len(ws), 4)
        for d, (ws, _) in docs.items()
    }
    by_lang = defaultdict(list)
    for d, (_, lang) in docs.items():
        by_lang[lang].append(nll[d])

    def disc(vals, q):  # percentile_disc: first value with cume_dist >= q
        vals = sorted(vals)
        return vals[math.ceil(q * len(vals)) - 1]

    cuts = {
        lang: (disc(v, _CCNET_Q[0]), disc(v, _CCNET_Q[1]))
        for lang, v in by_lang.items()
    }
    expected = {}
    for d, (_, lang) in docs.items():
        q1, q2 = cuts[lang]
        expected[d] = "head" if nll[d] <= q1 else ("middle" if nll[d] <= q2 else "tail")

    got = {
        r["doc_id"]: r["bucket"]
        for r in all_ops()["ccnet_buckets"].build(spark, SF_DIR).collect()
    }
    assert got == expected
    # each language really splits into three non-empty tiers on this corpus
    for lang in by_lang:
        tiers = {expected[d] for d, (_, lg) in docs.items() if lg == lang}
        assert tiers == {"head", "middle", "tail"}, (lang, tiers)


def test_pack_sequences_matches_python_replay(spark):
    """Concat-and-chunk packing replayed in pure Python (hashlib md5 order,
    running offset) — start/seq_id/seq_off/n_seqs must match exactly, and
    the packed stream must tile with no gaps and no overlaps."""
    import hashlib

    import pyarrow.parquet as pq

    from pdf_extractor_spark.operators.curation import _PACK_CHUNK
    from pdf_extractor_spark.operators.registry import all_ops

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    docs = [
        (d, len(t.strip().split()))
        for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
        if t.strip()
    ]
    order = sorted(docs, key=lambda p: (hashlib.md5(str(p[0]).encode()).hexdigest(), p[0]))
    expected, acc = {}, 0
    for d, tok in order:
        seq = acc // _PACK_CHUNK
        expected[d] = (
            tok,
            acc,
            seq,
            acc % _PACK_CHUNK,
            (acc + tok - 1) // _PACK_CHUNK - seq + 1,
        )
        acc += tok

    rows = all_ops()["pack_sequences"].build(spark, SF_DIR).collect()
    got = {
        r["doc_id"]: (r["tokens"], r["start"], r["seq_id"], r["seq_off"], r["n_seqs"])
        for r in rows
    }
    assert got == expected
    # stream tiles exactly: sorted by start, each doc begins where the
    # previous one ended
    by_start = sorted(got.values(), key=lambda v: v[1])
    pos = 0
    for tok, start, _, _, _ in by_start:
        assert start == pos
        pos += tok
    assert pos == sum(t for _, t in docs)


def test_pack_windows_reconstruct_stream_and_agree_with_plan(spark):
    """The materialized windows must (a) all carry exactly _PACK_CHUNK
    tokens except the final one, (b) concatenate in seq order back to the
    md5-shuffled token stream byte-for-byte, and (c) agree with
    pack_sequences on how many docs straddle each window."""
    import hashlib
    from collections import Counter

    import pyarrow.parquet as pq

    from pdf_extractor_spark.operators.curation import _PACK_CHUNK
    from pdf_extractor_spark.operators.registry import all_ops

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    docs = [
        (d, t.strip().split())
        for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
        if t.strip()
    ]
    order = sorted(docs, key=lambda p: (hashlib.md5(str(p[0]).encode()).hexdigest(), p[0]))
    stream = [w for _, ws in order for w in ws]

    rows = sorted(
        all_ops()["pack_windows"].build(spark, SF_DIR).collect(),
        key=lambda r: r["seq_id"],
    )
    assert [r["seq_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["n_tokens"] == _PACK_CHUNK
    assert " ".join(r["seq_text"] for r in rows) == " ".join(stream)

    plan = all_ops()["pack_sequences"].build(spark, SF_DIR).collect()
    straddle = Counter()
    for p in plan:
        for s in range(p["seq_id"], p["seq_id"] + p["n_seqs"]):
            straddle[s] += 1
    assert {r["seq_id"]: r["n_docs"] for r in rows} == dict(straddle)


def test_dedup_substring_consistent_with_minhash_family(spark):
    """Substring-duplication sanity: docs the MinHash-LSH pass pairs as
    near-dups must show high cross-doc 5-gram overlap, and the corpus
    baseline must sit far below — the signal separates, it isn't noise."""
    ops = all_ops()
    frac = {
        r["doc_id"]: r["dup_frac"]
        for r in ops["dedup_substring"].build(spark, SF_DIR).collect()
    }
    pairs = ops["dedup_minhash_lsh"].build(spark, SF_DIR).collect()
    assert pairs, "minhash fixture produced no near-dup pairs"
    near_ids = {d for r in pairs for d in (r["da"], r["db"])}
    near = [frac[d] for d in near_ids if d in frac]
    rest = [v for d, v in frac.items() if d not in near_ids]
    assert min(near) > 0.5, min(near)  # near-dups share most grams
    assert sum(rest) / len(rest) < 0.2  # background stays low


def test_ngram_ops_tolerate_short_docs(spark):
    """Spark's sequence(0, stop) runs DESCENDING when stop < 0, so every
    n-gram derivation must take an explicit empty branch for docs shorter
    than n words — otherwise slice() start-0 kills the task (grams) or
    null bigrams leak into counts (gopher). Pin the guarded behavior."""
    from pdf_extractor_spark.operators.curation import decontaminate

    short = spark.createDataFrame(
        [(1, ["only", "three", "words"])], "doc_id long, ws array<string>"
    )
    long_ = spark.createDataFrame(
        [(2, ["w%d" % i for i in range(12)])], "doc_id long, ws array<string>"
    )
    # short training doc vs long bench: zero grams, never contaminated
    rows = decontaminate(short, long_).collect()
    assert [(r["doc_id"], r["n_grams"], r["hit_grams"], r["contaminated"]) for r in rows] == [
        (1, 0, 0, False)
    ]
    # short BENCH side: empty gram set, long doc scores zero hits
    rows2 = decontaminate(long_, short).collect()
    assert rows2[0]["hit_grams"] == 0 and rows2[0]["n_grams"] == 5

    # the guarded gram/bigram expressions yield EMPTY (not [null,...])
    from pyspark.sql import functions as F
    for n, expr in ((5, "md5(array_join(slice(ws, i+1, 5), ' '))"),
                    (2, "concat(ws[i], ' ', ws[i+1])")):
        out = short.select(
            F.expr(
                f"CASE WHEN size(ws) >= {n} THEN "
                f"transform(sequence(0, size(ws)-{n}), i -> {expr}) "
                f"ELSE cast(array() as array<string>) END"
            ).alias("g")
        ).collect()[0]["g"]
        if n > 3:
            assert out == []
        else:
            assert len(out) == 2 and all(x is not None for x in out)


def test_pointer_jump_accelerates_deep_chains(spark):
    """On a 40-node path graph (the adversarial sequential-edit chain),
    adaptive pointer jumping must converge in far fewer rounds than plain
    neighbor-min propagation, with identical labels (component min = 0)."""
    from pdf_extractor_spark.operators.dedup import min_label_components

    n = 40
    chain = [(i, i + 1) for i in range(n)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "a long, b long"
    )
    fast, fast_rounds = min_label_components(edges, jump_from_round=3)
    assert {(r.node, r.root) for r in fast.collect()} == {
        (i, 0) for i in range(n + 1)
    }
    fast.unpersist()
    slow, slow_rounds = min_label_components(edges, jump_from_round=10**9)
    assert {(r.node, r.root) for r in slow.collect()} == {
        (i, 0) for i in range(n + 1)
    }
    slow.unpersist()
    assert slow_rounds >= n  # neighbor-min needs ~diameter rounds
    assert fast_rounds <= 12, fast_rounds  # ~log2 after the jump engages


def test_semdedup_prunes_within_cluster(spark):
    """SemDedup semantics on a hand-built fixture: near-copies of an
    earlier vector in the same cluster are dropped (keep=0), anchors and
    a direction orthogonal to everything survive — regardless of which
    cluster the orthogonal vector lands in, since its cosine to every
    other vector is ~0 < tau."""
    from pdf_extractor_spark.operators.similarity import _with_norm, semdedup_flags

    dim = 8

    def axis(i, scale=10.0, eps=None):
        v = [0.0] * dim
        v[i] = scale
        if eps is not None:
            v[(i + 1) % 4] = eps  # tiny off-axis noise for the near-copies
        return v

    rows = [
        (0, axis(0)), (1, axis(1)), (2, axis(2)), (3, axis(3)),  # anchors
        (4, axis(0, eps=0.01)),   # near-copy of 0 → dropped
        (5, axis(1, eps=0.02)),   # near-copy of 1 → dropped
        (6, [0.0] * 7 + [10.0]),  # orthogonal to all → kept
    ]
    emb = _with_norm(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    )
    got = {r.vec_id: r.keep for r in semdedup_flags(spark, emb).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 0, 5: 0, 6: 1}


def test_sample_temperature_thresholds_match_closed_form(spark):
    """Per-language acceptance thresholds must equal floor(sqrt(min_cnt /
    cnt) * 65536) computed from the corpus itself, and the rarest language
    must be kept in full (rate 1.0)."""
    import math

    ops = all_ops()
    rows = ops["sample_temperature"].build(spark, SF_DIR).collect()
    con = duckdb.connect()
    cnts = dict(
        con.sql(
            f"SELECT lang, count(*) FROM '{SF_DIR}/documents.parquet' GROUP BY lang"
        ).fetchall()
    )
    mn = min(cnts.values())
    expect_thr = {
        lang: math.floor(math.sqrt(mn / cnt) * 65536) for lang, cnt in cnts.items()
    }
    for r in rows:
        assert r.thr_65536 == expect_thr[r.lang]
        assert r.bucket < r.thr_65536
    rarest = min(cnts, key=lambda k: (cnts[k], k))
    assert expect_thr[rarest] == 65536
    kept_rarest = sum(1 for r in rows if r.lang == rarest)
    assert kept_rarest == cnts[rarest]  # rate 1.0 → nothing dropped


def test_token_budget_distributed_prefix_sum_matches_global_window(spark):
    """The bucketed two-stage cumsum must reproduce the global-window
    values EXACTLY, including at a budget boundary that splits a quality
    tie (doc_id breaks the tie), and the selected prefix must be maximal
    (the next doc in order would overflow the budget)."""
    from pdf_extractor_spark.operators.curation import select_token_budget

    # qualities span several buckets; docs 104/105 tie at 2.0 so the
    # boundary lands inside a tie; doc 106 must be the first excluded
    rows = [
        (101, 300, 9.1), (102, 250, 7.2), (103, 200, 3.9),
        (104, 150, 2.0), (105, 100, 2.0), (106, 400, 2.0),
        (107, 500, 0.4), (108, 50, -1.0),
    ]
    scored = spark.createDataFrame(rows, "doc_id long, tokens int, quality double")
    budget = 300 + 250 + 200 + 150 + 100  # through doc 105 exactly
    got = {
        r.doc_id: (r.tokens, r.cum_tokens)
        for r in select_token_budget(scored, budget=budget).collect()
    }
    # global-window reference computed by hand: order 101,102,103,104,105,106,...
    assert got == {
        101: (300, 300), 102: (250, 550), 103: (200, 750),
        104: (150, 900), 105: (100, 1000),
    }
    # maximality: doc 106 (next in order) would push cum to 1400 > budget
    assert 106 not in got and budget == 1000


def test_dsir_importance_prefers_target_domain(spark):
    """DSIR (Xie et al. 2023): raw docs written in the target slice's
    vocabulary must outscore off-domain docs, and the kept quartile must be
    exactly the top quartile by (logw, with the percentile cutoff applied
    identically to how the oracle applies it). The fixture fits p̂ on 10
    'medical' exemplars; the raw pool is 20 medical-voiced + 60
    legal-voiced docs."""
    import random

    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.curation import dsir_weights
    from pdf_extractor_spark.operators.textstats import hashed_ngram_features

    rng = random.Random(11)
    med = ("patient dosage clinical symptom therapy diagnosis chronic "
           "treatment trial remission").split()
    law = ("plaintiff statute hereby covenant liable jurisdiction clause "
           "indemnify tort appellate").split()
    rows = []
    for i in range(10):  # target exemplars (excluded from the pool)
        rows.append((i, " ".join(rng.choice(med) for _ in range(30)), True))
    for i in range(10, 30):  # in-domain raw docs
        rows.append((i, " ".join(rng.choice(med) for _ in range(30)), False))
    for i in range(30, 90):  # off-domain raw docs
        rows.append((i, " ".join(rng.choice(law) for _ in range(30)), False))
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    feats = hashed_ngram_features(df)
    target_ids = df.filter(F.col("doc_id") < 10).select("doc_id")
    weights = dsir_weights(spark, feats, target_ids)
    scored = (
        feats.join(target_ids, "doc_id", "left_anti")
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("wt").alias("logw"))
        .collect()
    )
    logw = {r.doc_id: r.logw for r in scored}
    assert set(logw) == set(range(10, 90))
    worst_med = min(v for k, v in logw.items() if k < 30)
    best_law = max(v for k, v in logw.items() if k >= 30)
    # clean separation: every medical doc outranks every legal doc
    assert worst_med > best_law, (worst_med, best_law)


def test_quality_signals_wide_hand_computed(spark, tmp_path):
    """Every signal column on a crafted doc matches hand arithmetic."""
    from pdf_extractor_spark.operators.textstats import quality_signals_wide

    spark.createDataFrame(
        [(1, "aa bb99 cc.", "en", "src0", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    r = quality_signals_wide(spark, str(tmp_path)).collect()[0]
    assert r.chars == 11
    assert r.words == 3
    assert r.bpe_tokens == 5  # aa / bb / 99 / cc / .
    assert r.stop_hits == 0 and r.stop_ratio == 0.0
    assert r.digit_ratio == round(2 / 11, 4)
    assert r.mean_word_len == 3.0  # 9 non-space chars / 3 words
    import math

    assert r.quality == round(math.log(12), 4)


def test_domain_mix_report_levels(spark, tmp_path):
    """ROLLUP emits leaf, per-lang subtotal, and grand-total rows whose
    counts are consistent — one aggregation pass, three levels."""
    from pdf_extractor_spark.operators.textstats import domain_mix_report

    rows = [
        (1, "w1 w2", "en", "srcA", 5),
        (2, "w1 w2 w3", "en", "srcB", 8),
        (3, "w1", "fr", "srcA", 2),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = domain_mix_report(spark, str(tmp_path)).collect()
    by_key = {(r.lang, r.source, r.lvl): r for r in out}
    assert by_key[("en", "srcA", 0)].docs == 1
    assert by_key[("en", "srcA", 0)].ws_tokens == 2
    assert by_key[("en", None, 1)].docs == 2
    assert by_key[("en", None, 1)].ws_tokens == 5
    assert by_key[(None, None, 3)].docs == 3
    assert by_key[(None, None, 3)].ws_tokens == 6
    assert len(out) == 3 + 2 + 1  # leaves + per-lang + grand total


def test_bigram_nll_hand_computed(spark, tmp_path):
    """Jelinek-Mercer interpolation on a 2-doc fixture matches hand math:
    p(a,b)=0.7*(2/2)+0.3*(2/5)=0.82, p(b,a)=0.7*(1/1)+0.3*(3/5)=0.88."""
    import math

    from pdf_extractor_spark.operators.textstats import text_bigram_nll

    spark.createDataFrame(
        [(1, "a b a", "en", "s", 5), (2, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in text_bigram_nll(spark, str(tmp_path)).collect()}
    assert out[1].n_bigrams == 2
    assert out[2].n_bigrams == 1
    assert out[1].avg_nll == round((-math.log(0.82) - math.log(0.88)) / 2, 4)
    assert out[2].avg_nll == round(-math.log(0.82), 4)


def test_pq_adc_shortlist_rerank_recall(spark):
    """ann_pq_adc must recover a usable fraction of the brute-force cosine
    top-3 through its ADC shortlist + exact re-rank (IVFADC+R): pure ADC
    ranking measured 0.13 on this fixture (near-threshold neighbors drown
    in quantization distortion at M=4/K=4), the 30-deep shortlist + exact
    re-rank measures 0.53 at sf0.001 / 0.80 at sf0.01. Also pins the
    re-rank invariant: every returned neighbor ranks by EXACT cosine, so
    any true top-3 member that enters the shortlist is returned."""
    ops = all_ops()
    gt = ops["ann_cosine_topk"].build(spark, SF_DIR).toPandas()
    pq = ops["ann_pq_adc"].build(spark, SF_DIR).toPandas()
    gtp = set(zip(gt.query_id, gt.neighbor_id))
    got = set(zip(pq.query_id, pq.neighbor_id))
    recall = len(got & gtp) / len(gtp)
    print(f"PQ ADC+rerank recall@3: {recall:.2f}")
    assert recall >= 0.4  # sf0.001 measures 0.53, sf0.01 0.80
    # exactly top-3 per query, ranks 1..3
    assert (pq.groupby("query_id")["rank"].count() == 3).all()


def test_boilerplate_strip_pure_python_replay(spark):
    """Replay the jusText-lite rule in plain Python from the parquet text
    and require exact agreement on every column for the first 15 docs —
    independent of both the Spark HOF expressions and the DuckDB oracle."""
    import pandas as pd

    stops = {"the", "a", "of", "to", "and", "in"}
    got = (
        all_ops()["boilerplate_strip"].build(spark, SF_DIR).toPandas()
        .set_index("doc_id").sort_index()
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet").set_index("doc_id")
    import re
    for doc_id in list(got.index)[:15]:
        ws = re.split(r"[ \t\n\r\f\x0B]+", docs.loc[doc_id, "text"].strip())
        segs = [ws[i : i + 8] for i in range(0, len(ws), 8)]
        kept = [g for g in segs if len(g) >= 3 and any(w in stops for w in g)]
        assert got.loc[doc_id, "n_segments"] == len(segs)
        assert got.loc[doc_id, "n_kept"] == len(kept)
        assert got.loc[doc_id, "clean_text"] == " ".join(w for g in kept for w in g)


def test_corpus_diversity_hand_computed(spark):
    """Replay the diversity metrics in plain Python for two sources and a
    hand-built single-word-doc edge (the descending-sequence guard)."""
    import re

    import pandas as pd

    got = (
        all_ops()["corpus_diversity"].build(spark, SF_DIR).toPandas()
        .set_index("source").sort_index()
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    for source in list(got.index)[:2]:
        texts = docs[docs.source == source].text
        uni, big, tokens = set(), set(), 0
        for t in texts:
            ws = re.split(r"[ \t\n\r\f\x0B]+", t.strip())
            tokens += len(ws)
            uni.update(ws)
            big.update(f"{a} {b}" for a, b in zip(ws, ws[1:]))
        assert got.loc[source, "docs"] == len(texts)
        assert got.loc[source, "tokens"] == tokens
        assert got.loc[source, "distinct_unigrams"] == len(uni)
        assert got.loc[source, "distinct_bigrams"] == len(big)
        assert got.loc[source, "ttr"] == round(len(uni) / tokens, 6)


def test_corpus_diversity_single_word_doc(spark, tmp_path):
    """A 1-word document must contribute ZERO bigrams — sequence(0, -1)
    descends in Spark, so the bigram branch needs its explicit guard."""
    import pandas as pd

    d = str(tmp_path)
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["word", "alpha beta"], "source": ["s", "s"]}
    ).to_parquet(f"{d}/documents.parquet")
    got = all_ops()["corpus_diversity"].build(spark, d).toPandas().iloc[0]
    assert got.tokens == 3
    assert got.distinct_unigrams == 3
    assert got.distinct_bigrams == 1  # only "alpha beta"


def test_decontam_overlap_len_islands(spark, tmp_path):
    """Hand-built contamination shapes: a doc embedding a contiguous
    20-word benchmark span reports ONE run of exactly 20 words; a doc
    reusing one 8-word stock phrase in two separate places reports TWO
    runs of 8; an untouched doc reports nothing."""
    import pandas as pd

    bench_words = [f"b{i}" for i in range(20)]
    phrase = bench_words[:8]
    filler = lambda tag, n: [f"{tag}{i}" for i in range(n)]  # noqa: E731
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                " ".join(bench_words),  # benchmark doc (doc_id % 10 == 0)
                " ".join(filler("x", 5) + bench_words + filler("y", 5)),
                " ".join(phrase + filler("z", 6) + phrase),
                " ".join(filler("q", 30)),
            ],
        }
    )
    d = str(tmp_path)
    docs.to_parquet(f"{d}/documents.parquet")
    got = (
        all_ops()["decontam_overlap_len"].build(spark, d).toPandas()
        .set_index("doc_id")
    )
    # doc 1: grams at positions 5..17 all match -> one island, 13 grams,
    # run_words = 13 + 7 = 20 (the embedded span, exactly)
    assert got.loc[1, "n_runs"] == 1
    assert got.loc[1, "max_run_words"] == 20
    # doc 2: the 8-word phrase appears twice, separated by unique filler ->
    # two islands of 1 gram each, run_words = 8
    assert got.loc[2, "n_runs"] == 2
    assert got.loc[2, "max_run_words"] == 8
    # doc 3: clean
    assert 3 not in got.index


def test_winnow_positional_guarantee(spark, tmp_path):
    """Schleimer et al. 2003 guarantee: any shared substring of length >=
    k+w-1 chars shares at least one selected fingerprint. A 60-char span
    shared by two otherwise-different docs must surface exactly that pair;
    sub-k and sub-w docs must flow through their guard branches quietly."""
    import pandas as pd

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                f"alpha section opener {shared} omega tail words",
                f"completely different preamble {shared} closing remark",
                "zq zw ze zr zt zy zu zi zo zp zx zc zv zb zn zm",
                "tiny",  # < k chars -> zero grams branch
                "12345678x",  # k <= len < k+w-1 -> single-fingerprint branch
            ],
        }
    )
    d = str(tmp_path)
    docs.to_parquet(f"{d}/documents.parquet")
    got = all_ops()["dedup_winnow"].build(spark, d).toPandas()
    pairs = set(zip(got.da, got.db))
    assert (0, 1) in pairs
    assert got.set_index(["da", "db"]).loc[(0, 1), "shared_fps"] >= 2
    assert all(2 not in p and 3 not in p and 4 not in p for p in pairs)


def test_winnow_drops_overcommon_fingerprints(spark, tmp_path):
    """The MOSS stop-fingerprint rule: a span shared by MORE than
    _WIN_MAX_DF documents is boilerplate, not evidence — its fingerprints
    are dropped before pairing, so ten docs sharing ONLY a boilerplate
    footer produce zero candidate pairs (and the hot key that would make
    the pair join quadratic never reaches it)."""
    import pandas as pd

    from pdf_extractor_spark.operators.dedup import _WIN_MAX_DF

    n = _WIN_MAX_DF + 2
    boiler = "subscribe to our newsletter for updates and exclusive offers"
    docs = pd.DataFrame(
        {
            "doc_id": list(range(n)),
            "text": [f"{boiler} unique{i:03d}marker{i:03d}" for i in range(n)],
        }
    )
    d = str(tmp_path)
    docs.to_parquet(f"{d}/documents.parquet")
    got = all_ops()["dedup_winnow"].build(spark, d).toPandas()
    assert len(got) == 0


def test_vocab_oov_pure_python_replay(spark):
    """Replay vocab training (top-K by frequency, ties lexical) and
    per-source OOV/fertility scoring in plain Python over the real table;
    the report must also be non-degenerate (some tail IS out of vocab)."""
    import re
    from collections import Counter

    import pandas as pd

    from pdf_extractor_spark.operators.textstats import _VOCAB_K

    got = (
        all_ops()["vocab_oov_report"].build(spark, SF_DIR).toPandas()
        .set_index("source")
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cnt: Counter = Counter()
    per_source: dict = {}
    for _, r in docs.iterrows():
        ws = re.split(r"[ \t\n\r\f\x0B]+", r.text.strip().lower())
        cnt.update(ws)
        per_source.setdefault(r.source, []).extend(ws)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab = {w for w, _ in ranked[:_VOCAB_K]}
    for source, ws in per_source.items():
        toks = len(ws)
        oov = sum(1 for w in ws if w not in vocab)
        eff = sum(len(w) if w not in vocab else 1 for w in ws)
        row = got.loc[source]
        assert row.tokens == toks
        assert row.oov_tokens == oov
        assert row.effective_tokens == eff
        assert row.oov_rate == round(oov / toks, 6)
        assert row.fertility == round(eff / toks, 4)
    assert (got.oov_tokens > 0).any()


def test_vocab_oov_tiebreak_is_lexical(spark, tmp_path):
    """K+1 words all at frequency 1: the vocab is the K lexically smallest
    (the deterministic, engine-portable tie rule) — the lexically largest
    word is the one OOV token."""
    import pandas as pd

    from pdf_extractor_spark.operators.textstats import _VOCAB_K

    words = [f"a{i:02d}" for i in range(_VOCAB_K)] + ["zzz"]
    pd.DataFrame(
        {"doc_id": [0], "text": [" ".join(words)], "source": ["s"]}
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got = all_ops()["vocab_oov_report"].build(spark, str(tmp_path)).toPandas()
    row = got.iloc[0]
    assert row.tokens == _VOCAB_K + 1
    assert row.oov_tokens == 1
    assert row.effective_tokens == _VOCAB_K + len("zzz")


def test_vocab_growth_hand_computed(spark, tmp_path):
    """10 docs, one word each except doc 0 (two words): checkpoint k covers
    doc ids < k, so cumulative docs/tokens/vocab are hand-computable. Vocab
    counts each word at its FIRST occurrence only; repeats add tokens but
    not vocab."""
    import pandas as pd

    # doc 0: 'w0 w0' (repeat, 2 tokens 1 word); docs 1..9: one word each,
    # docs 5..9 repeat earlier words (no vocab growth past checkpoint 5).
    texts = ["w0 w0"] + [f"w{i}" for i in range(1, 5)] + ["w0", "w1", "w2", "w3", "w4"]
    pd.DataFrame({"doc_id": range(10), "text": texts}).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["vocab_growth"].build(spark, str(tmp_path)).toPandas()
    assert list(got.checkpoint) == list(range(1, 11))
    assert list(got.docs) == list(range(1, 11))
    assert list(got.tokens) == [2, 3, 4, 5, 6, 7, 8, 9, 10, 11]
    assert list(got.vocab) == [1, 2, 3, 4, 5, 5, 5, 5, 5, 5]
    # monotone, and the plateau drives beta down — the saturation signal
    assert got.heaps_beta.iloc[-1] < got.heaps_beta.iloc[4]


def test_bpe_fold_merges_left_to_right_nonoverlapping(spark):
    """Standard BPE within-round semantics: merging (a,a) over 'aaaa' gives
    [aa, aa] (left-to-right, non-overlapping — never [a, aa, a] or a triple),
    and 'aaa' gives [aa, a]."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.textstats import _bpe_merge_fold

    df = spark.createDataFrame([("aaaa",), ("aaa",), ("ba",), ("a",)], ["w"])
    toks = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    got = {
        r.w: r.m
        for r in df.select("w", _bpe_merge_fold(toks, "a", "a").alias("m")).collect()
    }
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaa"] == ["aa", "a"]
    assert got["ba"] == ["b", "a"]  # 'a' at end, no left partner
    assert got["a"] == ["a"]  # sub-2-token guard branch


def test_bpe_merges_hand_computed(spark, tmp_path):
    """Corpus 'abab abab ab': pair (a,b) appears 5 times weighted — round 1
    must merge it everywhere; round 2 then merges (ab, ab) inside 'abab'.
    Token counts after each round are hand-computable."""
    import pandas as pd

    pd.DataFrame(
        {"doc_id": [0, 1], "text": ["abab abab", "ab"]}
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got = all_ops()["bpe_merges"].build(spark, str(tmp_path)).toPandas()
    r1 = got.iloc[0]
    # word table: abab (cnt 2), ab (cnt 1) -> pair (a,b) weight 2*2+1=5
    assert (r1.pair_left, r1.pair_right, r1.merged) == ("a", "b", "ab")
    assert r1.pair_count == 5
    # after round 1: abab -> [ab, ab] (2 words * 2 toks * cnt 2 = 4), ab -> [ab] (1)
    assert r1.corpus_tokens == 5
    r2 = got.iloc[1]
    assert (r2.pair_left, r2.pair_right, r2.merged) == ("ab", "ab", "abab")
    assert r2.pair_count == 2
    assert r2.corpus_tokens == 3  # abab -> [abab] (cnt 2), ab stays (1)
    # afterwards no adjacent pairs remain anywhere -> early stop, 2 rows only
    assert len(got) == 2


def test_domain_reweight_upweights_hard_domain(spark, tmp_path):
    """One source full of corpus-rare words (high NLL under the corpus-
    trained unigram model) must get the largest mixture weight; the
    templated source drifts toward the smoothing floor; weights sum to 1
    and every domain keeps weight > 0 (no starvation)."""
    import pandas as pd

    rows = []
    for i in range(20):  # templated: same 4 words everywhere
        rows.append((i, "the cat sat down", "easy"))
    for i in range(20, 30):  # rare-word-heavy: every word unique
        rows.append((i, f"zq{i}a wx{i}b kj{i}c vn{i}d", "hard"))
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["domain_reweight"].build(spark, str(tmp_path)).toPandas()
        .set_index("source")
    )
    assert got.loc["hard"].weight > got.loc["easy"].weight
    assert got.loc["hard"].excess > 0 > got.loc["easy"].excess
    assert abs(got.weight.sum() - 1.0) < 1e-4
    assert (got.weight > 0).all()


def test_hard_negative_mining_picks_confusable_impostor(spark, tmp_path):
    """Hand-built 4-dim embeddings: the anchor's positive must be the
    closest SAME-label vector and its hard negative the closest DIFFERENT-
    label vector — not the farthest, and never itself."""
    import pandas as pd

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),   # anchor (vec_id < 8)
        (10, [0.9, 0.1, 0.0, 0.0], 7),  # same label, very close -> positive
        (11, [0.0, 1.0, 0.0, 0.0], 7),  # same label, orthogonal
        (20, [0.95, 0.05, 0.0, 0.0], 3),  # diff label, closest -> hard neg
        (21, [0.0, 0.0, 1.0, 0.0], 3),  # diff label, orthogonal (easy neg)
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    got = all_ops()["hard_negative_mining"].build(spark, str(tmp_path)).toPandas()
    r = got[got.query_id == 0].iloc[0]
    assert r.positive_id == 10
    assert r.negative_id == 20
    assert r.pos_sim > 0.9 and r.neg_sim > 0.9  # the impostor IS confusable


def test_split_leakage_flags_only_cross_split_dups(spark, tmp_path):
    """Sources 'alpha'/'gamma' hash to val, 'beta'/'delta' to train (md5
    top byte < 64). A near-dup pair crossing the boundary is reported once
    under the VAL doc; an equally-duplicated pair living entirely in train
    is not leakage and must stay silent."""
    import pandas as pd

    dup = ("the quick brown fox jumps over the lazy dog and then "
           "runs far away into the deep green forest tonight") * 2
    train_dup = ("completely different boilerplate sentence repeated "
                 "across two training documents for this fixture") * 2
    uniq = "qw er ty ui op as df gh jk zx cv bn md ke lw pz"
    rows = [
        (0, dup, "alpha"),        # val side of the leaked pair
        (1, dup, "beta"),         # train side of the leaked pair
        (2, train_dup, "beta"),   # train-train dup: not leakage
        (3, train_dup, "delta"),  # train-train dup: not leakage
        (4, uniq, "gamma"),       # clean val doc
    ]
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["split_leakage"].build(spark, str(tmp_path)).toPandas()
    assert list(got.val_doc) == [0]
    assert got.iloc[0].n_train_hits == 1
    assert got.iloc[0].first_train == 1


def test_mixture_plan_flags_unachievable_weights(spark, tmp_path):
    """The data-constrained guard: a domain the model finds hard but that
    has almost no tokens gets a high weight AND a repeat_risk flag (its
    epoch count blows past the cap); the large easy domain stays safe.
    Targets must sum to ~the budget and epochs must equal target/toks."""
    import pandas as pd

    from pdf_extractor_spark.operators.textstats import _MIX_BUDGET, _MIX_EPOCH_CAP

    rows = []
    for i in range(40):  # big templated domain
        rows.append((i, "the cat sat down on the mat again", "easy"))
    for i in range(40, 44):  # tiny rare-word domain -> high NLL, few tokens
        rows.append((i, f"zq{i}a wx{i}b", "hard"))
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["mixture_plan"].build(spark, str(tmp_path)).toPandas()
        .set_index("source")
    )
    assert abs(got.target_tokens.sum() - _MIX_BUDGET) <= len(got)  # rounding only
    for _, r in got.iterrows():
        assert r.epochs == round(r.target_tokens / r.toks, 4)
        assert r.repeat_risk == (r.epochs > _MIX_EPOCH_CAP)
    assert bool(got.loc["hard"].repeat_risk)
    assert got.loc["hard"].epochs > got.loc["easy"].epochs


def test_band_skew_stats_exposes_hot_bucket(spark, tmp_path):
    """Six identical docs hash into the same 4 band buckets (one per band):
    the report must show 4 buckets of size 6 inducing 4*15=60 candidate
    pairs, and the unique docs as size-1 buckets inducing zero."""
    import pandas as pd

    hot = "identical boilerplate footer text repeated across many documents"
    rows = [(i, hot) for i in range(6)]
    rows += [(10 + i, f"unique{i:02d} content marker {'x' * i} tail{i:02d}")
             for i in range(5)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["band_skew_stats"].build(spark, str(tmp_path)).toPandas()
        .set_index("bucket_size")
    )
    assert got.loc[6].n_buckets == 4
    assert got.loc[6].cand_pairs == 4 * 15
    assert got.loc[1].cand_pairs == 0


def test_bm25_ranks_rare_term_docs_first(spark, tmp_path):
    """BM25 sanity on a hand corpus: for a query containing a rare term,
    the doc concentrated on that term must outrank a long doc that
    mentions it once among much filler (the length normalization), and
    docs without any query term must not appear."""
    import pandas as pd

    # 'apple banana' will be the top-2 vocabulary (most frequent overall);
    # query 0 is exactly these two terms.
    rows = [
        (0, "apple apple apple banana banana"),          # focused -> top
        (1, "apple " + " ".join(f"f{i}" for i in range(40))),  # diluted
        (2, "banana banana apple apple"),                 # focused
        (3, " ".join(f"g{i}" for i in range(10))),        # no query terms
        (4, "apple banana apple banana apple banana"),    # focused
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["bm25_topk"].build(spark, str(tmp_path)).toPandas()
    q0 = got[got.query_id == 0]
    assert len(q0) == 3
    assert 3 not in set(q0.doc_id)  # no-match doc never retrieved
    assert 1 not in set(q0.doc_id)  # diluted single mention loses to focused docs
    assert (q0.score > 0).all()


def test_tfidf_keywords_finds_domain_terms(spark, tmp_path):
    """Words shared by every source have idf <= 0 and drop out; each
    source's distinctive vocabulary surfaces with rank ties lexical."""
    import pandas as pd

    rows = []
    for i in range(10):
        rows.append((i, "common filler words everywhere quantum quark", "physics"))
    for i in range(10, 20):
        rows.append((i, "common filler words everywhere enzyme protein", "biology"))
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["tfidf_keywords"].build(spark, str(tmp_path)).toPandas()
    phys = got[got.source == "physics"]
    bio = got[got.source == "biology"]
    # shared words (df = n_sources) have idf = ln(3/3) = 0 -> excluded
    assert set(phys.keyword) == {"quantum", "quark"}
    assert set(bio.keyword) == {"enzyme", "protein"}
    # equal tf/df -> tie -> lexical order
    assert list(phys.sort_values("rank").keyword) == ["quantum", "quark"]
    assert list(bio.sort_values("rank").keyword) == ["enzyme", "protein"]


def test_host_pagerank_centrality_and_mass(spark, tmp_path):
    """A host owning 45/50 doc_ids receives ~90% of the md5 link draws, so
    it must end with the top rank by a clear margin (edges are DISTINCT
    (src,dst) pairs, so the margin comes from in-link breadth — five small
    hosts each pointing at big — not raw draw multiplicity); fixed-point
    integer mass is conserved up to div-truncation (shares sum to just
    under 1); one row per host."""
    import pandas as pd

    rows = [(i, f"text {i}", "big.example") for i in range(45)]
    rows += [(45 + i, f"text {45 + i}", f"small{i}.example") for i in range(5)]
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["host_pagerank"].build(spark, str(tmp_path)).toPandas()
    assert len(got) == 6
    top = got.sort_values("rank_scaled", ascending=False).iloc[0]
    assert top.host == "big.example"
    small_max = got[got.host != "big.example"].rank_scaled.max()
    assert top.rank_scaled > 1.3 * small_max
    total = got.rank_share.sum()
    assert 0.999 <= total <= 1.0 + 1e-9


def test_crawl_budget_cap_floor_and_monotone(spark, tmp_path):
    """A hub host owning a third of the doc_ids exceeds its proportional
    share of the 10k-slot budget and must be clamped to the 500-slot
    politeness cap; leaf hosts stay uncapped, budgets are monotone in
    rank, and every host gets at least the 1-slot floor. (A few leaf
    hosts draw enough md5 in-links to hit the cap too — only the mix of
    capped and proportional hosts is asserted, not leaf-specific caps.)"""
    import pandas as pd

    rows = [(i, f"text {i}", "hub.example") for i in range(21)]
    rows += [(21 + i, f"text {21 + i}", f"leaf{i:02d}.example") for i in range(39)]
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["crawl_budget"].build(spark, str(tmp_path)).toPandas()
    assert len(got) == 40
    assert got.fetch_budget.between(1, 500).all()
    hub = got[got.host == "hub.example"].iloc[0]
    assert hub.fetch_budget == 500  # proportional share would exceed the cap
    assert (got.fetch_budget < 500).any()  # and not everyone is capped
    ordered = got.sort_values("rank_scaled")
    assert ordered.fetch_budget.is_monotonic_increasing


def test_length_quantiles_exact_ranks(spark, tmp_path):
    """Ten docs with word counts 1..10: target rank is ceil(p·n/100), the
    answer the smallest length whose cumulative count reaches it —
    p25→3, p50→5, p90→9, p99→10, all exact."""
    import pandas as pd

    rows = [(i, " ".join(f"w{j}" for j in range(i + 1))) for i in range(10)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["length_quantiles"].build(spark, str(tmp_path)).toPandas()
        .set_index("pct")
    )
    assert (got.n_docs == 10).all()
    for pct, rank, toks in [(25, 3, 3), (50, 5, 5), (90, 9, 9), (99, 10, 10)]:
        assert got.loc[pct].target_rank == rank
        assert got.loc[pct].toks_at == toks


def test_pack_efficiency_hand_computed(spark, tmp_path):
    """Three docs of 2/4/10 words at the grid's smallest ctx (128):
    nothing truncates (kept = min(toks,128) keeps all 16 tokens), pad
    waste is 3*128-16 = 368 filling each doc's sequence, and one
    concat-and-chunk sequence suffices — every number hand-reproducible."""
    import pandas as pd

    rows = [
        (0, "a b"),
        (1, "a b c d"),
        (2, " ".join(f"w{j}" for j in range(10))),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["pack_efficiency"].build(spark, str(tmp_path)).toPandas()
        .set_index("ctx")
    )
    r = got.loc[128]
    assert r.n_docs == 3 and r.total_toks == 16
    assert r.trunc_loss_toks == 0
    assert r.pad_waste_toks == 3 * 128 - 16
    assert r.seqs_concat == 1
    assert abs(r.pad_waste_frac - round(368 / 384, 4)) < 1e-9


def test_host_link_stats_degrees_and_reciprocity(spark, tmp_path):
    """Every host has its self-loop (degrees >= 1 both ways); a hub
    owning most doc_ids absorbs most draws, so its in-degree must top the
    table; reciprocal counts are symmetric in aggregate (each mutual pair
    contributes one to BOTH endpoints, so the total is even) and never
    exceed min(out,in) after the self-loop discount."""
    import pandas as pd

    rows = [(i, f"text {i}", "hub.example") for i in range(30)]
    rows += [(30 + i, f"text {30 + i}", f"leaf{i}.example") for i in range(10)]
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["host_link_stats"].build(spark, str(tmp_path)).toPandas()
    assert len(got) == 11
    assert (got.out_degree >= 1).all() and (got.in_degree >= 1).all()
    top = got.sort_values("in_degree", ascending=False).iloc[0]
    assert top.host == "hub.example"
    assert got.reciprocal_edges.sum() % 2 == 0
    assert (got.reciprocal_edges <= got[["out_degree", "in_degree"]].min(axis=1)).all()


def test_bitext_mine_margin_prunes_ambiguous(spark, tmp_path):
    """Margin semantics on a hand 4-dim fixture: a source with one clear
    English neighbor (cos 0.949 vs runner-up 0.316 -> margin 1.5) is
    kept; an equidistant source (two cos-0.707 candidates, margin 1.0)
    and a single-candidate source (margin 1 by construction) are both
    dropped — absolute cosine alone would have kept all three."""
    import pandas as pd

    docs = pd.DataFrame(
        [(0, "en text a", "en"), (1, "en text b", "en"),
         (10, "de text", "de"), (11, "fr text", "fr"), (12, "zh text", "zh")],
        columns=["doc_id", "text", "lang"],
    )
    docs.to_parquet(f"{tmp_path}/documents.parquet")
    embs = pd.DataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (10, [0.9, 0.3, 0.0, 0.0]),   # clear: t0 wins big
         (11, [0.7, 0.7, 0.0, 0.0]),   # ambiguous: t0 == t1
         (12, [0.05, 0.25, 0.0, 0.0])],  # single candidate (t0 under floor)
        columns=["vec_id", "embedding"],
    )
    embs.to_parquet(f"{tmp_path}/embeddings.parquet")
    got = all_ops()["bitext_mine"].build(spark, str(tmp_path)).toPandas()
    assert list(got.src_id) == [10]
    r = got.iloc[0]
    assert r.src_lang == "de" and r.tgt_id == 0
    assert abs(r.best_cos - 0.9487) < 1e-3
    assert abs(r.margin - 1.5) < 1e-3


def test_chunk_overlap_windows_and_tail(spark, tmp_path):
    """A 50-word doc at W=32/S=24 yields chunks at starts 0, 24, 48:
    words 1-32, 25-50 (26 words), and the 2-word tail — overlap means
    words 25-32 appear in BOTH of the first two chunks; a 5-word doc
    yields exactly one short chunk."""
    import pandas as pd

    long_doc = " ".join(f"w{j:02d}" for j in range(50))
    pd.DataFrame(
        [(0, long_doc), (1, "a b c d e")], columns=["doc_id", "text"]
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got = all_ops()["chunk_overlap"].build(spark, str(tmp_path)).toPandas()
    d0 = got[got.doc_id == 0].sort_values("chunk_idx")
    assert list(d0.n_words) == [32, 26, 2]
    assert d0.iloc[0].chunk_text.startswith("w00") and d0.iloc[0].chunk_text.endswith("w31")
    assert d0.iloc[1].chunk_text.startswith("w24")  # 8-word overlap with chunk 0
    assert d0.iloc[2].chunk_text == "w48 w49"
    d1 = got[got.doc_id == 1]
    assert len(d1) == 1 and d1.iloc[0].n_words == 5


def test_cross_source_dup_detects_syndication(spark, tmp_path):
    """Two sources republishing the same long article (plus a third with
    only unique content) must surface as exactly one hot (mirror-a,
    mirror-b) cell; same-source duplicates never count."""
    import pandas as pd

    article = (
        "breaking news the quick brown fox jumped over the lazy dog while "
        "the market rallied and analysts debated the implications for "
        "global trade policy throughout the afternoon session"
    )
    rows = [
        (0, article, "mirror-a.example"),
        (1, article, "mirror-b.example"),
        (2, article, "mirror-a.example"),  # same-source dup: must NOT count
        (3, "completely unrelated recipe for sourdough bread with rye flour "
            "and a long cold fermentation schedule", "solo.example"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["cross_source_dup"].build(spark, str(tmp_path)).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert (r.src_a, r.src_b) == ("mirror-a.example", "mirror-b.example")
    assert r.dup_pairs == 2  # (0,1) and (1,2) — distinct doc pairs, not bands


def test_text_char_entropy_separates_templated(spark, tmp_path):
    """Hand-verifiable entropy: 'aaaa' -> 0 bits; 'abab' -> 1 bit;
    'abcd' -> 2 bits; natural-ish prose lands well above the templated
    strings — the signal the op exists to provide."""
    import pandas as pd

    rows = [
        (0, "aaaa"),
        (1, "abab"),
        (2, "abcd"),
        (3, "The quick brown fox jumps over the lazy dog near the river."),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["text_char_entropy"].build(spark, str(tmp_path)).toPandas()
        .set_index("doc_id")
    )
    assert got.loc[0].entropy_bits == 0.0 and got.loc[0].distinct_chars == 1
    assert got.loc[1].entropy_bits == 1.0
    assert got.loc[2].entropy_bits == 2.0
    assert got.loc[3].entropy_bits > 3.5
    assert got.loc[3].chars == 59


def test_ngram_novelty_first_occurrence(spark, tmp_path):
    """Ten one-doc deciles: doc 0 introduces gram A (novelty 1.0); doc 5
    repeats A verbatim (novelty 0.0); doc 9 is fresh text (novelty 1.0);
    all other docs are sub-5-word and contribute no grams."""
    import pandas as pd

    a = "alpha beta gamma delta epsilon"          # exactly one 5-gram
    fresh = "zeta eta theta iota kappa"           # a different single gram
    rows = []
    for i in range(10):
        if i == 0 or i == 5:
            rows.append((i, a))
        elif i == 9:
            rows.append((i, fresh))
        else:
            rows.append((i, "too short"))
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["ngram_novelty"].build(spark, str(tmp_path)).toPandas()
        .set_index("decile")
    )
    assert list(got.index) == [0, 5, 9]
    assert got.loc[0].novelty == 1.0 and got.loc[0].new_grams == 1
    assert got.loc[5].novelty == 0.0 and got.loc[5].new_grams == 0
    assert got.loc[9].novelty == 1.0


def test_dup_cluster_sizes_accounts_every_doc(spark, tmp_path):
    """Six identical docs form one 6-cluster; two other identical docs a
    2-cluster; three unique docs are singletons — the histogram rows must
    account for every document exactly once and the dedup savings (docs
    minus clusters) must be 6-1 + 2-1 = 6."""
    import pandas as pd

    big = ("identical syndicated article body repeated across mirrors with "
           "enough length to shingle properly and collide in every band")
    small = ("another duplicated page with completely different wording "
             "but also long enough to produce stable minhash signatures")
    rows = [(i, big) for i in range(6)]
    rows += [(10, small), (11, small)]
    uniques = [
        "quarterly earnings rose sharply as cloud revenue beat analyst "
        "expectations across all regional segments this fiscal period",
        "the hiking trail winds through alpine meadows before descending "
        "into a narrow gorge carved by glacial meltwater streams",
        "preheat the oven then fold the sifted flour gently into the "
        "whipped egg whites until no dry streaks remain visible",
    ]
    rows += [(20 + i, t) for i, t in enumerate(uniques)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = (
        all_ops()["dup_cluster_sizes"].build(spark, str(tmp_path)).toPandas()
        .set_index("cluster_size")
    )
    assert got.loc[1].n_clusters == 3 and got.loc[1].n_docs == 3
    assert got.loc[2].n_clusters == 1 and got.loc[2].n_docs == 2
    assert got.loc[6].n_clusters == 1 and got.loc[6].n_docs == 6
    assert got.n_docs.sum() == 11
    savings = got.n_docs.sum() - (3 + 1 + 1)  # keep one per cluster
    assert savings == 6


def test_quality_by_rank_tiers_and_accounting(spark, tmp_path):
    """A hub host (most in-links) must land in the top tier; every host
    lands in exactly one tier and every non-empty doc is counted exactly
    once across tiers."""
    import pandas as pd

    rows = [(i, f"plain prose content item number {i} here", "hub.example")
            for i in range(30)]
    rows += [(30 + i, f"other text body {i} with words", f"leaf{i}.example")
             for i in range(10)]
    pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["quality_by_rank"].build(spark, str(tmp_path)).toPandas()
    assert got.hosts.sum() == 11
    assert got.docs.sum() == 40
    assert 0 in set(got.tier)  # the hub's rank clears 2x uniform share
    top = got[got.tier == 0].iloc[0]
    assert top.hosts >= 1 and top.docs >= 30  # hub docs concentrate on top


def test_near_dup_precision_exact_jaccard(spark, tmp_path):
    """Two identical docs must report Jaccard 1.0 (shared == union); a
    half-overlapping doc pair reports a mid Jaccard strictly between 0
    and 1 if LSH surfaces it; no candidate row may carry jaccard 0 with
    shared > 0 or shared > union."""
    import pandas as pd

    base = ("the shared article body text which is long enough to produce "
            "many stable shingles for exact jaccard computation purposes")
    rows = [
        (0, base),
        (1, base),  # identical twin -> jaccard 1.0
        (2, base + " plus an extra divergent tail of completely new words "
            "extending the document with fresh content"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = all_ops()["near_dup_precision"].build(spark, str(tmp_path)).toPandas()
    twin = got[(got.da == 0) & (got.db == 1)]
    assert len(twin) == 1 and twin.iloc[0].jaccard == 1.0
    assert (twin.iloc[0].shared == twin.iloc[0].union_sz)
    assert (got.shared <= got.union_sz).all()
    partial = got[(got.db == 2) | (got.da == 2)]
    if len(partial):
        assert ((partial.jaccard > 0) & (partial.jaccard < 1)).all()


def test_sample_reservoir_exact_k_and_partition_invariant(spark, tmp_path):
    """Exactly k rows, and the SAME k doc_ids regardless of input
    partitioning — the property that makes the sample reproducible on any
    cluster size."""
    import pandas as pd

    pd.DataFrame(
        [(i, f"text {i}") for i in range(400)], columns=["doc_id", "text"]
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got1 = set(
        all_ops()["sample_reservoir"].build(spark, str(tmp_path)).toPandas().doc_id
    )
    # rewrite the same table as 13 shuffled partitions
    spark.read.parquet(f"{tmp_path}/documents.parquet").repartition(13).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    got2 = set(
        all_ops()["sample_reservoir"].build(spark, str(tmp_path)).toPandas().doc_id
    )
    assert len(got1) == 50 and got1 == got2


def test_cohort_retention_hand_matrix(spark, tmp_path):
    """Two users, hand-dated events: u1 first seen day 0 and active on
    days 0/1/3 (two events on day 1 collapse to one active mark); u2
    first seen day 1, active day 1 only. The matrix must be exactly
    those cells."""
    import datetime
    import pandas as pd

    d = datetime.datetime
    rows = [
        (0, d(2024, 1, 1, 9), 1, "view", 1.0, "{}"),
        (1, d(2024, 1, 2, 9), 1, "view", 1.0, "{}"),
        (2, d(2024, 1, 2, 15), 1, "click", 1.0, "{}"),  # same day as above
        (3, d(2024, 1, 4, 9), 1, "view", 1.0, "{}"),
        (4, d(2024, 1, 2, 10), 2, "view", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark can't read NANOS
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    got = all_ops()["cohort_retention"].build(spark, str(tmp_path)).toPandas()
    cells = {
        (str(r.cohort_day), r.age_days): r.active_users for _, r in got.iterrows()
    }
    assert cells == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 3): 1,
        ("2024-01-02", 0): 1,
    }


def test_funnel_conversion_strict_order(spark, tmp_path):
    """Strict-sequence semantics on hand-dated users: u1 converts fully in
    order (depth 3); u2 clicked BEFORE first viewing (depth 1 — the
    ordering rule unordered funnels get wrong); u3 viewed+clicked but
    purchased before clicking (depth 2); u4 never viewed (depth 0)."""
    import datetime
    import pandas as pd

    d = datetime.datetime
    rows = [
        # u1: view < click < purchase
        (0, d(2024, 1, 1, 9), 1, "view", 1.0, "{}"),
        (1, d(2024, 1, 1, 10), 1, "click", 1.0, "{}"),
        (2, d(2024, 1, 1, 11), 1, "purchase", 1.0, "{}"),
        # u2: click at 8, first view at 9 -> stuck at depth 1
        (3, d(2024, 1, 1, 8), 2, "click", 1.0, "{}"),
        (4, d(2024, 1, 1, 9), 2, "view", 1.0, "{}"),
        # u3: view 9 < click 10, but purchase at 9:30 precedes click
        (5, d(2024, 1, 1, 9), 3, "view", 1.0, "{}"),
        (6, d(2024, 1, 1, 10), 3, "click", 1.0, "{}"),
        (7, d(2024, 1, 1, 9, 30), 3, "purchase", 1.0, "{}"),
        # u4: errors only
        (8, d(2024, 1, 1, 9), 4, "error", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    got = (
        all_ops()["funnel_conversion"].build(spark, str(tmp_path)).toPandas()
        .set_index("depth")
    )
    assert got.loc[0].users == 1
    assert got.loc[1].users == 1
    assert got.loc[2].users == 1
    assert got.loc[3].users == 1


def test_host_components_islands(spark, tmp_path):
    """The md5 draw only targets EXISTING doc_ids, so two doc-id islands
    with disjoint hosts cannot cross-link... except draws land anywhere
    in [0, max_id]. Instead pin the invariant properties: every host is
    in exactly one component, component labels are the lexical min of
    their members, and a single-host corpus is one singleton component."""
    import pandas as pd

    pd.DataFrame(
        [(i, f"text {i}", "only.example") for i in range(10)],
        columns=["doc_id", "text", "source"],
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got = all_ops()["host_components"].build(spark, str(tmp_path)).toPandas()
    assert len(got) == 1
    assert got.iloc[0].component == "only.example" and got.iloc[0].n_hosts == 1

    pd.DataFrame(
        [(i, f"text {i}", f"h{i % 7}.example") for i in range(40)],
        columns=["doc_id", "text", "source"],
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got = all_ops()["host_components"].build(spark, str(tmp_path)).toPandas()
    assert got.n_hosts.sum() == 7  # every host in exactly one component
    # each component label is a member host (lexical min) of that component
    assert set(got.component).issubset({f"h{i}.example" for i in range(7)})


def test_event_value_quantiles_grouped_exact(spark, tmp_path):
    """Two types with hand-set values: type A has values 1..10 (p50 -> 5,
    p95 -> 10); type B has a single repeated value (both quantiles equal
    it); ranks follow ceil(p*n/100) exactly."""
    import datetime
    import pandas as pd

    ts = datetime.datetime(2024, 1, 1)
    rows = [(i, ts, 1, "a", float(i + 1), "{}") for i in range(10)]
    rows += [(100 + i, ts, 2, "b", 7.5, "{}") for i in range(4)]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    got = (
        all_ops()["event_value_quantiles"].build(spark, str(tmp_path)).toPandas()
        .set_index(["event_type", "pct"])
    )
    assert got.loc[("a", 50)].value_at == 5.0
    assert got.loc[("a", 50)].target_rank == 5
    assert got.loc[("a", 95)].value_at == 10.0  # ceil(9.5) = 10th of 10
    assert got.loc[("b", 50)].value_at == 7.5
    assert got.loc[("b", 95)].value_at == 7.5
