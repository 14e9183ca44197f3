"""Benchmark harness (driver contract).

Two parts, one JSON line on stdout:

1. **Extraction throughput at two parallelism levels** — the BASELINE.json
   headline metric. A pages table (deterministic synthesizer, seed 42,
   heft-5 ≈ 10 KB pages) is written to parquet ONCE, then the full
   extraction job (scan → resume filter → Arrow kernel on scan splits →
   bucket rebalance → partitioned write → control commit) runs against it
   at local[2] and local[8] — the sandbox stand-in for N vs 4N executors
   per the driver instruction. The pair sits low because a mapInPandas
   task keeps ~2 cores busy (JVM I/O + Python kernel worker) and the
   shared hypervisor throttles ~22% at full machine load (pure-CPU burn:
   32 procs reach only 3.13× the throughput of 8), which would corrupt the
   scaling measurement at higher pairs. Each level runs `reps` warmed
   back-to-back runs; min wall per level is reported (steal noise is
   one-sided). Scaling efficiency = throughput_4N / (4 × throughput_N).
   A separate peak run at half the machine's slots reports max throughput.

2. **Headline relational queries** at $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1): representative operators from SURVEY.md §2 plus
   the training-data suite (minhash dedup, ANN top-k, text quality).

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default os.cpu_count()),
BENCH_EXTRACT_DOCS (default 200000), BENCH_DOC_HEFT (default 5),
BENCH_WORK_DIR (default /dev/shm/pdf_extractor_bench).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
N_DOCS = int(os.environ.get("BENCH_EXTRACT_DOCS", "200000"))
# heft=5 → ~10 KB avg page, Common-Crawl-realistic; tests use heft=1 (~2 KB)
HEFT = int(os.environ.get("BENCH_DOC_HEFT", "5"))
SEED = 42
_DEFAULT_WORK = "/dev/shm/pdf_extractor_bench" if os.path.isdir("/dev/shm") else "/tmp/pdf_extractor_bench"
WORK = os.environ.get("BENCH_WORK_DIR", _DEFAULT_WORK)

# Headline query subset: one per operator family (full inventory is checked
# for correctness by the driver via __spark_entry__.queries()).
HEADLINE_QUERIES = [
    "a2_pricing_summary",   # grouped aggregation over lineitem (q1 analog)
    "j3_resume_skip",       # control-table resume anti-join core
    "j6_full_outer_compare",  # golden-vs-extracted full-outer classification
    "w1_reading_order",     # window: reading-order reconstruction analog
    "dedup_exact",          # exact dedup over documents
    "dedup_lines",          # line-level corpus dedup (CCNet pass, round 4)
    "dedup_minhash_lsh",    # MinHash+LSH near-dup over documents
    "dedup_components",     # LSH pairs → transitive clusters (iterative)
    "dedup_substring_strip",  # exact-substring span removal (Lee et al., round 5)
    "dedup_incremental",    # snapshot band-state dedup (round 5)
    "ann_cosine_topk",      # brute-force cosine top-k over embeddings
    "ann_ivf_probe",        # IVF-bucketed ANN (the scale path)
    "ann_ivf_trained",      # Lloyd-trained IVF (training + probe, round 4)
    "emb_near_dup_bucketed",  # cosine near-dup pairs inside LSH buckets
    "emb_near_dup_multiband",  # 48-band union (the recall-knob scale path)
    "semdedup",             # trained-cluster semantic dedup (round 5)
    "ann_pq_adc",           # PQ codes + ADC shortlist + exact re-rank (round 5)
    "boilerplate_strip",    # jusText-lite row-local block strip (round 5)
    "corpus_diversity",     # per-source distinct-n diversity report (round 5)
    "decontam_overlap_len",  # contamination run lengths (round 5)
    "dedup_winnow",         # winnowing fingerprints, positional near-dup (round 5)
    "vocab_oov_report",     # in-job vocab + per-source OOV/fertility (round 5)
    "vocab_growth",         # Heaps-law vocabulary growth curve (round 5)
    "bpe_merges",           # in-job BPE merge training, 8 rounds (round 5)
    "domain_reweight",      # DoReMi-lite domain mixture weights (round 5)
    "hard_negative_mining",  # contrastive positive/hard-negative triples (round 5)
    "split_leakage",        # host-disjoint split leakage audit (round 5)
    "mixture_plan",         # epoch-capped domain sampling plan (round 5)
    "band_skew_stats",      # LSH bucket-skew telemetry (round 5)
    "bm25_topk",            # BM25 retrieval with in-job queries (round 5)
    "tfidf_keywords",       # per-source tf-idf fingerprint (round 5)
    "host_pagerank",        # fixed-point host-graph PageRank (round 5)
    "crawl_budget",         # politeness-capped fetch allocation (round 5)
    "length_quantiles",     # exact token-length quantiles (round 5)
    "pack_efficiency",      # packing waste per context length (round 5)
    "host_link_stats",      # link-graph degree/reciprocity telemetry (round 5)
    "bitext_mine",          # margin-based cross-lingual mining (round 5)
    "chunk_overlap",        # RAG overlapping word-window chunker (round 5)
    "cross_source_dup",     # cross-source syndication matrix (round 5)
    "text_char_entropy",    # char-distribution entropy signal (round 5)
    "ngram_novelty",        # per-decile novel 5-gram rate (round 5)
    "dup_cluster_sizes",    # cluster-size histogram incl. singletons (round 5)
    "quality_by_rank",      # rank-tier quality validation report (round 5)
    "near_dup_precision",   # exact-Jaccard audit of LSH candidates (round 5)
    "sample_reservoir",     # exact-k partition-invariant sample (round 5)
    "cohort_retention",     # first-seen cohort activity matrix (round 5)
    "funnel_conversion",    # strict-order funnel in one event pass (round 5)
    "host_components",      # host-graph weakly-connected islands (round 5)
    "event_value_quantiles", # grouped exact p50/p95 via type spines (round 5)
    "token_budget_select",  # distributed prefix-sum budget fill (round 5)
    "pack_sequences",       # md5-shuffle concat-and-chunk packing (round 5)
    "pack_windows",         # packed-sequence materialization (round 5)
    "sample_temperature",   # alpha=0.5 domain resampling (round 5)
    "text_quality",         # quality scoring over documents
    "text_unigram_nll",     # corpus-trained LM scoring (3-shuffle probe, round 4)
    "ccnet_buckets",        # per-lang perplexity terciles (CCNet, round 5)
    "text_quality_classifier",  # hashed-ngram trained scorer (round 5)
    "c4_filter_suite",      # C4 cleaning (scan/codegen-bound, round 4)
    "training_corpus_pipeline",  # filter → dedup → stats chain
    "t6_session_window",    # gap-based sessionization
]


def _new_spark(cores: int, tag: str):
    from pdf_extractor_spark.session import get_spark

    return get_spark(
        app_name=f"bench_{tag}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 16),
        # RAM-backed shuffle/spill dirs: the sandbox's virtual disk has
        # bursty throughput that would corrupt the scaling measurement
        extra_conf={"spark.local.dir": os.path.join(WORK, "spark_local")},
    )


def _ensure_pages(spark) -> str:
    """Write the bench pages table once; reuse across runs in one invocation."""
    path = os.path.join(WORK, f"pages_v8_{SEED}_{N_DOCS}_h{HEFT}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from pdf_extractor_spark.synth import pages_df

        shutil.rmtree(path, ignore_errors=True)
        pages_df(spark, N_DOCS, seed=SEED, num_partitions=CPUS * 4, heft=HEFT).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _run_extraction(cores: int, pages_path: str, reps: int = 3) -> dict:
    """Full extraction job at `cores` parallelism; best of `reps` warmed runs.

    One session per level, warmed with a tiny job first (python-worker spawn
    + JIT are per-cluster setup costs, not steady-state throughput); each rep
    starts from fresh output + control dirs. Best-of is reported because the
    sandbox hypervisor steals CPU in one-sided bursts.
    """
    from pdf_extractor_spark.pipeline import run_extraction
    from pdf_extractor_spark.synth import pages_df

    spark = _new_spark(cores, f"extract_p{cores}")
    best = None
    rep_walls: list[float] = []
    try:
        warm_out, warm_ctl = os.path.join(WORK, "warm_out"), os.path.join(WORK, "warm_ctl")
        shutil.rmtree(warm_out, ignore_errors=True)
        shutil.rmtree(warm_ctl, ignore_errors=True)
        run_extraction(spark, pages_df(spark, 2000, num_partitions=cores), warm_out, warm_ctl)

        pages = spark.read.parquet(pages_path)
        for _ in range(reps):
            out = os.path.join(WORK, f"out_{cores}")
            ctl = os.path.join(WORK, f"control_{cores}")
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(ctl, ignore_errors=True)
            t0 = time.time()
            stats = run_extraction(spark, pages, out, ctl)
            wall = time.time() - t0
            rep_walls.append(round(wall, 2))
            if best is None or wall < best[0]:
                best = (wall, stats)
    finally:
        spark.stop()
    wall, stats = best
    return {
        "cores": cores,
        "wall_sec": round(wall, 2),
        # every rep's wall time, in run order — the artifact itself shows
        # whether a slow best-of came from a throttle window (round-3
        # verdict #7: the noise claim must be auditable from BENCH_rN.json,
        # not trusted from BASELINE.md prose)
        "rep_walls_sec": rep_walls,
        "docs": stats.docs_processed,
        "docs_per_sec": round(stats.docs_processed / wall, 1),
        "mb_per_sec": round(stats.bytes_parsed / wall / 1e6, 2),
        "parse_failures": stats.parse_failures,
    }


def main() -> int:
    os.makedirs(WORK, exist_ok=True)

    # -- part 1: extraction scaling bench (low parallelism first, then high)
    cached = os.path.join(WORK, f"pages_v8_{SEED}_{N_DOCS}_h{HEFT}")
    if os.path.exists(os.path.join(cached, "_SUCCESS")):
        pages_path = cached  # skip JVM startup when the table is cached
    else:
        spark = _new_spark(CPUS, "synth")
        try:
            pages_path = _ensure_pages(spark)
        finally:
            spark.stop()

    # A mapInPandas task keeps ~2 cores busy (JVM I/O thread + Python kernel
    # worker), so local[N] consumes ~2N cores; the pair (N, 4N) must fit the
    # machine at the HIGH end or the 4N run is throttled and the efficiency
    # number measures the hypervisor, not the job: (2, 8) → ≤16 busy cores.
    lo_cores = max(1, CPUS // 16)  # 2 on the 32-core sandbox
    hi_cores = max(2, CPUS // 4)   # 8
    ratio = hi_cores / lo_cores    # 4 on the sandbox; the max() clamps can
    # Best-of-reps per level; throttle noise is ONE-SIDED (steal only slows
    # runs), so best-of-N converges to the true value from below at both
    # levels. The levels run in INTERLEAVED blocks (lo, hi, lo, hi) several
    # minutes apart: the sandbox's throttle windows last minutes, long
    # enough to cover one level's whole back-to-back rep set (observed:
    # every hi rep of a run slowed while the surrounding lo and peak runs
    # were clean → a bogus 0.78), but not both blocks of both levels.
    # The hi level gets more total reps — it suffers proportionally more
    # under steal (16 busy cores vs 4).
    # peak throughput: half the machine's slots (= all cores busy with the
    # 2-process-per-task model); not part of the efficiency pair. The peak
    # leg is interleaved with the others for the same reason the pair is —
    # a round-4 run caught its single end-of-bench block entirely inside a
    # throttle window (reps [33.7, 96.2] vs 15.9 clean the round before).
    peak_cores = max(hi_cores, CPUS // 2)
    run_peak = peak_cores > hi_cores

    lo_a = _run_extraction(lo_cores, pages_path, reps=2)
    hi_a = _run_extraction(hi_cores, pages_path, reps=3)
    peak_a = _run_extraction(peak_cores, pages_path, reps=2) if run_peak else None
    lo_b = _run_extraction(lo_cores, pages_path, reps=2)
    hi_b = _run_extraction(hi_cores, pages_path, reps=3)
    peak_b = _run_extraction(peak_cores, pages_path, reps=2) if run_peak else None
    lo = min(lo_a, lo_b, key=lambda r: r["wall_sec"])
    hi = min(hi_a, hi_b, key=lambda r: r["wall_sec"])
    # merge both interleaved blocks' rep walls so the JSON shows the full
    # run-order history per level (block A then block B)
    lo["rep_walls_sec"] = lo_a["rep_walls_sec"] + lo_b["rep_walls_sec"]
    hi["rep_walls_sec"] = hi_a["rep_walls_sec"] + hi_b["rep_walls_sec"]
    eff = hi["docs_per_sec"] / (ratio * lo["docs_per_sec"])
    if run_peak:
        peak = min(peak_a, peak_b, key=lambda r: r["wall_sec"])
        peak["rep_walls_sec"] = peak_a["rep_walls_sec"] + peak_b["rep_walls_sec"]
    else:
        peak = hi

    # -- part 2: headline relational queries at SF_DIR
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    missing = [n for n in HEADLINE_QUERIES if n not in qs]
    if missing:  # a rename must fail loudly, not silently shrink the bench
        raise SystemExit(f"headline queries missing from registry: {missing}")

    spark = _new_spark(CPUS, "queries")
    times: dict[str, float] = {}
    try:
        # warm the session (worker spawn + JIT) so the first timed query
        # isn't inflated by one-time setup, same policy as part 1
        qs[HEADLINE_QUERIES[0]](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        for name in HEADLINE_QUERIES:
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            # noop sink evaluates EVERY column; a count() would let Catalyst
            # prune the very projections being measured
            df.write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
            print(f"# {name}: {times[name]}s", file=sys.stderr)
    finally:
        spark.stop()

    try:
        sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    except ValueError:  # SF dir without an sf<number> name
        sf = 0.0
    total = round(sum(times.values()) + lo["wall_sec"] + hi["wall_sec"], 2)
    result = {
        "metric": "extraction+headline-queries wall clock",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "extract_docs": N_DOCS,
        "extract_p%d" % lo_cores: lo,
        "extract_p%d" % hi_cores: hi,
        "extract_peak_p%d" % peak_cores: peak,
        "docs_per_sec": peak["docs_per_sec"],
        "scaling_efficiency_%dto%d" % (lo_cores, hi_cores): round(eff, 3),
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
