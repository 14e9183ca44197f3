"""Physical-plan audits: the plans we designed are the plans Spark runs.

Each assertion pins a scale property from SURVEY.md §4.2 / the pipeline
docstring: column pruning into the scan, predicate pushdown, broadcast of
dim sides, no shuffle before the extraction kernel, and the write's rebalance
placed AFTER it.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    # full formatted explain including scan details (ReadSchema, PushedFilters)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_kernel_scan_is_pruned(spark, tmp_path):
    """The kernel path must read ONLY (url, html) from the pages table —
    `text` (~half the table bytes) never leaves the parquet reader."""
    from pdf_extractor_spark.kernel.spark_kernel import run_kernel
    from pdf_extractor_spark.synth import pages_df

    path = str(tmp_path / "pages")
    pages_df(spark, 50, num_partitions=1).write.parquet(path)
    plan = _formatted(run_kernel(spark.read.parquet(path)))
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "url" in read_schema and "html" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema


def test_kernel_runs_before_any_shuffle(spark, tmp_path):
    """pipeline.py stage order: no Exchange and no join below the Arrow
    kernel — the resume check is a literal-set Filter on partition_id right
    over the scan, and the only shuffle moves the kernel OUTPUT to the
    bucket-rebalanced write."""
    from pdf_extractor_spark import control as ctl
    from pdf_extractor_spark.pipeline import _MetricsRow, with_partition_id
    from pdf_extractor_spark.kernel.spark_kernel import (
        EXTRACTED_SCHEMA, extract_batches,
    )
    from pdf_extractor_spark.synth import pages_df

    path = str(tmp_path / "pages")
    pages_df(spark, 50, num_partitions=1).write.parquet(path)
    pages_b = with_partition_id(spark.read.parquet(path), 16)
    control_dir = str(tmp_path / "control")
    ctl.append_commits_rows(
        [_MetricsRow(p, 1, 10, 0, 0) for p in range(12)], control_dir, n_buckets=16
    )
    committed, _ = ctl.committed_ids(spark, control_dir, 16)
    todo = pages_b.filter(~F.col("partition_id").isin(sorted(committed)))
    extracted = todo.select("partition_id", "url", "html").mapInPandas(
        extract_batches, schema="partition_id int, " + EXTRACTED_SCHEMA
    )
    plan = _plan(extracted)
    pages_side = plan[plan.index("MapInPandas"):]
    assert "Exchange" not in pages_side  # neither shuffle nor broadcast
    assert "Join" not in pages_side
    assert "FileScan parquet" in pages_side  # kernel feeds straight off the scan
    # the partition_id expression is inlined into the Filter; 12 ids exceed
    # the optimizer's 10-item threshold, so the In becomes a hashed InSet
    resume = [l for l in pages_side.splitlines() if "Filter" in l][0]
    assert "pmod(xxhash64(url" in resume and "16)" in resume, resume
    assert "INSET " + ", ".join(sorted(map(str, committed))) in resume, resume
    # the write's rebalance sits ABOVE the kernel
    plan2 = _plan(extracted.hint("rebalance", 4, "partition_id"))
    assert plan2.index("Exchange") < plan2.index("MapInPandas")


def test_dead_letter_sample_is_a_jvm_filter(spark, tmp_path):
    """The dead-letter sample over the read-back output reads the kernel's
    error_class column: a filter and a per-bucket window over the scan, with
    no Python node, so the kernel runs once per document. The scan skips
    the text, and the cap applies on the map side before the one shuffle."""
    from pdf_extractor_spark.pipeline import OUTPUT_SCHEMA, dead_letter_sample, run_extraction
    from pdf_extractor_spark.synth import pages_df

    out = str(tmp_path / "out")
    run_extraction(spark, pages_df(spark, 50, num_partitions=1), out, str(tmp_path / "ctl"), 4)
    plan = _plan(dead_letter_sample(spark.read.schema(OUTPUT_SCHEMA).parquet(out)))
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert "FileScan parquet" in plan and "isnotnull(error_class" in plan, plan
    assert "hashpartitioning(partition_id" in plan, plan
    assert "extracted_text" not in plan, plan
    # the per-bucket cap runs map-side too: the shuffle moves ≤ cap rows per
    # bucket per task, not every failure
    assert plan.index("Exchange") < plan.index("row_number(), 20, Partial"), plan


def test_filter_pushdown_reaches_scan(spark):
    """A filtered parquet read must show PushedFilters on the scan node."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
        F.col("l_quantity") > 49
    )
    plan = _formatted(li)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_quantity" in pushed[0]


def test_dim_join_broadcasts(spark):
    """j7: the part dim side must broadcast — no shuffle of lineitem."""
    from pdf_extractor_spark.operators.registry import all_ops

    df = all_ops()["j7_broadcast_dim"].build(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    """o4 suite: both limit legs must plan TakeOrderedAndProject, not a full
    sort."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["o4_limit_suite"].build(spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 2


def test_aqe_splits_skewed_join(spark):
    """The 100 TB backstop for residual skew (SURVEY §4.2 / §5.2): with AQE
    on, a join whose shuffle has one hot key gets skew-split at runtime —
    the FINAL adaptive plan marks the join skew=true. Thresholds are
    lowered so toy data exhibits the same behavior a hot host would at
    scale; the engine's session config (session.py) ships skewJoin enabled."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # AQE's RUNTIME broadcast re-plan would otherwise turn the tiny build
        # side into a BHJ and sidestep the skew machinery we're pinning
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        a = spark.range(60000).select(
            F.when(F.col("id") < 50000, 0).otherwise(F.col("id") % 7 + 1).alias("k"),
            F.col("id").alias("va"),
            F.lit("x" * 64).alias("pada"),
        )
        b = spark.range(2000).select(
            (F.col("id") % 8).alias("k"),
            F.col("id").alias("vb"),
            F.lit("y" * 64).alias("padb"),
        )
        joined = a.join(b, "k")
        # materialize via a JVM-side count over the SAME QueryExecution —
        # 15M join rows never reach the driver, and no downstream operator
        # imposes a distribution requirement that would veto the skew split
        n = joined._jdf.queryExecution().executedPlan().execute().count()
        assert n == 60000 * 250
        plan = _plan(joined)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan  # runtime skew split actually happened
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dedup_components_result_is_distributed(spark):
    """dedup_components must never materialize clusters on the driver:
    cluster count is O(corpus), so the returned plan must be a distributed
    (checkpointed) scan — not a LocalTableScan re-parallelized from a
    driver-side collect()."""
    from pdf_extractor_spark.operators.registry import all_ops

    df = all_ops()["dedup_components"].build(spark, SF_DIR)
    plan = _plan(df)
    assert "LocalTableScan" not in plan
    # localCheckpoint scans executor block storage
    assert "ExistingRDD" in plan or "Scan" in plan


def test_url_filter_blocklist_is_broadcast(spark):
    """url_quality_filter: the domain blocklist (multi-million rows in
    production) probes via BroadcastHashJoin — the corpus side must never
    sort-merge to check a membership list."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["url_quality_filter"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_shuffle_shard_window_partitioned_by_shard(spark):
    """shuffle_shard: position assignment runs as a window PARTITIONED by
    shard (independent per-shard sorts), never a single global sort — the
    shape that scales by raising shard count."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["shuffle_shard"].build(spark, SF_DIR))
    assert "Window" in plan
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_probe_sides_broadcast(spark):
    """url_seen_bloom: both bounded sides (≤m distinct positions, distinct
    prior urls for the truth bit) broadcast; the new-crawl side never
    shuffles to probe."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["url_seen_bloom"].build(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_keep_best_result_is_distributed(spark):
    """dedup_keep_best (round 5): same discipline as dedup_components —
    cluster keepers are O(corpus), so the returned plan must scan
    distributed (checkpointed) blocks, never a LocalTableScan
    re-parallelized from a driver collect()."""
    from pdf_extractor_spark.operators.registry import all_ops

    df = all_ops()["dedup_keep_best"].build(spark, SF_DIR)
    plan = _plan(df)
    assert "LocalTableScan" not in plan
    assert "ExistingRDD" in plan or "Scan" in plan


def test_bucketed_near_dup_pairs_join_on_bucket(spark):
    """emb_near_dup_bucketed's PAIR join must be a hash join on the bucket
    key (cosine + va<vb as residual condition), and the plan holds no
    nested-loop join at all: the signature is a row-local projection."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["emb_near_dup_bucketed"].build(spark, SF_DIR))
    # pair join: hash join keyed on the bucket aliases
    assert re.search(r"BroadcastHashJoin \[ba#\d+L?\], \[bb#\d+L?\]", plan) or re.search(
        r"ShuffledHashJoin \[ba#\d+L?\], \[bb#\d+L?\]", plan
    ) or re.search(r"SortMergeJoin \[ba#\d+L?\], \[bb#\d+L?\]", plan)
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_multiband_near_dup_joins_on_band_and_bucket(spark):
    """emb_near_dup_multiband: candidate generation must be an equi-join
    keyed on (band, bucket) — never a cartesian pair enumeration — and the
    plan holds no nested-loop join at all."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["emb_near_dup_multiband"].build(spark, SF_DIR))
    assert re.search(
        r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[r#\d+, bucket#\d+L?\]",
        plan,
    ), plan[:2000]
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan


def test_split_warc_reader_parallelism_is_range_count(spark, tmp_path):
    """The splittable WARC source must expose one task per byte range —
    parallelism decoupled from archive count (ONE archive, many ranges)."""
    from pdf_extractor_spark.sources import read_pages_warc, write_warc
    from pdf_extractor_spark.synth import synth_row

    d = tmp_path / "warc"
    d.mkdir()
    rows = [synth_row(42, i) for i in range(200)]
    write_warc(rows, str(d / "one-big.warc.gz"), gzip_members=True)
    df = read_pages_warc(spark, str(d), split_bytes=20_000)
    assert df.rdd.getNumPartitions() > 4  # one archive, many byte ranges
    assert df.count() == 200


def test_whole_stage_codegen_covers_scalar_ops(spark):
    """x1 suite: pure column expressions stay inside WholeStageCodegen."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["x1_scalar_suite"].build(spark, SF_DIR))
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan


def test_dedup_lines_strip_is_equijoin_no_window(spark):
    """strip_duplicate_lines (round 4): corpus-wide duplicate-line
    detection must be distinct → hash-groupBy on the line key with the
    strip as an equi-join back — never a corpus-wide Window over the line
    hash (same shuffle, no partial agg) and never a per-row Python UDF."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["dedup_lines"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan          # no per-row Python
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the dup-line strip joins on the normalized line key
    assert re.search(
        r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[norm#\d+\]", plan
    ), plan[:2000]
    # partial aggregation happens map-side before the line-key shuffle
    assert "partial_count" in plan or "HashAggregate" in plan


def test_ivf_trained_search_is_equijoin_on_cell(spark):
    """ann_ivf_trained (round 4): after Lloyd training, the SEARCH plan
    must have the same shape as the untrained IVF — cell assignment is
    row-local column arithmetic (centroid literals broadcast in the
    expression, no join), candidate generation is an equi-join on the
    cell id. No cartesian pair enumeration, no per-row Python."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["ann_ivf_trained"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[qc#\d+\]", plan
    ), plan[:2000]
    for m in re.finditer(r"BroadcastNestedLoopJoin BuildRight, (\w+)", plan):
        assert m.group(1) == "Cross"


def test_decontam_probe_is_broadcast_join(spark):
    """decontam_ngrams (round 4): the benchmark gram set is tiny relative
    to the corpus (an eval suite vs 10^12 docs), so the contamination
    probe must be a BROADCAST hash join on the gram hash — the corpus-side
    gram stream never shuffles to meet the benchmark. The only exchanges
    allowed are the per-doc hit aggregation and the bench-side distinct.
    No cartesian enumeration, no per-row Python."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["decontam_ngrams"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin \[h#\d+\]", plan), plan[:2000]


def test_pii_redact_is_single_codegen_stage_no_shuffle(spark):
    """pii_redact (round 4): detection + redaction are pure regexp column
    expressions — the plan must contain NO Exchange at all (the final
    orderBy is the sole allowed sort boundary) and no Python eval; the
    whole scrub rides one whole-stage-codegen pass over the scan."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["pii_redact"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    # rangepartitioning exchange for the deterministic orderBy is fine;
    # any hash exchange would mean an accidental aggregation/join
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_c4_filter_suite_is_row_local_no_hash_exchange(spark):
    """c4_filter_suite (round 4): line derivation + the C4 line/page rules
    are higher-order array expressions judged per page — the plan must
    contain no hash exchange (no accidental join/agg), no Python eval, and
    no cartesian product; the only exchange is the deterministic orderBy's
    range partitioning. This is the property that makes the pass linear in
    corpus bytes at 10^12 documents."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["c4_filter_suite"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_sample_stratified_is_pure_filter(spark):
    """sample_stratified (round 4): deterministic md5-bucket sampling must
    stay a filter over the scan — zero hash exchanges, zero Python — so a
    re-run (or a resume) reproduces the identical sample at any cluster
    size."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["sample_stratified"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_url_canonical_single_agg_exchange(spark):
    """url_canonical (round 4): canonicalization is row-local regex/array
    work — the ONLY hash exchange is the final recrawl-collapse groupBy
    (plus the deterministic orderBy's range partitioning). No Python, no
    cartesian product: the property that keeps the pass one-shuffle at
    10^12 urls."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["url_canonical"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning") <= 2  # partial+final of ONE agg
    assert "rangepartitioning" in plan


def test_host_stats_salted_two_stage_agg(spark):
    """host_stats_salted (round 4): the plan must show the salted two-stage
    shape — the FIRST hash exchange keyed on (host, salt) so a hot host
    spreads over 16 reducers, the SECOND on host alone merging ≤16 partial
    rows. This is the groupBy-skew defense AQE does not provide."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["host_stats_salted"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    ex = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("salt" in e and "host" in e for e in ex), ex
    assert any("salt" not in e and "host" in e for e in ex), ex


def test_substring_strip_is_equijoin_no_window(spark):
    """dedup_substring_strip (round 5): shared-gram detection is a
    hash-groupBy on the gram hash, the strip is an equi-join back on it,
    reassembly is a per-doc groupBy — never a corpus-wide Window, a
    cartesian pair join, or per-row Python."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["dedup_substring_strip"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    # strip joins on the 32-hex gram key
    assert re.search(
        r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[h#\d+\]", plan
    ), plan[:2000]
    assert "HashAggregate" in plan  # map-side partial agg before the shuffles


def test_quality_classifier_weights_broadcast(spark):
    """text_quality_classifier (round 5): the 256-row weight table must
    BROADCAST into the scoring join — the corpus side never shuffles to be
    scored; the only corpus-keyed exchange is the per-doc mean."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["text_quality_classifier"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # scoring joins against a broadcast side (the weight dim)
    assert "BroadcastHashJoin" in plan
    # training's bucket spine join also stays broadcast — no SortMergeJoin
    # should appear anywhere in this plan
    assert "SortMergeJoin" not in plan


def test_ccnet_buckets_cuts_broadcast_no_window(spark):
    """ccnet_buckets (round 5): the per-language tercile cutoffs (a
    handful of rows) must BROADCAST back onto the scored corpus, and the
    bucketing itself must be row-local — no Window, no global sort of the
    corpus by score, no per-row Python."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["ccnet_buckets"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # the cuts join is a broadcast; the corpus never shuffles to be bucketed
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_is_band_equijoins(spark):
    """dedup_incremental (round 5): both legs (new-vs-old state, new-vs-
    new) must be equi-joins on (band, band_key) — never a pairwise theta
    join over documents, never per-row Python."""
    import re

    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["dedup_incremental"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(
        r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[band#\d+L?, band_key#\d+\]",
        plan,
    ), plan[:2000]


def _subtrees(plan: str, node: str) -> list[list[str]]:
    """The lines below each `node` line of a plan tree string."""
    lines = plan.splitlines()

    def depth(line):
        m = re.match(r"((?:[: ]  )*)[:+]- ", line)
        return len(m.group(1)) // 3 if m else -1

    out = []
    for k, line in enumerate(lines):
        if node in line:
            d, sub = depth(line), []
            for below in lines[k + 1:]:
                if depth(below) <= d:
                    break
                sub.append(below)
            out.append(sub)
    return out


def test_multiband_signatures_arrow_no_inflation(spark):
    """Every query that projects embeddings onto a fixed matrix (LSH sign
    buckets, md5 band signatures, IVF cell ranks) does it in the one
    `_project` MapInPandas, straight over the embeddings scan: no
    per-(vec, dim) explode anywhere (no Generate), and no exchange or join
    below the projection. A self-join reads it once per side.
    emb_near_dup_multiband's candidate generation stays an equi-join keyed
    by (r, bucket)."""
    from pdf_extractor_spark.operators.registry import all_ops

    for name in (
        "ann_lsh_buckets",
        "emb_near_dup_bucketed",
        "emb_near_dup_multiband",
        "ann_ivf_probe",
        "ann_ivf_multiprobe",
    ):
        plan = _plan(all_ops()[name].build(spark, SF_DIR))
        assert "Generate" not in plan, name  # no posexplode row inflation
        projections = _subtrees(plan, "MapInPandas")
        assert projections, (name, plan[:2000])
        assert len(re.findall(r"MapInPandas project\(", plan)) == len(projections)
        for below in projections:
            text = "\n".join(below)
            assert "Exchange" not in text, name  # assignment never shuffles
            assert "Join" not in text, name
            assert "embeddings.parquet" in below[-1], name  # its only input
        if name == "emb_near_dup_multiband":
            assert "CartesianProduct" not in plan
            assert re.search(
                r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[r#\d+, bucket#\d+L?\]",
                plan,
            ), plan[:2000]


def test_semdedup_prune_is_equijoin_on_cell(spark):
    """SemDedup's pairwise prune must form candidates ONLY inside clusters
    (equi-join on the cell key) — never a cartesian/nested-loop over the
    corpus — and the cluster assignment must be the O(1)-plan broadcast
    literal, not a join against a centroid table."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["semdedup"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_budget_window_is_partitioned(spark):
    """The budget cumsum's Window must run partitioned by the quality
    bucket (distributed prefix sum), NEVER as a single-partition global
    window — the shape that cannot scale. The bucket-offset dim joins
    broadcast."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["token_budget_select"].build(spark, SF_DIR))
    assert "Window" in plan
    assert "hashpartitioning(qb" in plan
    assert "SinglePartition" not in plan


def test_pack_sequences_window_is_partitioned(spark):
    """pack_sequences (round 5): the packing cumsum's Window must run
    partitioned by the 256-way md5-prefix bucket (distributed prefix sum),
    never as a single-partition global window; the bucket-offset dim joins
    broadcast."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["pack_sequences"].build(spark, SF_DIR))
    assert "Window" in plan
    assert "hashpartitioning(kb" in plan
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_pack_windows_single_token_shuffle_no_global_sort(spark):
    """pack_windows (round 5): prefix sum partitioned by the md5-prefix
    bucket (never SinglePartition), window reassembly via ONE hash-groupBy
    on seq_id (no second Window, no per-row Python) — each token crosses
    the wire exactly once."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["pack_windows"].build(spark, SF_DIR))
    assert "hashpartitioning(kb" in plan
    assert "hashpartitioning(seq_id" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Window") == plan.count("WindowGroupLimit") + 1


def test_sample_temperature_rates_broadcast(spark):
    """The in-job per-language rate dim (~n_lang rows) must broadcast back
    onto the corpus scan; the only corpus-wide exchange is the tiny
    counting agg (partial rows, one per lang per task)."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["sample_temperature"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontam_fuzzy_bench_bands_broadcast(spark):
    """The fuzzy-decontam probe must broadcast the benchmark band table
    (tiny by construction: 4 rows/bench doc) so the corpus side never
    shuffles to probe — same plan property as the exact decontam pass."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["decontam_fuzzy"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_select_weights_and_cutoff_broadcast(spark):
    """dsir_select (round 5): the importance-weight dim (≤256 rows) and the
    1-row percentile cutoff must both BROADCAST — the corpus side never
    shuffles to be scored or thresholded; the corpus-keyed exchanges are
    the bucket-count fits and the per-doc sum. No SortMergeJoin anywhere,
    no Python, no cartesian row explosion (the 1-row cutoff joins via
    broadcast nested loop, which is fine)."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["dsir_select"].build(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_signals_wide_zero_shuffle(spark):
    """quality_signals_wide: the signal table is scan → ONE codegen
    projection — zero exchanges of any kind, zero Python."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["quality_signals_wide"].build(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    # `*(1)` = every operator fused into codegen stage 1, and no stage 2
    assert "*(1)" in plan and "*(2)" not in plan


def test_domain_mix_rollup_single_aggregation_pass(spark):
    """domain_mix_report: rollup plans as Expand + one partial+final hash
    aggregate — exactly ONE shuffle, not a union of three aggregations."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["domain_mix_report"].build(spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_bigram_nll_no_cartesian_no_python(spark):
    """text_bigram_nll: bigrams come from a row-local indexed array
    transform (a Generate, not a positional self-join); scoring joins are
    keyed; the only unkeyed join is the broadcast 1-row total."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["text_bigram_nll"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan


def test_pq_adc_encode_rowlocal_rerank_equijoin(spark):
    """ann_pq_adc's scale contract: PQ encoding + reconstruction are
    row-local against broadcast codebook literals (no shuffle, no join
    against a centroid table, no cartesian product); the only joins are
    the broadcast-query NLJ for the ADC scan and the vec_id equi-join
    that fetches exact vectors for the bounded Q x L re-rank — never a
    SortMergeJoin of the corpus against itself."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["ann_pq_adc"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 5-row query side, broadcast
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_boilerplate_strip_zero_exchange(spark):
    """boilerplate_strip is pure row-local array algebra: the physical
    plan must contain NO Exchange of any kind (the orderBy is presentation
    only at the driver gate; check the pre-sort plan), no join, no Python."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["boilerplate_strip"].build(spark, SF_DIR))
    assert "Join" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    # the ONLY exchange permitted is the rangepartitioning for the final
    # presentation sort — never a hashpartitioning shuffle
    assert "hashpartitioning" not in plan


def test_decontam_overlap_len_broadcast_and_partitioned_window(spark):
    """The run-length pass must keep the decontam scale contract: bench
    gram hashes BROADCAST (the corpus side never shuffles to probe) and
    the islands window partitioned by doc_id — never SinglePartition."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["decontam_overlap_len"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_winnow_pairs_are_fingerprint_equijoins(spark):
    """Winnowing's scale contract: fingerprint selection is row-local array
    algebra and candidate pairs come from equi-joins on the fingerprint
    key — no cartesian product, no Python, and the pair join keyed on fp."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["dedup_winnow"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning(fp" in plan


def test_vocab_scoring_probes_broadcast_vocab(spark):
    """The tokenizer-coverage contract: vocab training bounds driver rows
    via a global top-K (TakeOrdered, never a global sort) and scoring
    probes the BROADCAST vocab — the exploded corpus never sort-merges."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["vocab_oov_report"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrdered" in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_vocab_growth_windows_only_the_spine(spark):
    """The Heaps-curve contract: the corpus pays two hash aggs (first-
    occurrence and token counts); the cumulative window runs over the
    constant 10-row checkpoint spine, every join is a broadcast, and no
    sort-merge or Python touches the corpus."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["vocab_growth"].build(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(w" in plan  # first-occurrence agg is partial+final


def test_domain_reweight_scalars_broadcast(spark):
    """The reweighting contract: NLL training + per-source means are hash
    aggs; the corpus mean and the weight total are 1-row BROADCAST hints,
    never a corpus-wide window or a sort-merge of scalars."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["domain_reweight"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(word" in plan  # model training is partial+final
    assert "Window" not in plan


def test_hard_negative_mining_single_corpus_pass(spark):
    """The mining contract: anchors broadcast (NLJ against the tiny side is
    the right plan for theta self-exclusion), the corpus is scanned once,
    and both ranks come from ONE window keyed on (anchor, same-label)."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["hard_negative_mining"].build(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 2  # anchor slice + corpus, no third pass
    assert "hashpartitioning(query_id" in plan


def test_split_leakage_is_band_equijoin(spark):
    """The audit's scale contract: candidate pairs come from the (band,
    band_key) equi-join over the shared band table; the split column is
    row-local md5 — no cartesian, no Python, no corpus window."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["split_leakage"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning(band" in plan


def test_minhash_band_table_is_one_shuffle(spark):
    """The band table is one document's signature per id: all 12 minhashes
    are aggregates of ONE groupBy(doc_id), and the band keys a projection
    of them — one hash Exchange on doc_id, no shingle distinct, no
    per-(doc, band) collect_list."""
    from pdf_extractor_spark.operators.dedup import minhash_band_table

    plan = _plan(minhash_band_table(spark.read.parquet(f"{SF_DIR}/documents.parquet")))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(doc_id" in plan
    assert "collect_list" not in plan


def test_band_skew_stats_is_two_hash_aggs(spark):
    """Telemetry must be cheaper than the thing it guards: two hash aggs
    over the band table, no joins beyond the band construction, no Python,
    nothing windowed."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["band_skew_stats"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(band" in plan


def test_bm25_probes_are_broadcast(spark):
    """The posting-list contract: the corpus-sized tf table probes the tiny
    query/df/stats sides via broadcast and is never sort-merged; top-k is
    a window over matched docs only."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["bm25_topk"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(query_id" in plan


def test_tfidf_keywords_window_is_post_agg(spark):
    """tf-idf ranks the already-aggregated (source, term) table: the only
    window partitions by source AFTER the hash agg; the df side is
    broadcast."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["tfidf_keywords"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(source" in plan


def test_host_pagerank_rounds_are_checkpointed(spark):
    """The returned PageRank frame must scan the final round's pinned
    blocks — not replay 4 nested join+agg layers (lineage O(1), edge
    table paid once) — and clusters never collect to the driver."""
    from pdf_extractor_spark.operators.registry import all_ops

    df = all_ops()["host_pagerank"].build(spark, SF_DIR)
    plan = _plan(df)
    assert "LocalTableScan" not in plan
    assert "ExistingRDD" in plan or "Scan" in plan
    # the iteration itself ran checkpointed: no join remains in the plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_crawl_budget_allocation_is_row_local(spark):
    """Budget pricing joins ONE bounded 1-row total via broadcast onto the
    checkpointed rank frame — no sort-merge, no Python, no driver-side
    LocalTableScan of the host table."""
    from pdf_extractor_spark.operators.registry import all_ops

    df = all_ops()["crawl_budget"].build(spark, SF_DIR)
    plan = _plan(df)
    assert "LocalTableScan" not in plan
    assert "ExistingRDD" in plan or "Scan" in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_length_quantiles_window_is_on_spine_only(spark):
    """The cumulative window must run over the aggregated distinct-length
    spine (post hash-agg on toks), never the corpus; grid and total are
    broadcast; nothing sort-merges and no Python runs."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["length_quantiles"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(toks" in plan  # corpus collapses to the spine first
    assert "Window" in plan


def test_pack_efficiency_aggregates_on_spine(spark):
    """pack_efficiency must collapse the corpus to the distinct-length
    spine before the ctx grid fans anything out: hash agg on toks, a
    broadcast 3-row grid, no sort-merge join, no Python."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["pack_efficiency"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(toks" in plan


def test_host_link_stats_reciprocity_is_pair_equijoin(spark):
    """Reciprocity must be the (src,dst)=(dst,src) equi-join on the
    host-level edge table — never a cartesian or a per-row Python probe."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["host_link_stats"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning(src" in plan or "hashpartitioning(dst" in plan


def test_bitext_mine_source_shard_is_broadcast(spark):
    """The bounded source-language shard must broadcast against the
    English corpus (which is scanned once and never shuffles to be
    probed); the only window partitions by source; no Python runs."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["bitext_mine"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "hashpartitioning(src_id" in plan


def test_cross_source_dup_is_band_equijoin(spark):
    """The syndication matrix must form candidates ONLY via the
    (band, band_key) equi-join on the persisted-state-shaped band table —
    no cartesian, no Python, source rides along via a doc_id equi-join."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["cross_source_dup"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning(band" in plan


def test_chunk_overlap_is_row_local(spark):
    """The chunker must stay row-local array algebra inside codegen: no
    join of any kind, no Python, the only exchange is the output sort."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["chunk_overlap"].build(spark, SF_DIR))
    assert "Join" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning" not in plan  # rangepartitioning for the sort only


def test_text_char_entropy_partial_aggregates(spark):
    """The (doc, char) frequency agg must run partial+final (the explode
    inflation collapses map-side before the shuffle); no Python, no
    cartesian, no sort-merge join against the per-doc totals."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["text_char_entropy"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "hashpartitioning(doc_id" in plan


def test_ngram_novelty_no_corpus_window(spark):
    """Novelty must come from the first-occurrence trick (hash aggs on the
    gram key), never a window over the corpus; grams travel as md5 keys."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["ngram_novelty"].build(spark, SF_DIR))
    assert "Window" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(gh" in plan or "hashpartitioning(b" in plan


def test_dup_cluster_sizes_histogram_is_distributed(spark):
    """The histogram aggregates the O(clusters) checkpointed component
    table — no LocalTableScan of clusters, no Python; singletons come
    from two 1-row aggregates crossed in-plan."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["dup_cluster_sizes"].build(spark, SF_DIR))
    assert "LocalTableScan" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_quality_by_rank_no_global_window(spark):
    """Tiers are rank-value thresholds against the broadcast 1-row host
    count — the plan must contain NO window at all (a corpus-wide
    row_number ranking is the anti-pattern this shape avoids) and no
    Python; the only SinglePartition exchange allowed is the bounded
    1-row scalar aggregate."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["quality_by_rank"].build(spark, SF_DIR))
    assert "Window" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange SinglePartition") <= 1  # the host-count scalar


def test_near_dup_precision_verify_join_is_candidate_bounded(spark):
    """The exact-Jaccard verification must hang off the LSH candidate
    pairs (equi-joins only) — no cartesian, no Python; the shingle
    intersection joins on (db, s)."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["near_dup_precision"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    # the shingle-intersection agg shuffles on the candidate pair key
    assert "hashpartitioning(da" in plan


def test_sample_reservoir_is_take_ordered(spark):
    """Exact-k sampling must plan TakeOrderedAndProject (per-partition
    top-k + k-row merge), never a global sort exchange."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["sample_reservoir"].build(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_cohort_retention_is_two_hash_aggs(spark):
    """Cohort assignment is one hash agg + an equi-join back; the matrix a
    second hash agg — no windows, no cartesian, no Python."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["cohort_retention"].build(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning(user_id" in plan


def test_funnel_conversion_single_event_pass(spark):
    """The whole funnel must cost ONE pass over events (conditional-min
    hash agg with map-side partial) — no window, no self-join of the
    events table, no Python."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["funnel_conversion"].build(spark, SF_DIR))
    assert "Window" not in plan
    assert plan.count("FileScan parquet") == 1  # events scanned exactly once
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_host_components_result_is_distributed(spark):
    """Like dedup_components: the final component table must scan pinned
    executor blocks, never a driver LocalTableScan, with no Python."""
    from pdf_extractor_spark.operators.registry import all_ops

    df = all_ops()["host_components"].build(spark, SF_DIR)
    plan = _plan(df)
    assert "LocalTableScan" not in plan
    assert "ExistingRDD" in plan or "Scan" in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_event_value_quantiles_window_partitioned_by_type(spark):
    """The cumulative window must be PARTITIONED by event_type over the
    aggregated (type, value) spine — no SinglePartition window, no
    Python; events collapse in one hash agg first."""
    from pdf_extractor_spark.operators.registry import all_ops

    plan = _plan(all_ops()["event_value_quantiles"].build(spark, SF_DIR))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning(event_type" in plan
    assert "Exchange SinglePartition" not in plan
