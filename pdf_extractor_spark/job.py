"""spark-submit entry point for the extraction job.

    spark-submit --py-files pdf_extractor_spark.zip pdf_extractor_spark/job.py \
        --input /path/to/pages_parquet  (or --synth N to generate pages) \
        --output /path/out --control /path/control \
        [--n-buckets N]

Replaces the reference's `pdf-extractor <config> <in> <out>` console script
(reference: pyproject.toml:27, cli.py:63-124) with a cluster job: same
contract — process every input document, skip already-committed work,
write per-document extraction results — expressed as one Spark plan.

Exit code 0 and a one-line JSON summary on stdout (docs, bytes, failures,
wall-clock) so schedulers and the bench harness can parse the result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit puts the SCRIPT's dir on sys.path, not the repo root; make the
# package importable when run as `spark-submit pdf_extractor_spark/job.py`
# without --py-files (with --py-files this is a no-op).
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="PySpark main-content extraction job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir with pages table (url, warc_ts, html, text, lang)")
    src.add_argument("--input-files", metavar="DIR",
                     help="raw .html/.pdf files on disk (binaryFile source, recursive)")
    src.add_argument("--input-warc", metavar="DIR",
                     help="WARC archives (plain or Common-Crawl member-gzip; every "
                          "non-hidden file with .warc in its name, any case), a "
                          "path, a Hadoop URI or a Hadoop glob, read in byte ranges")
    p.add_argument("--warc-split-mb", type=int, default=None, metavar="MB",
                   help="with --input-warc: byte-range size in MB (default 128); "
                        "parallelism = archive bytes / range size, not archive "
                        "count")
    src.add_argument("--synth", type=int, metavar="N", help="synthesize N deterministic pages instead")
    p.add_argument("--seed", type=int, default=42, help="synthesizer seed (with --synth)")
    p.add_argument("--output", required=True, help="output parquet dir (partitioned by partition_id)")
    p.add_argument("--control", required=True, help="control-table parquet dir (checkpoint/lineage)")
    p.add_argument("--n-buckets", type=int, default=None,
                   help="url-hash partition count (default: the count stamped "
                        "in the control dir, or else the session's "
                        "spark.sql.shuffle.partitions)")
    p.add_argument("--enrich", metavar="DIR", default=None,
                   help="also write quality-enriched output (lang/tokens/quality_ok) to DIR")
    p.add_argument("--training-out", metavar="DIR", default=None,
                   help="also write chat-format JSONL training examples to DIR")
    p.add_argument("--min-examples", type=int, default=10,
                   help="fail if fewer training examples than this (with --training-out)")
    p.add_argument("--approved-xlsx", metavar="FILE", default=None,
                   help="reviewer workbook (3-row schema block; data rows "
                        "carry URL and APPROVED columns) gating which docs "
                        "become training examples (with --training-out)")
    p.add_argument("--export-warc", metavar="DIR", default=None,
                   help="re-export the INPUT pages as WARC archives to DIR "
                        "(one member-gzip file per partition + stdout manifest count)")
    p.add_argument("--corpus-out", metavar="DIR", default=None,
                   help="also build the deduplicated training corpus (quality "
                        "filter + exact text dedup) from the extraction output to DIR")
    p.add_argument("--redact-pii", action="store_true",
                   help="with --corpus-out: scrub emails/phones/IPs from the "
                        "corpus text (typed placeholders; drops span_offsets, "
                        "which would be stale after substitution)")
    p.add_argument("--strip-dup-spans", action="store_true",
                   help="with --corpus-out: remove cross-document duplicated "
                        "word spans (Lee et al. 2021 exact-substring dedup at "
                        "5-gram granularity) — each shared span survives only "
                        "in its min-url owner; drops span_offsets, which "
                        "would be stale after removal")
    p.add_argument("--dedup-state-in", metavar="DIR", default=None,
                   help="with --corpus-out: drop corpus docs whose MinHash "
                        "bands collide with a PRIOR snapshot's persisted band "
                        "table (incremental crawl dedup; old corpus text is "
                        "never re-read)")
    p.add_argument("--dedup-state-out", metavar="DIR", default=None,
                   help="with --corpus-out: write the surviving corpus's "
                        "MinHash band table to DIR for the next snapshot's "
                        "--dedup-state-in")
    p.add_argument("--temperature-lang", action="store_true",
                   help="with --corpus-out: resample the deduped corpus "
                        "toward the alpha=0.5 temperature-smoothed language "
                        "mixture (per-lang_guess rate sqrt(min/count), "
                        "deterministic md5(url) acceptance)")
    p.add_argument("--token-budget", type=int, metavar="N", default=None,
                   help="with --corpus-out: cap the corpus at N whitespace "
                        "tokens, keeping the best-quality docs first "
                        "(distributed prefix-sum budget fill over the final "
                        "shipped text)")
    p.add_argument("--dead-letter-out", metavar="DIR", default=None,
                   help="also write a capped per-bucket sample of failing "
                        "documents (url, error_class, payload_head) to DIR for "
                        "triage: a filter over the written output, no second "
                        "kernel pass (runs even on a fully-resumed job, where "
                        "this run's parse_failures counter is 0 but failures "
                        "exist in the data)")
    p.add_argument("--verify-readback", action="store_true",
                   help="audit mode: re-read written partitions and require exact "
                        "agreement with the kernel-side lineage counters")
    p.add_argument("--master", default=None, help="override spark master (default: env/local)")
    args = p.parse_args(argv)
    # a flag that acts only together with another one is a usage error
    # without it, never silently ignored
    for needed, given, flags in (
        ("--corpus-out", args.corpus_out, {
            "--redact-pii": args.redact_pii,
            "--strip-dup-spans": args.strip_dup_spans,
            "--dedup-state-in": args.dedup_state_in,
            "--dedup-state-out": args.dedup_state_out,
            "--temperature-lang": args.temperature_lang,
            "--token-budget": args.token_budget is not None,
        }),
        ("--training-out", args.training_out, {"--approved-xlsx": args.approved_xlsx}),
        ("--input-warc", args.input_warc, {"--warc-split-mb": args.warc_split_mb is not None}),
    ):
        stray = [flag for flag, on in flags.items() if on]
        if stray and not given:
            p.error("%s require(s) %s" % (", ".join(stray), needed))
    for flag, n in (("--warc-split-mb", args.warc_split_mb), ("--n-buckets", args.n_buckets)):
        if n is not None and n < 1:
            p.error("%s must be a positive number" % flag)

    from pdf_extractor_spark.pipeline import run_extraction
    from pdf_extractor_spark.session import get_spark
    from pdf_extractor_spark.synth import pages_df

    spark = get_spark(app_name="extract_job", master=args.master)
    # the Python workers import the package too: without --py-files they
    # find it only through PYTHONPATH, which Spark merges into theirs
    # (prepended: spark.executorEnv.PYTHONPATH lands in the same dict)
    env = spark.sparkContext.environment
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [_REPO_ROOT, env.get("PYTHONPATH")]))
    # under spark-submit the driver JVM already exists, so the session
    # builder's spark.driver.memory cannot apply — and local[*] runs
    # EVERYTHING in that one JVM. The stock 1g default OOMs large runs
    # (observed: --synth 2000000 at local[16]); warn early instead of
    # dying 2 minutes in. Fix: spark-submit --driver-memory 8g+.
    try:
        heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        if heap < 4 << 30 and "local" in spark.sparkContext.master:
            print(
                "warning: driver JVM heap is %.1f GiB; local-mode executors "
                "share it — pass --driver-memory to spark-submit for large "
                "inputs" % (heap / (1 << 30)),
                file=sys.stderr,
            )
    except Exception:
        pass  # diagnostics only — never block the job on introspection
    t0 = time.time()
    if args.input:
        pages = spark.read.parquet(args.input)
        missing = {"url", "html"} - set(pages.columns)
        if missing:
            print("error: input table missing required columns: %s" % sorted(missing), file=sys.stderr)
            return 2
    elif args.input_files:
        from pdf_extractor_spark.sources import read_pages_binary

        pages = read_pages_binary(spark, args.input_files)
    elif args.input_warc:
        from pdf_extractor_spark.sources import read_pages_warc

        split = {} if args.warc_split_mb is None else {"split_bytes": args.warc_split_mb << 20}
        try:
            pages = read_pages_warc(spark, args.input_warc, **split)
        except FileNotFoundError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
    else:
        pages = pages_df(spark, args.synth, seed=args.seed)

    from pdf_extractor_spark.control import BucketingMismatchError

    try:
        stats = run_extraction(
            spark,
            pages,
            args.output,
            args.control,
            n_buckets=args.n_buckets,
            verify_readback=args.verify_readback,
        )
    except BucketingMismatchError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 4
    if args.enrich:
        from pdf_extractor_spark.enrich import enrich_extracted

        # one extra codegen projection over the written output — quality
        # columns for the corpus-filter step, no second UDF pass
        enrich_extracted(spark.read.parquet(args.output)).write.mode("overwrite").parquet(
            args.enrich
        )

    if args.export_warc:
        from pyspark.sql import functions as F

        from pdf_extractor_spark.sources import export_pages_warc

        manifest = export_pages_warc(pages, args.export_warc).agg(
            F.count("*").alias("files"), F.sum("n_records").alias("records")
        ).collect()[0]
        print(
            "exported %d WARC files / %d records to %s"
            % (manifest.files, manifest.records or 0, args.export_warc),
            file=sys.stderr,
        )

    if args.corpus_out:
        from pdf_extractor_spark.pipeline import build_training_corpus

        cs = build_training_corpus(
            spark, args.output, args.corpus_out, redact_pii=args.redact_pii,
            strip_dup_spans=args.strip_dup_spans,
            dedup_state_in=args.dedup_state_in,
            dedup_state_out=args.dedup_state_out,
            temperature_lang=args.temperature_lang,
            token_budget=args.token_budget,
        )
        print(
            "corpus: %d in -> %d quality -> %d deduped%s%s%s%s%s (%s)"
            % (
                cs.docs_in, cs.docs_quality, cs.docs_corpus,
                ", %d PII redactions" % cs.pii_redactions if args.redact_pii else "",
                ", %d dup-span words stripped" % cs.dup_span_words_dropped
                if args.strip_dup_spans else "",
                ", %d recrawl dups dropped vs prior state" % cs.recrawl_dups_dropped
                if args.dedup_state_in else "",
                ", %d dropped by lang temperature" % cs.temperature_dropped
                if args.temperature_lang else "",
                ", %d dropped by token budget" % cs.budget_dropped
                if args.token_budget is not None else "",
                args.corpus_out,
            ),
            file=sys.stderr,
        )

    # gate on the flag alone: stats.parse_failures counts only partitions
    # newly extracted THIS run, so a resumed job would silently skip triage
    # even though failures exist in the data (round-3 ADVICE);
    # dead_letter_sample yields an empty result when nothing fails. Buckets
    # written before error_class existed read it as null under OUTPUT_SCHEMA.
    if args.dead_letter_out:
        from pdf_extractor_spark.pipeline import OUTPUT_SCHEMA, dead_letter_sample

        written = spark.read.schema(OUTPUT_SCHEMA).parquet(args.output)
        dead_letter_sample(written).write.mode("overwrite").parquet(args.dead_letter_out)
        print("dead-letter sample written to %s" % args.dead_letter_out, file=sys.stderr)

    if args.training_out:
        from pdf_extractor_spark.pipeline import TooFewExamplesError, write_training_examples

        try:
            write_training_examples(
                spark,
                args.output,
                args.training_out,
                min_examples=args.min_examples,
                approved_xlsx=args.approved_xlsx,
            )
        except TooFewExamplesError as exc:
            # A9 gate (reference: finetune_commands/train.py:276-281)
            print(f"error: {exc}", file=sys.stderr)
            return 3

    wall = time.time() - t0
    print(
        json.dumps(
            {
                "partitions_committed": stats.partitions_committed,
                "docs_processed": stats.docs_processed,
                "bytes_parsed": stats.bytes_parsed,
                "parse_failures": stats.parse_failures,
                "font_unmapped": stats.font_unmapped,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(stats.docs_processed / wall, 1) if wall > 0 else None,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
