#!/usr/bin/env python3
"""Benchmark of the extraction engine through its public API.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One process holds one long-lived local Spark
session: it starts the session and makes one warm-up call of the workload's
entry point (`pipeline.run_extraction` or `pipeline.build_training_corpus`)
on a 64-page slice of its input (together `setup_s`), then calls it on the
whole input, on fresh output dirs, for at least `--seconds` and at least two
calls, checking every call's output.

`--trace 0` prints the end-to-end metrics, medians over the calls.
`--trace 1` enables Spark's event log in the session, makes one more call
with timing wrappers around the control layer, times the kernel and the
Arrow boundary in-process on a sample of the workload's payloads, and
prints the per-layer metrics.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The lines before it stamp the machine and summarise the run.
Inputs, outputs, Spark scratch and the event log stay under
`.perfbench_work/` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import checks
import eventlog
from procstat import PeakPss, tree_cpu_s, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_CALLS = 2
TIME_LIMIT_S = 140  # stop starting calls well inside a 180 s run budget

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("docs_per_s", "1/s"),
    ("peak_pss_mb", "MB"),
]
# printed on the summary line but not bounded in BENCHMARK.json: cpu_s
# spreads up to ~0.35 between runs on a shared 4-core VM (JIT threads and
# machine speed), and error_rate is 0 on a correct program
UNBOUNDED = ["cpu_s", "error_rate"]
PER_LAYER = [
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("kernel.html_us_per_doc", "us"), ("kernel.html.sniff_us_per_doc", "us"),
    ("kernel.pdf_us_per_doc", "us"), ("kernel.pdf.glyph_runs_us_per_doc", "us"),
    ("kernel.pdf.reading_order_us_per_doc", "us"),
    ("kernel.docs", "count"), ("kernel.bytes", "bytes"), ("kernel.failed_docs", "count"),
    ("boundary.pandas_us_per_doc", "us"), ("boundary.python_run_s", "s"),
    ("boundary.python_start_s", "s"), ("boundary.bytes_to_python", "bytes"),
    ("boundary.bytes_from_python", "bytes"), ("boundary.non_kernel_share", "ratio"),
    ("stage.kernel.wall_s", "s"), ("stage.kernel.task_s", "s"),
    ("stage.write.wall_s", "s"), ("stage.write.task_s", "s"), ("stage.jobs", "count"),
    ("driver.plan_s", "s"),
    ("shuffle.bytes", "bytes"), ("shuffle.records", "count"), ("shuffle.write_s", "s"),
    ("shuffle.skew", "ratio"),
    ("write.bytes", "bytes"), ("write.files", "count"), ("write.commit_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.spill_bytes", "bytes"), ("jvm.peak_exec_mem_mb", "MB"),
    ("control.resume_check_s", "s"), ("control.commit_s", "s"),
    ("control.resume_noop_s", "s"),
    ("corpus.minhash_s", "s"), ("corpus.stage_task_s", "s"), ("corpus.band_rows", "count"),
    ("corpus.band_pairs", "count"), ("corpus.max_band_bucket", "count"),
    ("corpus.docs_in", "count"), ("corpus.docs_corpus", "count"),
    ("corpus.recrawl_dropped", "count"),
    ("trace.overhead", "ratio"), ("trace.coverage", "ratio"),
]
TRACED, NOOP, BANDS = "perfbench:traced", "perfbench:noop", "perfbench:bands"


def machine() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    slots = max(1, nproc // 2)  # a mapInPandas task keeps ~2 cores busy
    return {
        "nproc": nproc,
        "mem_total_mb": mem_mb,
        "slots": slots,
        "shuffle_partitions": 4 * slots,
        "driver_memory_mb": max(1024, min(4096, mem_mb // 16)),
    }


def prepare_env() -> dict[str, str]:
    """Keep every file Spark, the JVM and pyspark write under WORK, and let
    the Python workers import the program from ROOT."""
    dirs = {name: os.path.join(WORK, name) for name in ("tmp", "spark-local", "warehouse", "eventlog", "run")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return dirs


def start_spark(m: dict, dirs: dict, trace: bool):
    from pdf_extractor_spark.session import get_spark

    conf = {
        "spark.driver.memory": "%dm" % m["driver_memory_mb"],
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master="local[%d]" % m["slots"],
        shuffle_partitions=m["shuffle_partitions"], extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session, if it started, close the gateway and wait for the
    JVM and every Python worker it started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = tree_pids(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    """One workload in one Spark session: the calls and their checks."""

    def __init__(self, spark, w, inputs, run_dir: str, prior_state: str | None):
        from pyspark import SparkContext

        self.spark, self.w, self.inputs = spark, w, inputs
        self.run_dir, self.prior_state = run_dir, prior_state
        self.jvm = SparkContext._gateway.proc.pid
        if w.entry == "extract":
            self.expect = checks.extract_expect(inputs.oracle)
        else:
            self.expect = checks.corpus_expect(inputs.extracted, os.path.join(inputs.prior, "extracted"))
        self.source = inputs.pages if w.entry == "extract" else inputs.extracted
        self.records: list[dict] = []
        self.counts = None  # every call's funnel must repeat the first one's

    def entry(self, source: str, d: str):
        from pdf_extractor_spark import pipeline

        if self.w.entry == "extract":
            return pipeline.run_extraction(
                self.spark, self.spark.read.parquet(source),
                os.path.join(d, "out"), os.path.join(d, "ctl"),
            )
        return pipeline.build_training_corpus(
            self.spark, source, os.path.join(d, "corpus"),
            dedup_state_in=self.prior_state, dedup_state_out=os.path.join(d, "state"),
        )

    def check(self, stats, d: str) -> list[str]:
        if self.w.entry == "extract":
            problems = checks.check_extraction(stats, os.path.join(d, "out"), self.expect)
        else:
            problems = checks.check_corpus(
                stats, os.path.join(d, "corpus"), os.path.join(d, "state"), self.expect
            )
        counts = tuple(vars(stats).values())
        if self.counts is None:
            self.counts = counts
        elif counts != self.counts:
            problems.append("counts %r differ from the first call's %r" % (counts, self.counts))
        return problems

    def call(self, name: str, keep: bool = False) -> dict:
        """One measured, checked call on the workload's input."""
        d = os.path.join(self.run_dir, name)
        rec = {"name": name, "ok": False, "stats": None}
        cpu0 = tree_cpu_s(self.jvm)
        try:
            with PeakPss(self.jvm) as mem:
                t0 = time.perf_counter()
                rec["stats"] = self.entry(self.source, d)
                rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(self.jvm) - cpu0
            rec["peak_pss_mb"] = mem.peak_mb
            problems = self.check(rec["stats"], d)
        except Exception:
            problems = [traceback.format_exc()]
        for p in problems:
            print("perfbench: %s failed its check: %s" % (name, p), file=sys.stderr)
        rec["ok"] = not problems
        print("perfbench: call %s wall %.3f s cpu %.2f s pss %.0f MB %s" % (
            name, rec.get("wall_s", 0), rec.get("cpu_s", 0), rec.get("peak_pss_mb", 0),
            "ok" if rec["ok"] else "FAILED"), file=sys.stderr)
        rec["docs"] = self._docs(rec["stats"])
        self.records.append(rec)
        if not keep:
            shutil.rmtree(d, ignore_errors=True)
        return rec

    def _docs(self, stats) -> int:
        if stats is None:
            return 0
        return stats.docs_processed if self.w.entry == "extract" else stats.docs_in

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        good = [r for r in self.records if r["ok"]] or [r for r in self.records if "wall_s" in r]

        def med(f):
            return statistics.median(f(r) for r in good) if good else 0.0

        return {
            "setup_s": setup_s,
            "wall_s": med(lambda r: r["wall_s"]),
            "docs_per_s": med(lambda r: r["docs"] / r["wall_s"]),
            "cpu_s": med(lambda r: r["cpu_s"]),
            "peak_pss_mb": med(lambda r: r["peak_pss_mb"]),
            "error_rate": sum(not r["ok"] for r in self.records) / max(len(self.records), 1),
        }


def ensure_prior_state(spark, prior_dir: str) -> str:
    """The prior snapshot's band state, built once per checkout."""
    from pdf_extractor_spark import pipeline

    state = os.path.join(prior_dir, "state")
    if not os.path.isdir(state):
        tmp = os.path.join(prior_dir, "build")
        shutil.rmtree(tmp, ignore_errors=True)
        pipeline.build_training_corpus(
            spark, os.path.join(prior_dir, "extracted"), os.path.join(tmp, "corpus"),
            dedup_state_out=os.path.join(tmp, "state"),
        )
        os.replace(os.path.join(tmp, "state"), state)
        shutil.rmtree(tmp)
    return state


def _count_files(*dirs: str) -> int:
    return sum(
        name.endswith(".parquet")
        for d in dirs
        for _, _, names in os.walk(d)
        for name in names
    )


def traced_layers(bench: Bench, session: dict) -> dict[str, float]:
    """The traced call and its per-layer numbers (Spark still running)."""
    from pdf_extractor_spark import pipeline

    import layers

    sc = bench.spark.sparkContext
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update(session)
    plain_wall = statistics.median(r["wall_s"] for r in bench.records if "wall_s" in r)
    ctl = pipeline.ctl
    timed = layers.TimedControl(ctl)
    sc.setJobGroup(TRACED, TRACED)
    pipeline.ctl = timed
    try:
        rec = bench.call("traced", keep=True)
    finally:
        pipeline.ctl = ctl
    d = os.path.join(bench.run_dir, "traced")
    stats = rec["stats"]
    out["trace.overhead"] = rec.get("wall_s", 0.0) / plain_wall if plain_wall else 0.0
    out["_traced_wall_s"] = rec.get("wall_s", 0.0)
    out["_driver_spans"] = timed.resume_spans + timed.commit_spans
    if bench.w.entry == "extract":
        out["control.resume_check_s"] = timed.resume_check_s
        out["control.commit_s"] = timed.commit_s
        out["write.files"] = _count_files(os.path.join(d, "out"))
        if stats is not None:
            out["kernel.docs"] = stats.docs_processed
            out["kernel.bytes"] = stats.bytes_parsed
            out["kernel.failed_docs"] = stats.parse_failures
        sc.setJobGroup(NOOP, NOOP)
        t0 = time.perf_counter()
        noop = bench.entry(bench.inputs.pages, d)
        out["control.resume_noop_s"] = time.perf_counter() - t0
        if noop.docs_processed:
            print("perfbench: resume over committed partitions redid %d docs"
                  % noop.docs_processed, file=sys.stderr)
            rec["ok"] = False
    else:
        out["write.files"] = _count_files(os.path.join(d, "corpus"), os.path.join(d, "state"))
        if stats is not None:
            out["corpus.docs_in"] = stats.docs_in
            out["corpus.docs_corpus"] = stats.docs_corpus
            out["corpus.recrawl_dropped"] = stats.recrawl_dups_dropped
        sc.setJobGroup(BANDS, BANDS)
        out.update(layers.corpus_bands(bench.spark, bench.inputs.extracted, bench.prior_state))
    sc.setJobGroup("", "")
    shutil.rmtree(d, ignore_errors=True)
    return out


def finish_layers(out: dict, bench: Bench, eventlog_dir: str) -> dict[str, float]:
    """Event-log and in-process numbers, after Spark has stopped."""
    import pyarrow.parquet as pq

    import layers

    call = eventlog.calls(eventlog.read(eventlog_dir)).get(TRACED)
    traced_wall = out.pop("_traced_wall_s")
    driver_spans = out.pop("_driver_spans")
    if call is not None:
        out.update(eventlog.stage_metrics(call))
        if bench.w.entry == "corpus":
            out["corpus.stage_task_s"] = call.total("internal.metrics.executorRunTime") / 1000
        if traced_wall:
            # share of the call's wall inside a stage, a SQL execution or a
            # timed control-layer span
            spans = call.stage_spans() + call.sql_spans + driver_spans
            out["trace.coverage"] = eventlog.covered_s(spans) / traced_wall
    oracle = pq.read_table(bench.inputs.oracle, columns=["url", "kind"]).to_pydict()
    kind = dict(zip(oracle["url"], oracle["kind"]))
    pages = pq.read_table(bench.inputs.pages, columns=["url", "html"]).to_pydict()
    n = bench.w.sample_docs
    urls, payloads = pages["url"][:n], pages["html"][:n]
    out.update(layers.kernel_sample(payloads, [kind[u] for u in urls]))
    out["boundary.pandas_us_per_doc"] = layers.boundary_sample(urls, payloads)
    if out["boundary.python_run_s"]:
        # kernel time of the whole input, from the per-branch sample
        kinds = list(kind.values())
        kernel_s = (
            out["kernel.html_us_per_doc"] * sum(k in layers.HTML_KINDS for k in kinds)
            + out["kernel.pdf_us_per_doc"] * kinds.count("pdf")
        ) / 1e6
        out["boundary.non_kernel_share"] = 1 - kernel_s / out["boundary.python_run_s"]
    return out


def versions() -> dict[str, str]:
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "pdf_extractor_spark", "pipeline.py")):
        print("perfbench: the program (pdf_extractor_spark/) is missing under %s" % ROOT,
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    dirs = prepare_env()
    from workloads import WORKLOADS, build_inputs

    if args.workload not in WORKLOADS:
        ap.error("--workload must be one of: " + ", ".join(WORKLOADS))
    w = WORKLOADS[args.workload]
    m = machine()
    inputs = build_inputs(WORK, w, args.seed, m["slots"], procs=m["nproc"])
    t_inputs = time.monotonic() - t_start
    shutil.rmtree(dirs["run"], ignore_errors=True)
    shutil.rmtree(dirs["eventlog"], ignore_errors=True)
    os.makedirs(dirs["eventlog"])

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(m, dirs, bool(args.trace))
        start_s = time.perf_counter() - t0
        prior_state = ensure_prior_state(spark, inputs.prior) if inputs.prior else None
        bench = Bench(spark, w, inputs, dirs["run"], prior_state)
        t0 = time.perf_counter()
        bench.entry(inputs.warmup, os.path.join(dirs["run"], "warmup"))
        warm_s = time.perf_counter() - t0
        t_measure = time.monotonic()
        deadline = t_measure + args.seconds
        k = 0
        while (k < MIN_CALLS or time.monotonic() < deadline) and time.monotonic() - t_start < TIME_LIMIT_S:
            bench.call("c%d" % k)
            k += 1
        layer = None
        if args.trace:
            layer = traced_layers(bench, {"session.start_s": start_s, "session.warm_s": warm_s})
    finally:
        t_stop = time.monotonic()
        stop_spark(spark)
    print("perfbench: inputs %.1f s, session %.1f s, calls %.1f s, stop %.1f s"
          % (t_inputs, start_s + warm_s, t_stop - t_measure,
             time.monotonic() - t_stop), file=sys.stderr)
    if args.trace:
        metrics = finish_layers(layer, bench, dirs["eventlog"])
        spec = PER_LAYER
    else:
        metrics = bench.end_to_end(start_s + warm_s)
        spec = END_TO_END
    shutil.rmtree(dirs["run"], ignore_errors=True)

    attempted = len(bench.records)
    failed = sum(not r["ok"] for r in bench.records)
    stamp = dict(m, workload=w.name, seed=args.seed, n_docs=w.n_docs, heft=w.heft,
                 trace=args.trace, **versions())
    print("perfbench stamp: " + json.dumps(stamp, sort_keys=True))
    shown = [name for name, _ in spec] + ([] if args.trace else UNBOUNDED)
    summary = ["%s=%.6g" % (name, metrics[name]) for name in shown]
    print("perfbench %s calls=%d: %s" % (w.name, attempted, " ".join(summary)))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
