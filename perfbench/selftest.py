#!/usr/bin/env python3
"""Self-test of the benchmark's output checks; needs no Spark session.

    python3 perfbench/selftest.py

A correct extraction table must pass `checks.check_extraction`, and one
corrupted, missing or re-labelled row must fail it; a funnel count that
disagrees with the input must fail `checks.check_corpus`. It also checks
that BENCHMARK.json names exactly the metrics run.py prints.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(run.WORK, "selftest")


def _expect(ok, what) -> None:
    if not ok:
        raise SystemExit("perfbench selftest failed: %s" % (what,))


def _write(path: str, cols: dict) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
    return path


def _extraction_cases() -> None:
    texts = {"https://a/1": "alpha beta", "https://a/2": "", "https://a/3": "gamma"}
    status = {"https://a/1": "ok", "https://a/2": "failed", "https://a/3": "ok"}
    expect = checks.ExtractExpect(
        {u: (hashlib.md5(t.encode()).hexdigest(), status[u]) for u, t in texts.items()},
        docs=3, failures=1,
    )
    stats = SimpleNamespace(docs_processed=3, parse_failures=1)

    def table(name, rows):
        """A run_extraction-style output dir with one hive partition."""
        url, text, status = zip(*rows)
        cols = {"url": url, "extracted_text": text, "parse_status": status}
        _write(os.path.join(WORK, name, "partition_id=0"), {k: list(v) for k, v in cols.items()})
        return os.path.join(WORK, name)

    good = [(u, texts[u], status[u]) for u in texts]
    _expect(checks.check_extraction(stats, table("good", good), expect) == [], "good table passes")
    bad_tables = {
        "corrupted_text": [good[0][:1] + ("alpha beta!", "ok")] + good[1:],
        "missing_row": good[:2],
        "wrong_status": good[:2] + [(good[2][0], good[2][1], "empty")],
        "extra_row": good + [("https://a/9", "x", "ok")],
    }
    for name, rows in bad_tables.items():
        _expect(checks.check_extraction(stats, table(name, rows), expect), name)
    wrong_counts = SimpleNamespace(docs_processed=3, parse_failures=0)
    _expect(checks.check_extraction(wrong_counts, table("good", good), expect), "wrong_counts")


def _corpus_cases() -> None:
    words = "one two three four five six"
    prior = _write(os.path.join(WORK, "prior"), {
        "url": ["https://p/1"], "extracted_text": [words], "parse_status": ["ok"],
    })
    snap = _write(os.path.join(WORK, "snap"), {
        "url": ["https://p/1", "https://b/2", "https://b/3", "https://b/4"],
        "extracted_text": [words, words + " seven", words + " seven", "too short"],
        "parse_status": ["ok", "ok", "ok", "ok"],
    })
    expect = checks.corpus_expect(snap, prior)
    _expect((expect.docs_in, expect.docs_quality, expect.distinct) == (4, 3, 2), expect)
    _expect(expect.recrawls == {"https://p/1"}, expect.recrawls)
    corpus = _write(os.path.join(WORK, "corpus"), {"url": ["https://b/2"]})
    state = _write(os.path.join(WORK, "state"), {"url": ["https://b/2"] * 4})

    def stats(**kw):
        base = dict(docs_in=4, docs_quality=3, docs_corpus=1, recrawl_dups_dropped=1)
        return SimpleNamespace(**{**base, **kw})

    _expect(checks.check_corpus(stats(), corpus, state, expect) == [], "good funnel passes")
    for bad in (dict(docs_in=5), dict(docs_quality=2), dict(docs_corpus=2),
                dict(docs_corpus=2, recrawl_dups_dropped=0)):
        _expect(checks.check_corpus(stats(**bad), corpus, state, expect), bad)


def _benchmark_json_cases() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, names in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        _expect([(m["name"], m["unit"]) for m in spec[key]] == names, "BENCHMARK.json " + key)
    from workloads import WORKLOADS

    _expect([w["name"] for w in spec["workloads"]] == list(WORKLOADS), "BENCHMARK.json workloads")


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        _extraction_cases()
        _corpus_cases()
        _benchmark_json_cases()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
