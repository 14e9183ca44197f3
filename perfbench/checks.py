"""Output checks run after every benchmark call, outside its timing.

Each check returns a list of problems; an empty list means the call's output
is correct. A call with problems counts as failed in `error_rate`.

Extraction: the written table's (url, md5(extracted_text), parse_status)
digest must equal the pure-Python oracle's, and RunStats must match the
synth labels (docs in the input, payloads generated as failures).

Corpus: the funnel counts are compared with counts taken independently from
the snapshot's extraction table, using a Python copy of the quality gate in
enrich.py and exact dedup by md5(text).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

import pyarrow.parquet as pq

# --- extraction -------------------------------------------------------------


@dataclass(frozen=True)
class ExtractExpect:
    digest: dict  # url -> (md5(extracted_text), parse_status)
    docs: int
    failures: int


def extract_expect(oracle_path: str) -> ExtractExpect:
    t = pq.read_table(oracle_path).to_pydict()
    digest = dict(zip(t["url"], zip(t["digest"], t["parse_status"])))
    # synth labels: a 'failed' payload is the only kind generated to fail
    return ExtractExpect(digest, len(t["url"]), sum(k == "failed" for k in t["kind"]))


def written_digest(out_dir: str) -> dict:
    t = pq.read_table(out_dir, columns=["url", "extracted_text", "parse_status"]).to_pydict()
    return {
        url: (hashlib.md5((text or "").encode()).hexdigest(), status)
        for url, text, status in zip(t["url"], t["extracted_text"], t["parse_status"])
    }


def diff_digests(got: dict, want: dict) -> list[str]:
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    wrong = [u for u in want.keys() & got.keys() if got[u] != want[u]]
    for label, urls in (("missing", missing), ("unexpected", extra), ("differ from the oracle", wrong)):
        if urls:
            problems.append("%d rows %s (e.g. %s)" % (len(urls), label, min(urls)))
    return problems


def check_extraction(stats, out_dir: str, expect: ExtractExpect) -> list[str]:
    problems = []
    if stats.docs_processed != expect.docs:
        problems.append("docs_processed %d != %d docs in the input" % (stats.docs_processed, expect.docs))
    if stats.parse_failures != expect.failures:
        problems.append("parse_failures %d != %d failing payloads" % (stats.parse_failures, expect.failures))
    return problems + diff_digests(written_digest(out_dir), expect.digest)


# --- corpus -----------------------------------------------------------------

# the quality gate of enrich.enrich_extracted, restated in Python
_WS = re.compile(r"[ \t\n\r\f\x0B]+")
_NOT_LETTER = re.compile(r"[^A-Za-zÀ-ÖØ-öø-ÿ]")
_NOT_UPPER = re.compile(r"[^A-ZÀ-ÖØ-Þ]")
_PUNCT = re.compile(r"""[.,;:!?()\[\]{}"'/\\|@#$%^&*_+=~`<>-]""")


def quality_ok(text: str, status: str) -> bool:
    if status != "ok":
        return False
    n_chars = len(text)
    n_tokens = len(_WS.split(text.strip(" "))) if n_chars else 0
    if n_tokens < 5 or n_chars / n_tokens > 14.0:
        return False
    if (n_chars - len(_PUNCT.sub("", text))) / n_chars > 0.25:
        return False
    letters = len(_NOT_LETTER.sub("", text))
    return not letters or len(_NOT_UPPER.sub("", text)) / letters <= 0.5


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


@dataclass(frozen=True)
class CorpusExpect:
    docs_in: int
    docs_quality: int
    distinct: int  # quality docs after exact dedup, before the state drop
    winners: frozenset  # urls that survive exact dedup (min url per text)
    recrawls: frozenset  # winners whose exact text is in the prior corpus


def corpus_expect(extracted_dir: str, prior_extracted_dir: str) -> CorpusExpect:
    def quality_texts(path):
        t = pq.read_table(path, columns=["url", "extracted_text", "parse_status"]).to_pydict()
        rows = list(zip(t["url"], t["extracted_text"], t["parse_status"]))
        return len(rows), [(u, x) for u, x, s in rows if quality_ok(x or "", s)]

    docs_in, kept = quality_texts(extracted_dir)
    _, prior = quality_texts(prior_extracted_dir)
    winner: dict[str, str] = {}
    for url, text in kept:
        h = _md5(text)
        winner[h] = min(url, winner.get(h, url))
    prior_hashes = {_md5(x) for _, x in prior}
    return CorpusExpect(
        docs_in, len(kept), len(winner), frozenset(winner.values()),
        frozenset(u for h, u in winner.items() if h in prior_hashes),
    )


def check_corpus(stats, corpus_dir: str, state_dir: str, expect: CorpusExpect) -> list[str]:
    problems = []
    for name, got, want in (
        ("docs_in", stats.docs_in, expect.docs_in),
        ("docs_quality", stats.docs_quality, expect.docs_quality),
        ("docs_corpus + recrawl_dups_dropped",
         stats.docs_corpus + stats.recrawl_dups_dropped, expect.distinct),
    ):
        if got != want:
            problems.append("%s %d != %d counted from the input" % (name, got, want))
    if stats.recrawl_dups_dropped < len(expect.recrawls):
        problems.append("recrawl_dups_dropped %d < %d exact recrawls"
                        % (stats.recrawl_dups_dropped, len(expect.recrawls)))
    urls = pq.read_table(corpus_dir, columns=["url"]).column("url").to_pylist()
    if len(urls) != stats.docs_corpus or len(set(urls)) != len(urls):
        problems.append("corpus holds %d rows (%d distinct), funnel says %d"
                        % (len(urls), len(set(urls)), stats.docs_corpus))
    if not set(urls) <= expect.winners:
        problems.append("corpus holds urls that are not exact-dedup winners")
    if set(urls) & expect.recrawls:
        problems.append("corpus keeps exact recrawls of the prior snapshot")
    state = pq.read_table(state_dir, columns=["url"]).column("url").to_pylist()
    if set(state) != set(urls):
        problems.append("band state covers %d docs, corpus has %d" % (len(set(state)), len(urls)))
    return problems
