"""HTML main-content extraction: tokenizer + block list + density classifier.

A from-scratch boilerplate stripper in the Arc90-Readability / Boilerpipe
family (Kohlschütter et al., WSDM 2010: text density + link density separate
main content from navigation/footer chrome). NOT a port of the reference —
the reference extracts PDF fields via an LLM (reference:
services/gpt_service.py:21-156); our engine replaces that with a
deterministic, vectorizable classifier per BASELINE.json `north_star`.

Pipeline per document:
  1. encoding sniff  (BOM → transport hint → meta charset → utf-8 fallback,
                      deterministic `replace`)
  2. tokenize        (single compiled regex pass → tag/text/comment tokens)
  3. block list      (one `Block` per block-level element: tag, depth,
                      chrome flag, text parts, anchor and total char counts)
  4. block scoring   (anchor chars / total chars → link density, per block)
  5. classification  (keep block iff density rules pass; drop chrome subtrees)
  6. emit            (extracted_text = kept blocks joined by '\n';
                      span_offsets = [start,end) per kept block)

Whitespace canonicalization matches the reference's `' '.join(text.split())`
(reference: fine_tuning/data_processor.py:48); block separator is exactly
'\n' like the reference's page join (reference: services/pdf_service.py:38).
"""

from __future__ import annotations

import html as _htmlmod
import re
from dataclasses import dataclass

# --- tag sets -----------------------------------------------------------------

# Elements whose raw content is never document text.
RAW_TEXT_TAGS = ("script", "style", "noscript", "template", "svg")

# Subtrees that are never main content: site chrome + document metadata.
CHROME_TAGS = frozenset(
    {"nav", "footer", "header", "aside", "form", "menu", "iframe",
     "select", "option", "button", "head", "title"}
)

# Tags that open a new content block.
BLOCK_TAGS = frozenset(
    {
        "p", "div", "article", "section", "main", "body",
        "h1", "h2", "h3", "h4", "h5", "h6",
        "li", "td", "th", "dd", "dt", "pre", "blockquote",
        "ul", "ol", "table", "tr", "figure", "figcaption", "br", "hr",
    }
)

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Classification thresholds (Boilerpipe-style; fixed, part of the contract).
MAX_LINK_DENSITY = 1.0 / 3.0
MIN_BLOCK_CHARS = 25
MIN_HEADING_CHARS = 3

# --- tokenizer ----------------------------------------------------------------

_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([a-zA-Z0-9_\-]+)", re.IGNORECASE
)

# WHATWG encoding rule: latin-1 / iso-8859-1 / ascii labels decode as
# windows-1252 (browsers do this; real pages labelled latin-1 routinely
# carry cp1252 smart quotes / dashes in 0x80-0x9F)
_KNOWN_ENCODINGS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "latin-1": "cp1252",
    "latin1": "cp1252",
    "iso-8859-1": "cp1252",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "ascii": "cp1252",
}


def sniff_encoding(raw: bytes, hint: str | None = None) -> str:
    """Decode-charset resolution, WHATWG precedence: BOM, then the
    transport-layer `hint` (the WARC record's HTTP Content-Type charset —
    real crawls disagree between header and meta often enough to matter),
    then meta-charset sniff on the first 2048 bytes; utf-8 fallback."""
    if raw.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig"      # strips the BOM char on decode
    if raw.startswith(b"\xff\xfe") or raw.startswith(b"\xfe\xff"):
        return "utf-16"         # endianness from the BOM itself
    if hint:
        enc = _KNOWN_ENCODINGS.get(hint.lower())
        if enc is not None:  # unknown labels fall through to the meta sniff
            return enc
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        name = m.group(1).decode("ascii", "replace").lower()
        return _KNOWN_ENCODINGS.get(name, "utf-8")
    return "utf-8"


@dataclass(slots=True)
class Block:
    """One candidate content block."""

    tag: str            # block tag that opened it
    depth: int          # DOM depth at open
    in_chrome: bool     # inside nav/footer/header/aside/form subtree
    parts: list         # raw text fragments
    anchor_chars: int = 0
    total_chars: int = 0

    def text(self) -> str:
        # equivalent to the reference's `' '.join(text.split())` whitespace
        # canonicalization (reference: fine_tuning/data_processor.py:48) and
        # ~2× faster than a regex sub on the hot path
        return " ".join("".join(self.parts).split())


def _parse_blocks(raw: bytes, hint: str | None = None) -> "list[Block]":
    """Decode (charset sniff) then single-pass tokenize → flat block list.

    Never raises on malformed markup — unclosed tags, stray '<', bad entities
    all degrade to text or get skipped deterministically.
    """
    enc = sniff_encoding(raw, hint)
    try:
        doc = raw.decode(enc, "replace")
    except LookupError:  # unknown codec name that slipped the table
        doc = raw.decode("utf-8", "replace")
    return _parse_blocks_str(doc)


_TOKEN_RE_S = re.compile(
    r"<!--.*?-->"
    r"|<!\[CDATA\[.*?\]\]>"
    r"|<![^>]*>"
    r"|<\?[^>]*>"
    r"|</\s*([a-zA-Z][a-zA-Z0-9:-]*)\s*>"
    r"|<\s*([a-zA-Z][a-zA-Z0-9:-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)/?>",
    re.DOTALL,
)

_RAW_CLOSE_RES = {t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE) for t in RAW_TEXT_TAGS}

VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col", "embed", "source", "track", "wbr"}
)


def _parse_blocks_str(doc: str) -> list[Block]:
    blocks: list[Block] = []
    cur = Block(tag="body", depth=0, in_chrome=False, parts=[])
    blocks.append(cur)

    chrome_stack: list = []   # open chrome tags; non-empty → inside chrome
    anchor_depth = 0          # >0 → inside <a>
    anchor_start_depth = 0    # len(stack) when the open <a> was seen
    anchor_chrome_depth = 0   # len(chrome_stack) when the open <a> was seen
    stack: list[str] = []
    pos = 0
    n = len(doc)

    def flush_text(txt: str):
        nonlocal cur
        if not txt:
            return
        if "&" in txt:  # unescape is expensive; most fragments have no entity
            txt = _htmlmod.unescape(txt)
        if "\xa0" in txt:
            # normalize NBSP to plain space for stable whitespace collapse
            txt = txt.replace("\xa0", " ")
        # non-whitespace char count (the density denominator). ASCII fast
        # path counts at C speed; non-ascii fragments take the split() path
        # so Unicode whitespace (  &ensp;, 　, NEL…) is never
        # counted as content — consistent with Block.text()'s collapse.
        if txt.isascii():
            stripped_len = (
                len(txt) - txt.count(" ") - txt.count("\n") - txt.count("\t")
                - txt.count("\r") - txt.count("\x0c") - txt.count("\x0b")
            )
        else:
            stripped_len = sum(map(len, txt.split()))
        if stripped_len == 0:
            if cur.parts:
                cur.parts.append(" ")
            return
        cur.parts.append(txt)
        cur.total_chars += stripped_len
        if anchor_depth > 0:
            cur.anchor_chars += stripped_len

    def open_block(tag: str):
        nonlocal cur
        if not cur.parts:
            # current block never received text — reuse it instead of
            # allocating (most tag boundaries open empty blocks)
            cur.tag = tag
            cur.depth = len(stack)
            cur.in_chrome = bool(chrome_stack)
            return
        cur = Block(tag=tag, depth=len(stack), in_chrome=bool(chrome_stack), parts=[])
        blocks.append(cur)

    search = _TOKEN_RE_S.search  # bound method: the loop runs per tag
    while pos < n:
        m = search(doc, pos)
        if m is None:
            flush_text(doc[pos:])
            break
        start = m.start()
        if start > pos:
            flush_text(doc[pos:start])
        pos = m.end()

        # lastindex dispatch: None = comment/doctype/PI (no groups), 1 =
        # close tag, >=2 = open tag (attrs group always participates) —
        # one attribute read instead of two group() probes per token
        li = m.lastindex
        if li is None:
            continue  # comments/doctype/pi: skipped entirely
        if li == 1:
            tag = m.group(1).lower()
            if tag in CHROME_TAGS:
                # pop only a MATCHING open chrome element — a stray close
                # tag (routine in crawl HTML) must not zero the chrome
                # context and leak boilerplate into extracted_text
                if tag in chrome_stack:
                    while chrome_stack and chrome_stack[-1] != tag:
                        chrome_stack.pop()
                    if chrome_stack:
                        chrome_stack.pop()
                    # leaving a chrome subtree ends any anchor opened INSIDE
                    # it — but an anchor opened before the chrome subtree
                    # survives (<a>text <nav>..</nav> more</a>: the trailing
                    # text is still link text and must count toward density)
                    if anchor_depth > 0 and anchor_chrome_depth > len(chrome_stack):
                        anchor_depth = 0
            if tag == "a" and anchor_depth > 0:
                anchor_depth -= 1
            if stack and tag in stack:
                while stack and stack[-1] != tag:
                    stack.pop()
                if stack:
                    stack.pop()
                # closing a block that CONTAINS the open <a> implicitly
                # closes the anchor (one unclosed <a> must not flag the rest
                # of the document as link text) — but an anchor that itself
                # WRAPS block children (HTML5-legal promo cards:
                # <a><div>…</div>more</a>) survives its children's closes,
                # so their text still counts as link text.
                if anchor_depth > 0 and len(stack) < anchor_start_depth:
                    anchor_depth = 0
            if tag in BLOCK_TAGS or tag in CHROME_TAGS:
                # closing a block/chrome subtree ends it; following text
                # belongs to a fresh block at the parent's chrome level
                open_block(stack[-1] if stack else "div")
        else:
            tag = m.group(2).lower()
            attrs = m.group(3) or ""
            # attrs is empty for most tags → short-circuit before the
            # rstrip allocation; void set probe is a cheap frozenset hit
            self_closing = tag in VOID_TAGS or (
                bool(attrs) and attrs.rstrip().endswith("/")
            )
            if tag in RAW_TEXT_TAGS and not self_closing:
                mm = _RAW_CLOSE_RES[tag].search(doc, pos)
                pos = mm.end() if mm else n
                continue
            if tag in CHROME_TAGS:
                if not self_closing:
                    chrome_stack.append(tag)
                open_block(tag)  # chrome block: collected but never kept
                continue
            if tag == "a":
                if not self_closing:
                    # nested <a> is invalid HTML — browsers implicitly close
                    # the previous anchor, so depth is capped at 1
                    anchor_depth = 1
                    anchor_start_depth = len(stack)
                    anchor_chrome_depth = len(chrome_stack)
                continue
            if tag in BLOCK_TAGS:
                open_block(tag)
                if not self_closing and tag not in ("br", "hr"):
                    stack.append(tag)
            # inline tags: no block boundary
        # comments/doctype/pi: skipped entirely

    return blocks


def extract_html(
    raw: bytes, charset_hint: str | None = None
) -> tuple[str, list[tuple[int, int]]]:
    """Extract main content text + span offsets from raw HTML bytes.

    `charset_hint` is the transport-layer charset (WARC HTTP header),
    honored between BOM and meta — see sniff_encoding.
    Returns (extracted_text, [(start, end) per kept block]).
    Deterministic; never raises on malformed markup.
    """
    blocks = _parse_blocks(raw, charset_hint)

    kept: list[str] = []
    # Headings are DEFERRED: a heading earns its place only if body content
    # follows it before the next heading — otherwise it's the title of a
    # dropped boilerplate section ("Related stories", "Comments",
    # "Customers also bought") and must fall with its section.
    pending_headings: list[str] = []
    for b in blocks:
        if b.in_chrome or b.total_chars == 0:
            continue
        txt = b.text()
        if not txt:
            continue
        link_density = b.anchor_chars / b.total_chars
        if link_density > MAX_LINK_DENSITY:
            # a link-dense block right after a pending heading marks it as
            # the title OF that link section — content appearing later must
            # not rescue it
            pending_headings = []
            continue
        if b.tag in HEADING_TAGS:
            if b.total_chars >= MIN_HEADING_CHARS:
                pending_headings = [txt]  # a newer heading supersedes
            continue
        if b.total_chars >= MIN_BLOCK_CHARS:
            kept.extend(pending_headings)
            pending_headings = []
            kept.append(txt)
    # trailing headings with no section body are dropped

    extracted = "\n".join(kept)
    spans: list[tuple[int, int]] = []
    off = 0
    for t in kept:
        spans.append((off, off + len(t)))
        off += len(t) + 1  # '\n'
    return extracted, spans
