"""HTML main-content extraction: block segmentation + boilerplate scoring.

This is the engine's "OCR" for web pages (BASELINE.json north_star): a
DOM-heuristic, Boilerpipe/Readability-style extractor that strips
boilerplate via tag class + link density + block length, then emits the
same flat word-record table as the PDF path so the assembly contract
(``functions.assembly``, transcribing ``ocr_processor.py:116-168``)
applies uniformly to both payload kinds.

No lxml/bs4 in this environment — the segmenter is a single-pass
tag-scan with an outer-block-wins frame (see :func:`segment_blocks`):
identical to the previous regex matcher on the well-formed non-nested
grammar the corpus generator emits (the oracle-pinned contract), but
it additionally recovers malformed real-web HTML — same-tag nested
blocks keep their trailing content, unclosed blocks emit at EOF,
stray close tags are ignored, and an unclosed <script>/<style> is
stripped to EOF (the HTML5 rule) instead of leaking code as text.

Rules (deterministic, part of the engine contract):
- ``<script>``/``<style>``/comments are always removed.
- structural-boilerplate tags ``nav|header|footer|aside`` are dropped.
- link_density = (#tokens inside <a>) / (#tokens) > ``max_link_density``
  (default 0.33) -> dropped.
- non-heading blocks with < ``min_block_words`` (default 3) tokens ->
  dropped; headings (h1-h6) kept from 1 token.
- kept blocks become block_num = 1-based document order; one paragraph
  (par_num=1); words flow-wrapped ``line_wrap_words`` (default 12) per
  line; conf fixed at ``html_word_conf`` (no real OCR -> exact by
  construction).
"""

from __future__ import annotations

import re
from ..config import ExtractConfig

_SCRIPT_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
#: where a ``_SCRIPT_RE`` match can start. Matching it only there, and
#: never again for a name whose match failed, keeps the strip linear:
#: ``sub`` would rescan to the end of the input for every unclosed
#: opener (:func:`_strip_noise`).
_NOISE_OPEN_RE = re.compile(r"<(?:(script|style)\b|!--)", re.IGNORECASE)
#: an UNCLOSED script/style swallows everything to EOF (the HTML5
#: tokenizer rule) — applied after the paired pass so well-formed
#: documents never hit it.
_SCRIPT_OPEN_RE = re.compile(
    r"<(?:script|style)\b[^>]*>.*$", re.IGNORECASE | re.DOTALL
)
#: BLOCK tags only, open or close — the segmenter's one scan. Matching
#: only block tags keeps the skip-work in the C regex engine (an
#: every-tag scan measured 1.6x slower on the hot path: anchors/spans
#:/bolds dominate tag counts and were all python-side `continue`s).
#: Longer names precede their prefixes (header before h[1-6]); the
#: attribute region excludes BOTH angle brackets: a stray unescaped
#: '<' in visible text (e.g. a literal "a<b") must not start a pseudo-
#: tag that swallows the next real close tag, and `<param>`/`<pre>`
#: cannot half-match `p` because the name must be followed by
#: whitespace, '/', or '>'.
_TAG_SCAN_RE = re.compile(
    r"<(/?)(nav|header|h[1-6]|footer|aside|p|li|div|td|blockquote)"
    r"((?:[\s/][^<>]*)?)>",
    re.IGNORECASE,
)
_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
#: where an ``_ANCHOR_RE`` match can start (:func:`_anchor_tokens`)
_ANCHOR_OPEN_RE = re.compile(r"<a\b", re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]+>")
_BOILER_TAGS = frozenset({"nav", "header", "footer", "aside"})
_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST so "&amp;lt;" -> "&lt;" (single-pass order)
]


def unescape(text: str) -> str:
    if "&" not in text:  # one scan instead of six for the common case
        return text
    for ent, ch in _ENTITIES:
        if ent in text:
            text = text.replace(ent, ch)
    return text


def escape(text: str) -> str:
    """Inverse of :func:`unescape` for the minimal entity set (used when
    wrapping raw text into HTML so extraction round-trips byte-exact)."""
    return (
        text.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def _visible_tokens(inner_html: str) -> list[str]:
    if ">" in inner_html:
        # a tag ends at a '>': a '<' after the last one opens none, and
        # leaving those out of the scan keeps a run of them linear
        end = inner_html.rfind(">") + 1
        inner_html = _TAG_RE.sub(" ", inner_html[:end]) + inner_html[end:]
    return unescape(inner_html).split()


def _strip_noise(html: str) -> str:
    """``_SCRIPT_RE.sub(" ", html)`` then ``_SCRIPT_OPEN_RE.sub(" ", …)``
    in linear time.

    ``_SCRIPT_RE`` is matched at each opener left of no earlier match.
    A failed match proves that no later opener of the same name (or no
    later comment) can match: its '>' and its closer would lie no
    earlier. So each name fails once, and every other scan is consumed
    by the match that made it."""
    out: list[str] = []
    last = 0
    dead: set = set()  # opener names (None: comment) that cannot match
    for m in _NOISE_OPEN_RE.finditer(html):
        name = m.group(1)
        key = name and name.lower()
        if m.start() < last or key in dead:
            continue
        match = _SCRIPT_RE.match(html, m.start())
        if match is None:
            dead.add(key)
            continue
        out.append(html[last : m.start()])
        out.append(" ")
        last = match.end()
    if last:
        out.append(html[last:])
        html = "".join(out)
    if not dead - {None}:
        return html  # every script/style opener was removed with its match
    # an unclosed opener's '[^>]*>' ends at or before the last '>'
    m = _SCRIPT_OPEN_RE.search(html, 0, html.rfind(">") + 1)
    return html if m is None else html[: m.start()] + " "


def _anchor_tokens(inner_html: str) -> int:
    """Visible tokens inside the ``_ANCHOR_RE`` matches, in linear time:
    it is matched at each opener left of no earlier match, and the first
    failure ends the scan (no later opener's '>' or closer lies
    earlier)."""
    n = last = 0
    for m in _ANCHOR_OPEN_RE.finditer(inner_html):
        if m.start() < last:
            continue
        match = _ANCHOR_RE.match(inner_html, m.start())
        if match is None:
            break
        n += len(_visible_tokens(match.group(1)))
        last = match.end()
    return n


def segment_blocks(html: str) -> list[tuple[str, str]]:
    """-> [(tag_lower, inner_html)] in document order, noise stripped.

    Single pass over the tag stream with ONE open frame (outer block
    wins — a nested block tag of a different name stays inside the
    outer block's slice, so nested markup flattens into the parent's
    token stream in document order rather than double-emitting).
    Malformed-input rules, each degrading toward "keep the visible
    text":

    - same-name nesting tracks depth, so ``<div>a<div>b</div>c</div>``
      yields one block ``a b c`` (the old regex matcher dropped ``c``);
    - a block left open at EOF emits what it accumulated (the old
      matcher dropped the whole block);
    - a close tag with no matching open is ignored;
    - a self-closed block tag (``<td/>``) emits an empty block, which
      the classifier discards;
    - inner html is a SLICE of the cleaned input (O(1) per block,
      byte-exact — the assembly contract depends on exact token
      bytes).
    """
    cleaned = _strip_noise(html)
    out: list[tuple[str, str]] = []
    tag = ""  # open frame: tag name, slice start, same-name depth
    start = depth = 0
    open_frame = False
    for m in _TAG_SCAN_RE.finditer(cleaned):
        slash, name, attrs = m.group(1, 2, 3)
        name = name.lower()
        closing = slash == "/"
        self_closed = attrs.endswith("/")
        if not open_frame:
            if not closing:
                if self_closed:
                    out.append((name, ""))
                else:
                    tag, start, depth, open_frame = name, m.end(), 0, True
            continue  # stray close: ignored
        if name != tag:
            continue  # different block tag inside the frame: markup
        if closing:
            if depth:
                depth -= 1
            else:
                out.append((tag, cleaned[start : m.start()]))
                open_frame = False
        elif not self_closed:
            depth += 1
    if open_frame:
        out.append((tag, cleaned[start:]))
    return out


def classify_block(
    tag: str, inner_html: str, cfg: ExtractConfig
) -> tuple[bool, list[str]]:
    """-> (keep?, visible tokens). Implements the scoring rules above."""
    tokens = _visible_tokens(inner_html)
    if not tokens:
        return False, tokens
    if tag in _BOILER_TAGS:
        return False, tokens
    if _anchor_tokens(inner_html) / len(tokens) > cfg.max_link_density:
        return False, tokens
    if tag not in _HEADING_TAGS and len(tokens) < cfg.min_block_words:
        return False, tokens
    return True, tokens


#: flow-layout geometry for the HTML path (arbitrary but fixed: part of
#: the engine contract, shared with nothing — tests re-derive it
#: independently).
COL_W = 80  # x advance per word slot
CHAR_W = 8  # glyph width
LINE_H = 24  # y advance per line
WORD_H = 18  # word bbox height
PAGE_W = 12 * COL_W  # = line_wrap_words(default) * COL_W


from functools import lru_cache

#: only cache templates for blocks this small: block sizes that repeat
#: often enough to benefit are overwhelmingly small, and 2048 cached
#: entries of three up-to-4096-element tuples would retain hundreds of
#: MB per Python worker on a corpus with diverse large blocks.
_CACHE_NTOK_MAX = 512


@lru_cache(maxsize=2048)
def _flow_template(ntok: int, wrap: int) -> tuple[tuple, tuple, tuple, int]:
    """Flow-layout columns that depend ONLY on (ntok, wrap): block-
    relative line numbers, x offsets, block-relative y offsets, and the
    line count. Block sizes repeat heavily across a corpus, so caching
    these avoids recomputing the same integer sequences per block
    (identical values — byte-identity preserved).
    Columns are TUPLES: the cache shares one object across blocks, so
    a mutable return would let any in-place edit corrupt every later
    same-sized block."""
    pos = [i % wrap for i in range(ntok)]
    line_rel = tuple(i // wrap + 1 for i in range(ntok))
    left = tuple(p * COL_W for p in pos)
    top_rel = tuple((l - 1) * LINE_H for l in line_rel)
    return line_rel, left, top_rel, (ntok + wrap - 1) // wrap


def extract_words_columnar(
    html: str, cfg: ExtractConfig
) -> tuple[tuple[list, ...], int, int, int]:
    """HTML -> ((block, par, line, text, left, top, width, height, conf)
    column lists, n_blocks_kept, n_blocks_dropped, page_height).

    A single page (page_number handled by the caller). Lines wrap every
    ``cfg.line_wrap_words`` words; line_num runs document-global (top of
    page downward) like a single-column render. Per-column list building
    beats per-word tuple rows by ~2x in the kernel's record-table
    construction; geometry columns come from the per-(ntok, wrap)
    template cache above."""
    cols: tuple[list, ...] = tuple([] for _ in range(9))
    blk_c, par_c, line_c, text_c, left_c, top_c, wid_c, hgt_c, conf_c = cols
    kept = dropped = 0
    global_line = 0
    wrap = cfg.line_wrap_words
    conf = cfg.html_word_conf
    for tag, inner in segment_blocks(html):
        keep, tokens = classify_block(tag, inner, cfg)
        if not tokens:
            continue  # empty block: counted as neither kept nor dropped
        if not keep:
            dropped += 1
            continue
        kept += 1
        ntok = len(tokens)
        if ntok <= _CACHE_NTOK_MAX:
            line_rel, left, top_rel, n_lines = _flow_template(ntok, wrap)
        else:  # pathological block: compute directly, don't cache
            line_rel, left, top_rel, n_lines = _flow_template.__wrapped__(
                ntok, wrap
            )
        blk_c.extend([kept] * ntok)
        par_c.extend([1] * ntok)
        line_c.extend(line_rel)
        text_c.extend(tokens)
        left_c.extend(left)
        base_top = global_line * LINE_H
        top_c.extend(t + base_top for t in top_rel)
        wid_c.extend(len(t) * CHAR_W for t in tokens)
        hgt_c.extend([WORD_H] * ntok)
        conf_c.extend([conf] * ntok)
        global_line += n_lines
    page_height = max(global_line * LINE_H, LINE_H)
    return cols, kept, dropped, page_height
