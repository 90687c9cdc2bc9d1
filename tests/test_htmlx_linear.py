"""HTML poison pills: the noise strip, the anchor count and the tag strip
run in linear time, and give what the lazy regex scans gave.

The reference below is the earlier formulation: ``sub``/``finditer`` of
lazy patterns, which rescan to the end of the input for every unclosed
opener (quadratic on a page of many)."""

from __future__ import annotations

import re
import time
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tesseract_ocr_service_spark.config import ExtractConfig
from tesseract_ocr_service_spark.functions import htmlx

REF_SCRIPT_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>|<!--.*?-->", re.IGNORECASE | re.DOTALL
)
REF_SCRIPT_OPEN_RE = re.compile(
    r"<(?:script|style)\b[^>]*>.*$", re.IGNORECASE | re.DOTALL
)
REF_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
REF_TAG_RE = re.compile(r"<[^>]+>")


def ref_strip_noise(html: str) -> str:
    return REF_SCRIPT_OPEN_RE.sub(" ", REF_SCRIPT_RE.sub(" ", html))


def ref_visible_tokens(inner_html: str) -> list[str]:
    return htmlx.unescape(REF_TAG_RE.sub(" ", inner_html)).split()


def ref_anchor_tokens(inner_html: str) -> int:
    return sum(
        len(ref_visible_tokens(m.group(1)))
        for m in REF_ANCHOR_RE.finditer(inner_html)
    )


def ref_extract(html: str, cfg: ExtractConfig):
    """``extract_words_columnar`` with the three scans swapped for the
    reference ones."""
    with mock.patch.multiple(
        htmlx,
        _strip_noise=ref_strip_noise,
        _visible_tokens=ref_visible_tokens,
        _anchor_tokens=ref_anchor_tokens,
    ):
        return htmlx.extract_words_columnar(html, cfg)


def _check(html: str) -> None:
    assert htmlx._strip_noise(html) == ref_strip_noise(html)
    assert htmlx._anchor_tokens(html) == ref_anchor_tokens(html)
    assert htmlx._visible_tokens(html) == ref_visible_tokens(html)
    cfg = ExtractConfig()
    assert htmlx.extract_words_columnar(html, cfg) == ref_extract(html, cfg)


#: the measured poison pills, small enough for the quadratic reference
POISON = {
    "unclosed_anchors": "<p>" + "<a href=x>w " * 300 + "</p>",
    "unclosed_scripts": "<p>one two three</p>" + "<script>" * 300,
    "unclosed_comments": "<p>one two three</p>" + "<!-- a " * 300,
    "lt_without_gt": "<p>" + "a<b " * 300 + "</p>",
    "anchor_tags_without_gt": "<p><a>x</a> " + "<a " * 300 + "</a></p>",
    "script_tags_without_gt": "<p>x y z</p>" + "<script " * 300,
    "comment_then_closed_script": "<!-- a " * 300 + "<script></script><p>a b c</p>",
    "unclosed_style_then_script": "<p>a b c</p>" + "<style>" * 200 + "<script>x</script>",
    "long_line": "<p>" + "word " * 5000 + "</p>",
    "deep_nesting": "<div>" * 500 + "w " * 10 + "</div>" * 500,
}


@pytest.mark.parametrize("name", sorted(POISON))
def test_poison_pills_match_the_lazy_scans(name):
    _check(POISON[name])


def test_backreference_case_folding_is_kept():
    """'ſ' matches 's' as a pattern letter but not through the
    backreference that pairs an opener with its closer."""
    for html in (
        "<p>a b c</p><ſcript>x</script><p>d e f</p>",
        "<p>a b c</p><script>x</ſcript><p>d e f</p></script>",
        "<ſcript>x</ſcript><p>a b c</p><ScRiPt>y</SCRIPT>",
        "<style>x</STYLE ><p>a b c</p><Style a='>'>y",
        "<scrİpt>x</script><p>a b c</p>",
    ):
        _check(html)


_FRAGMENTS = [
    "<script>", "<SCRIPT type=x>", "</script>", "</ScRiPt >", "<script",
    "<style>", "</style>", "</STYLE\n>", "<ſcript>", "</ſcript>",
    "<!--", "-->", "--", "<!-->", "<a href=x>", "<A>", "<a", "</a>",
    "</A >", "<abbr>", "<p>", "</p>", "<div>", "</div>", "<h2>", "</h2>",
    "<nav>", "</nav>", "<td/>", "<", ">", "<b>", "</b>", "&amp;", "&lt;",
    "w", "alpha", "beta", " ", "\n", "é",
]


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(_FRAGMENTS), max_size=60).map("".join))
def test_tag_soup_matches_the_lazy_scans(html):
    _check(html)


#: 240 KB unclosed-anchor page: ~44 s through the lazy anchor scan
BIG_UNCLOSED_ANCHORS = "<p>" + "<a href=x>w " * 20000 + "</p>"


@pytest.mark.parametrize(
    "html",
    [
        BIG_UNCLOSED_ANCHORS,
        "<p>x y z</p>" + "<script>" * 20000,
        "<p>x y z</p>" + "<!-- a " * 20000,
        "<p>" + "<" * 200000 + "</p>",
        "<p>" + "word " * 80000 + "</p>",  # 400 KB on one line
        "<div>" * 4000 + "w " * 10 + "</div>" * 4000,
    ],
    ids=["anchors", "scripts", "comments", "lt_run", "long_line", "deep"],
)
def test_poison_pill_extracts_in_under_a_second(html):
    t = time.perf_counter()
    htmlx.extract_words_columnar(html, ExtractConfig())
    assert time.perf_counter() - t < 1.0
