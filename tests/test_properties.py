"""Property-based contract tests (hypothesis): the vectorized assembly
must agree with the independent oracle on arbitrary word tables."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tesseract_ocr_service_spark.functions import assembly

from . import oracle

TEXTS = st.one_of(
    st.just(""),
    st.just("   "),
    st.text(
        alphabet=st.characters(
            whitelist_categories=["Lu", "Ll", "Nd"],
            whitelist_characters="шщ中désolé&<>-",
        ),
        min_size=0,
        max_size=12,
    ),
)

RECORDS = st.lists(
    st.fixed_dictionaries(
        {
            "block_num": st.integers(0, 4),
            "par_num": st.integers(0, 3),
            "line_num": st.integers(0, 4),
            "text": TEXTS,
            "left": st.integers(0, 2000),
            "top": st.integers(0, 2000),
            "width": st.integers(0, 300),
            "height": st.integers(0, 80),
            "conf": st.integers(-1, 100),
        }
    ),
    min_size=0,
    max_size=120,
)


def _df(records: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(
        [
            (
                0,
                1,
                r["block_num"],
                r["par_num"],
                r["line_num"],
                i,
                r["text"],
                r["left"],
                r["top"],
                r["width"],
                r["height"],
                r["conf"],
            )
            for i, r in enumerate(records)
        ],
        columns=[
            "doc",
            "page_number",
            "block_num",
            "par_num",
            "line_num",
            "word_num",
            "text",
            "left",
            "top",
            "width",
            "height",
            "conf",
        ],
    )


@given(RECORDS)
@settings(max_examples=150, deadline=None)
def test_assembly_matches_oracle(records):
    texts, spans = assembly.assemble_pages(_df(records), emit_spans=True)
    expected_text = oracle.assemble_text(records)
    got_text = texts.get((0, 1), "")
    assert got_text == expected_text
    assert got_text.encode("utf-8") == expected_text.encode("utf-8")
    assert spans.get((0, 1), []) == oracle.hierarchy(records)


@given(RECORDS)
@settings(max_examples=60, deadline=None)
def test_confidence_matches_oracle(records):
    out = assembly.page_confidence(_df(records))
    got = float(out["confidence"].iloc[0]) if len(out) else 0.0
    assert abs(got - oracle.page_confidence(records)) < 1e-9


# ---------------------------------------------------------- htmlx fuzz

_GARBAGE = [
    "</p>", "</div>", "</li>", "<di", "<p attr='x", "<br/>", "<td/>",
    "<!-- closed -->", "&amp;&notreal;", ">>><<<", "a<b literal",
    "<div>unclosed garbage words", "<span>loose</span>", "plain noise",
    "<DIV>UPPER unclosed", "<blockquote>q words</blockquote",
]
#: constructs that LEGITIMATELY swallow what follows (HTML5): unclosed
#: script/style strip to EOF, an unclosed comment comments out to the
#: next -->, an unclosed boiler tag makes the rest nav/footer content
_SUFFIX_ONLY = [
    "<script>var x = 1;", "<style>.a{color:red", "<nav>menu",
    "<!-- stray comment ",
]


def _fuzz_doc(rng, words):
    """Garbage-wrapped well-formed region: prefix garbage avoids the
    constructs that LEGITIMATELY swallow or drop what follows (unclosed
    script/style strips to EOF per HTML5; an unclosed boiler tag makes
    the rest nav/footer content, which the classifier drops by design —
    suffix-only garbage exercises those)."""
    pre = " ".join(rng.choice(_GARBAGE) for _ in range(rng.randrange(6)))
    post = " ".join(
        rng.choice(_GARBAGE + _SUFFIX_ONLY) for _ in range(rng.randrange(6))
    )
    tags = ["p", "div", "li", "h2", "blockquote"]
    blocks = "".join(
        f"<{t}>{' '.join(ws)}</{t}>"
        for t, ws in (
            (rng.choice(tags), words[i : i + 6])
            for i in range(0, len(words), 6)
        )
        if ws
    )
    return f"{pre}{blocks}{post}"


def test_malformed_html_never_crashes_or_drops_wellformed_text():
    """Fuzz the segmenter with truncated/unclosed/stray/nested markup
    around a well-formed region: extraction must not raise, and every
    word of the well-formed blocks must survive into the kept tokens
    (malformed surroundings may add noise tokens, never eat content)."""
    import random

    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.functions import htmlx as H

    cfg = ExtractConfig()
    rng = random.Random(42)
    for trial in range(300):
        # multiple of 6: every generated block then has 6 words, safely
        # above min_block_words (a 2-word block is DROPPED by design)
        words = [f"w{trial}x{j}" for j in range(6 * (1 + rng.randrange(4)))]
        html = _fuzz_doc(rng, words)
        kept_tokens: set[str] = set()
        for tag, inner in H.segment_blocks(html):  # must not raise
            keep, toks = H.classify_block(tag, inner, cfg)
            if keep:
                kept_tokens.update(toks)
        missing = set(words) - kept_tokens
        assert not missing, (trial, missing, html)


def test_segmenter_recovers_same_tag_nesting_and_unclosed_blocks():
    from tesseract_ocr_service_spark.functions import htmlx as H

    # trailing content after same-tag nesting is kept (regex dropped it)
    assert H.segment_blocks("<div>a<div>b</div>c</div>") == [
        ("div", "a<div>b</div>c")
    ]
    # a block left open at EOF still emits its content
    assert H.segment_blocks("<p>tail words here") == [("p", "tail words here")]
    # unclosed script swallows to EOF (HTML5), never leaks code as text
    assert H.segment_blocks("<p>ok</p><script>var x;<p>code</p>") == [
        ("p", "ok")
    ]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=4000), min_size=1, max_size=6),
    st.integers(min_value=1, max_value=512),
)
def test_stream_inflate_roundtrips_any_member_split(members, chunk):
    """Salvage-contract property: for ANY multi-member gzip archive fed
    in ANY chunking, the stream inflater reproduces the exact
    concatenated plaintext (untruncated archives lose nothing) —
    member boundaries may fall anywhere inside a chunk."""
    import gzip

    from tesseract_ocr_service_spark.sources import warc as W

    blob = b"".join(gzip.compress(m) for m in members)
    want = b"".join(members)

    def chunks():
        for i in range(0, len(blob), chunk):
            yield blob[i : i + chunk]

    assert b"".join(W._iter_inflated_stream(chunks())) == want
