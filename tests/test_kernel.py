"""Kernel tests: routing, HTML boilerplate rules, PDF path semantics."""

from __future__ import annotations

import json
import math

import pandas as pd
import pytest

from tesseract_ocr_service_spark.config import ExtractConfig
from tesseract_ocr_service_spark.functions import htmlx, kernel, pdfstream
from tesseract_ocr_service_spark.sources import gen

from . import oracle

CFG = ExtractConfig()


def run(payloads: list[bytes | None], cfg: ExtractConfig = CFG) -> list[dict]:
    batch = pd.DataFrame(
        {
            "url": [f"https://t.example/{i}" for i in range(len(payloads))],
            "warc_ts": pd.Timestamp("2026-01-05"),
            "html": payloads,
            "lang": "eng",
        }
    )
    return kernel.extract_batch(batch, cfg).to_pylist()


def one(payload: bytes, cfg: ExtractConfig = CFG) -> dict:
    return run([payload], cfg)[0]


# ------------------------------------------------------------- routing


def test_routing_and_rejection():
    out = run(
        [
            None,
            b"",
            b"\x89PNG garbage",
            b"  <html><body><p>three word block</p></body></html>",
            pdfstream.encode([]),
        ]
    )
    assert [r["status"] for r in out] == [
        "rejected",
        "rejected",
        "rejected",
        "ok",
        "empty",
    ]
    assert out[2]["error"] == "invalid_payload"
    assert out[4]["error"] == "no pages to process"
    # rejected rows keep the document-shaped empty outputs
    assert out[0]["total_pages"] == 0
    assert out[0]["canonical_text"] == ""
    assert out[0]["avg_confidence"] == 0.0


def test_oversize_rejected():
    cfg = ExtractConfig(max_file_size_mb=1)
    big = b"<html>" + b"x" * (1024 * 1024 + 1)
    assert one(big, cfg)["error"] == "file_too_large"
    # exactly at the limit passes the gate (reference: > max_size, main.py:374)
    at_limit = (b"<p>at the limit ok</p>" + b" " * (1024 * 1024))[: 1024 * 1024]
    assert one(at_limit, cfg)["status"] == "ok"


# ------------------------------------------------------------ html path


def H(body: str) -> bytes:
    return f"<html><body>{body}</body></html>".encode("utf-8")


def test_html_boilerplate_rules():
    row = one(
        H(
            "<nav>home <a href='/'>about</a> contact</nav>"
            "<h1>Title Here</h1>"
            "<p>main content body with several meaningful words</p>"
            '<div><a href="a">one</a> <a href="b">two</a> word</div>'  # link dens 2/3
            "<p>no</p>"  # < 3 words -> dropped
            "<footer>copyright 2026</footer>"
            "<script>var x = 'dropped always';</script>"
        )
    )
    assert row["status"] == "ok"
    assert (
        row["canonical_text"]
        == "Title Here\n\nmain content body with several meaningful words"
    )
    assert row["n_blocks_kept"] == 2
    assert row["n_blocks_dropped"] == 4
    assert row["avg_confidence"] == pytest.approx(95.0)


def test_html_line_wrap_every_12_words():
    words = [f"w{i:02d}" for i in range(30)]
    row = one(H("<p>" + " ".join(words) + "</p>"))
    expected = "\n".join(
        " ".join(words[i : i + 12]) for i in range(0, 30, 12)
    )
    assert row["canonical_text"] == expected
    page = row["pages"][0]
    assert page["width"] == htmlx.PAGE_W
    assert page["height"] == 3 * htmlx.LINE_H  # 3 lines


def test_html_entities_roundtrip():
    raw = 'x < y & "z" > w\'s &clause'
    row = one(H("<p>" + htmlx.escape(raw) + "</p>"))
    assert row["canonical_text"] == raw


def test_html_unicode_content():
    row = one(H("<p>Привет мир 中文 désolé test</p>"))
    assert row["canonical_text"].encode("utf-8") == (
        "Привет мир 中文 désolé test".encode("utf-8")
    )


def test_html_spans_geometry():
    row = one(H("<p>alpha beta gamma</p>"))
    blocks = row["spans"][0]["blocks"]
    assert len(blocks) == 1
    words = blocks[0]["paragraphs"][0]["lines"][0]["words"]
    assert [w["text"] for w in words] == ["alpha", "beta", "gamma"]
    assert words[1]["left"] == htmlx.COL_W
    assert words[0]["width"] == 5 * htmlx.CHAR_W
    assert all(w["conf"] == CFG.html_word_conf for w in words)


# ------------------------------------------------------------- pdf path


def P(words, page=1, w=1000, h=1400, rotate=0, skew=0.0, poison=False):
    return {
        "page_number": page,
        "width": w,
        "height": h,
        "rotate": rotate,
        "skew_angle": skew,
        "poison": poison,
        "words": words,
    }


W = lambda b, p, ln, wn, t, conf=77: (b, p, ln, wn, t, 10 * wn, 20 * ln, 8 * len(t), 18, conf)


def _recs(words) -> list[dict]:
    """W tuples -> oracle records."""
    return [
        dict(
            block_num=b, par_num=p, line_num=ln, text=t,
            left=l, top=tp, width=wd, height=hg, conf=c,
        )
        for (b, p, ln, wn, t, l, tp, wd, hg, c) in words
    ]


def test_pdf_assembly_matches_oracle():
    words = [
        W(1, 1, 1, 1, "Hello"),
        W(1, 1, 1, 2, "world"),
        W(1, 1, 2, 1, "line2"),
        W(2, 1, 1, 1, "block2", conf=-1),
        W(1, 2, 1, 1, "par2"),
        W(1, 1, 1, 3, "  "),  # empty -> skipped in text, absent from conf<0? conf=77 counts
    ]
    row = one(pdfstream.encode([P(words)]))
    recs = _recs(words)
    assert row["canonical_text"] == oracle.assemble_text(recs)
    assert row["avg_confidence"] == pytest.approx(oracle.page_confidence(recs))
    assert row["spans"][0]["blocks"] == oracle.hierarchy(recs)
    assert row["status"] == "ok"


def test_spans_taken_per_page_match_oracle():
    """The spans column is assembled from assembly's block array by
    per-page offsets: a failed page between two good ones, a page whose
    words are all blank, a duplicate page_number (both entries show the
    key's merged blocks, as its text does) and the docs around them
    must each get their own slice; emit_spans=False gives [] per doc,
    and a batch without a single word still gives well-formed rows."""
    p1 = [W(1, 1, 1, 1, "alpha"), W(1, 1, 1, 2, "beta"), W(2, 1, 1, 1, "gamma")]
    p3 = [W(1, 1, 1, 1, "delta"), W(1, 2, 1, 1, "eps")]
    p3_dup = [W(3, 1, 1, 1, "zeta"), W(1, 1, 2, 1, "eta")]
    blank = [W(1, 1, 1, 1, "  "), W(2, 1, 1, 1, "")]
    doc = pdfstream.encode(
        [
            P(p1, page=1),
            P([W(1, 1, 1, 1, "never")], page=2, poison=True),
            P(p3, page=3),
            P(blank, page=4),
            P(p3_dup, page=3),
        ]
    )
    payloads = [H("<p>first html doc</p>"), doc, None, doc]
    rows = run(payloads)
    h3 = oracle.hierarchy(_recs(p3 + p3_dup))
    expect = [oracle.hierarchy(_recs(p1)), [], h3, h3, oracle.hierarchy(_recs(blank))]
    assert expect[4] == []
    for d in (1, 3):
        row = rows[d]
        assert [s["page_number"] for s in row["spans"]] == [1, 2, 3, 3, 4]
        assert [s["blocks"] for s in row["spans"]] == expect
        assert [(s["width"], s["height"]) for s in row["spans"]] == [
            (p["width"], p["height"]) for p in row["pages"]
        ]
        p3_text = "delta\neta\neps\n\nzeta"
        assert [p["text"] for p in row["pages"]] == [
            "alpha beta\n\ngamma", "", p3_text, p3_text, "",
        ]
    assert rows[0]["spans"][0]["blocks"][0]["paragraphs"][0]["lines"][0]["text"] == (
        "first html doc"
    )
    assert rows[2]["status"] == "rejected" and rows[2]["spans"] == []

    no_spans = run(payloads, ExtractConfig(emit_spans=False))
    assert [r["spans"] for r in no_spans] == [[]] * len(payloads)
    assert [{**r, "spans": []} for r in rows] == no_spans

    for cfg in (CFG, ExtractConfig(emit_spans=False)):
        rejected = run([None, b"junk", b""], cfg)
        assert [(r["status"], r["pages"], r["spans"]) for r in rejected] == [
            ("rejected", [], [])
        ] * 3


def test_pdf_multipage_sort_and_doc_text():
    doc = pdfstream.encode(
        [
            P([W(1, 1, 1, 1, "pageTWO")], page=2),
            P([W(1, 1, 1, 1, "pageONE")], page=1),
        ]
    )
    row = one(doc)
    assert [p["page_number"] for p in row["pages"]] == [1, 2]  # sort :507
    assert row["canonical_text"] == "pageONE\n\npageTWO"
    assert row["total_pages"] == 2


def test_page_selection_priority():
    doc = pdfstream.encode([P([W(1, 1, 1, 1, f"p{i}")], page=i) for i in (1, 2, 3, 4, 5)])
    # explicit list wins over range (ocr/schemas.py:26-29)
    cfg = ExtractConfig(pages=(1, 4), page_start=2, page_end=3)
    row = one(doc, cfg)
    assert [p["page_number"] for p in row["pages"]] == [1, 4]
    # range when no list
    cfg = ExtractConfig(page_start=2, page_end=3)
    assert [p["page_number"] for p in one(doc, cfg)["pages"]] == [2, 3]
    # open-ended range
    cfg = ExtractConfig(page_start=4)
    assert [p["page_number"] for p in one(doc, cfg)["pages"]] == [4, 5]
    cfg = ExtractConfig(page_end=2)
    assert [p["page_number"] for p in one(doc, cfg)["pages"]] == [1, 2]
    # selection that excludes everything -> empty status
    cfg = ExtractConfig(pages=(99,))
    assert one(doc, cfg)["status"] == "empty"


def test_rotation_bookkeeping_and_size_swap():
    doc = pdfstream.encode(
        [P([W(1, 1, 1, 1, "x")], rotate=90, w=1000, h=1400)]
    )
    page = one(doc)["pages"][0]
    assert page["rotation_applied"] == 90
    assert (page["width"], page["height"]) == (1400, 1000)


def test_deskew_threshold_strictly_greater():
    mk = lambda a: pdfstream.encode([P([W(1, 1, 1, 1, "x")], skew=a, w=1000, h=1000)])
    # at exactly 0.3 NOT applied (ocr_processor.py:443 strict >)
    page = one(mk(0.3))["pages"][0]
    assert page["deskew_angle"] == pytest.approx(0.3)  # reported raw (:500)
    assert (page["width"], page["height"]) == (1000, 1000)
    # above threshold: canvas expands
    page = one(mk(-2.0))["pages"][0]
    a = math.radians(2.0)
    exp = int(round(1000 * math.cos(a) + 1000 * math.sin(a)))
    assert (page["width"], page["height"]) == (exp, exp)
    assert page["deskew_angle"] == pytest.approx(-2.0)


def test_deskewed_size_beyond_int32_is_error_row():
    """A page inside int32 whose deskewed canvas is not: the corrected
    size cannot cross the Arrow boundary, so the document becomes an
    error row instead of failing its batch."""
    big = 2**31 - 1
    mk = lambda a: pdfstream.encode([P([W(1, 1, 1, 1, "x")], w=big, h=big, skew=a)])
    row = one(mk(45.0))
    assert row["status"] == "error"
    assert row["error"].startswith("corrupt layout stream")
    assert row["pages"] == [] and row["spans"] == []
    # the same page below the skew threshold keeps its size: ok
    row = one(mk(0.1))
    assert row["status"] == "ok"
    assert (row["pages"][0]["width"], row["pages"][0]["height"]) == (big, big)


def test_page_failure_isolation():
    doc = pdfstream.encode(
        [
            P([W(1, 1, 1, 1, "good")], page=1),
            P([W(1, 1, 1, 1, "never")], page=2, poison=True),
        ]
    )
    row = one(doc)
    assert row["status"] == "ok"
    p1, p2 = row["pages"]
    assert p1["text"] == "good"
    assert p2["text"] == "" and p2["confidence"] == 0.0
    assert row["spans"][1]["blocks"] == []
    # avg over pages INCLUDES the failed page's 0.0 (ocr_processor.py:510)
    assert row["avg_confidence"] == pytest.approx(77.0 / 2)


def test_doc_level_poison_is_error_row():
    doc = pdfstream.encode([P([W(1, 1, 1, 1, "x")])], poison_doc=True)
    row = one(doc)
    assert row["status"] == "error"
    assert row["total_pages"] == 0 and row["pages"] == []
    assert pdfstream.POISON_DOC in row["error"]


def test_block_counters_pdf():
    words = [W(1, 1, 1, 1, "a"), W(3, 1, 1, 1, "b"), W(5, 1, 1, 1, "  ")]
    row = one(pdfstream.encode([P(words)]))
    assert row["n_blocks_kept"] == 2  # block 5 has only empty text
    assert row["n_words"] == 2
    assert row["n_chars"] == len("a\n\nb")


@pytest.mark.parametrize(
    "body, status",
    [
        ([], "error"),  # not an object
        ({"nopages": 1}, "error"),  # no pages list
        # a page without width
        ({"pages": [{"page_number": 1, "height": 10, "words": []}]}, "error"),
        # a word row narrower than WORD_FIELDS fails its page only
        (
            {"pages": [{"page_number": 1, "width": 10, "height": 10,
                        "words": [[1]]}]},
            "ok",
        ),
        # a word row of the wrong types, or beyond the int32 output
        # fields, fails its page only
        *(
            (
                {"pages": [{"page_number": 1, "width": 10, "height": 10,
                            "words": [[1, 1, 1, 1, "a", 1, 2, 3, 4, 50], bad]}]},
                "ok",
            )
            for bad in (
                [1, 1, 1, 2, "b", "abc", 2, 3, 4, 50],  # left not a number
                [1, 1, 1, 2, "b", 1, 2, 3, 4, "x"],  # conf not a number
                [None, 1, 1, 2, "b", 1, 2, 3, 4, 50],  # block_num null
                [1, 1, 1, 2, 7, 1, 2, 3, 4, 50],  # text not a string
                [1, 1, 1, 2, "\ud800", 1, 2, 3, 4, 50],  # text without UTF-8
                [1, 1, 1, 2, "b", 2**40, 2, 3, 4, 50],  # left beyond int32
                [1, 1, 1, 2, "b", 2**31 - 1, 2, 3, 4, 50],  # right beyond int32
                [1, 1, 1, 2, "b", 1, 2, 3, 4, float("nan")],  # conf not finite
            )
        ),
        # page meta beyond int32 is a corrupt stream
        *(
            (
                {"pages": [{"page_number": 1, "width": 10, "height": 10,
                            "rotate": 0, "words": [], field: 2**40}]},
                "error",
            )
            for field in ("page_number", "width", "height", "rotate")
        ),
        # a skew angle that is not finite is a corrupt stream
        (
            {"pages": [{"page_number": 1, "width": 10, "height": 10,
                        "skew_angle": float("inf"), "words": []}]},
            "error",
        ),
    ],
)
def test_malformed_layout_stream_gives_row_not_task_failure(body, status):
    row = one(pdfstream.HEADER + json.dumps(body).encode("utf-8"))
    assert row["status"] == status
    if status == "error":
        assert row["error"].startswith("corrupt layout stream")
        assert row["pages"] == []
    else:
        [page] = row["pages"]
        assert page["text"] == "" and page["confidence"] == 0.0
        assert row["spans"][0]["blocks"] == []
        assert row["n_words"] == 0 and row["n_blocks_kept"] == 0


def test_fractional_word_numbers_truncate_toward_zero():
    """A layout stream's numbers may carry a fraction: each output
    number is its value truncated toward zero, bbox ends computed
    before the cut (the values the tuple-built spans gave)."""
    words = [
        [1, 1, 1, 1, "a", 1.5, 2, 3, 4, 96.7],
        [1, 1, 1, 2, "b", -0.5, 2.5, 3.5, 4, -0.5],
    ]
    row = one(
        pdfstream.HEADER
        + json.dumps(
            {"pages": [{"page_number": 1, "width": 10, "height": 10, "words": words}]}
        ).encode("utf-8")
    )
    bbox = {"left": 0, "top": 2, "right": 4, "bottom": 6}
    assert row["status"] == "ok" and row["avg_confidence"] == 48.0
    assert row["spans"][0]["blocks"] == [
        {
            "block_id": 1,
            "bbox": bbox,
            "paragraphs": [
                {
                    "par_id": 1,
                    "bbox": bbox,
                    "lines": [
                        {
                            "line_id": 1,
                            "text": "a b",
                            "bbox": bbox,
                            "words": [
                                {"text": "a", "left": 1, "top": 2, "width": 3,
                                 "height": 4, "conf": 96},
                                {"text": "b", "left": 0, "top": 2, "width": 3,
                                 "height": 4, "conf": 0},
                            ],
                        }
                    ],
                }
            ],
        }
    ]


def test_counters_independent_of_spans_and_match_hierarchy():
    """n_words / n_blocks_kept come from the assembly pass: the same
    with and without spans, and equal to the hierarchy's totals."""
    batch = gen.gen_batch(list(range(300)), seed=11)
    with_spans = kernel.extract_batch(batch, ExtractConfig(emit_spans=True)).to_pylist()
    no_spans = kernel.extract_batch(batch, ExtractConfig(emit_spans=False)).to_pylist()
    kinds = {
        "pdf" if p.startswith(pdfstream.MAGIC) else "html"
        for p, row in zip(batch["html"], with_spans)
        if p is not None and row["status"] == "ok"
    }
    assert kinds == {"pdf", "html"}
    for c in ("n_words", "n_blocks_kept", "n_blocks_dropped"):
        assert [r[c] for r in with_spans] == [r[c] for r in no_spans], c
    ok = [r for r in with_spans if r["status"] == "ok"]
    assert len(ok) and sum(r["n_words"] for r in ok) > 0
    for row in ok:
        blocks = [b for page in row["spans"] for b in page["blocks"]]
        words = [
            w
            for b in blocks
            for par in b["paragraphs"]
            for line in par["lines"]
            for w in line["words"]
        ]
        assert row["n_blocks_kept"] == len(blocks)
        assert row["n_words"] == len(words)


def test_batch_mixed_kinds_alignment():
    """Outputs stay row-aligned when kinds interleave in one batch."""
    out = run(
        [
            H("<p>first html doc</p>"),
            pdfstream.encode([P([W(1, 1, 1, 1, "pdfdoc")])]),
            b"junk",
            H("<p>second html doc</p>"),
        ]
    )
    assert [r["canonical_text"] for r in out] == [
        "first html doc",
        "pdfdoc",
        "",
        "second html doc",
    ]
    assert [r["status"] for r in out] == ["ok", "ok", "rejected", "ok"]


# ------------------------------------------------- per-row config columns


def _three_page_doc() -> bytes:
    return pdfstream.encode(
        [
            {
                "page_number": p,
                "width": 100,
                "height": 200,
                "words": [(1, 1, 1, 1, f"p{p}", 0, 0, 10, 10, 90)],
            }
            for p in (1, 2, 3)
        ]
    )


def test_per_row_page_selection_overrides_config():
    """Optional pages/page_start/page_end columns override ExtractConfig
    per document; NULL falls back (ocr/main.py:104-131 per-request
    OCRConfig)."""
    doc = _three_page_doc()
    html = b"<html><body><p>one two three four</p></body></html>"
    batch = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(5)],
            "warc_ts": pd.Timestamp("2026-01-05"),
            "html": [doc, doc, doc, doc, html],
            "lang": "eng",
            # explicit list wins over the row's own range (priority rule)
            "pages": [[2], None, None, [1, 3], None],
            "page_start": [1.0, 2.0, None, 1.0, 2.0],
            "page_end": [1.0, None, 2.0, None, float("nan")],
        }
    )
    out = kernel.extract_batch(batch, ExtractConfig()).to_pylist()
    assert [p["page_number"] for p in out[0]["pages"]] == [2]
    assert [p["page_number"] for p in out[1]["pages"]] == [2, 3]
    assert [p["page_number"] for p in out[2]["pages"]] == [1, 2]
    assert [p["page_number"] for p in out[3]["pages"]] == [1, 3]
    # html doc: page_start=2 excludes the synthetic page 1 -> empty
    assert out[4]["status"] == "empty"


def test_per_row_null_falls_back_to_job_config():
    doc = _three_page_doc()
    batch = pd.DataFrame(
        {
            "url": ["u0"],
            "warc_ts": pd.Timestamp("2026-01-05"),
            "html": [doc],
            "lang": "eng",
            "pages": [None],
            "page_start": [None],
            "page_end": [None],
        }
    )
    out = kernel.extract_batch(batch, ExtractConfig(page_end=2)).to_pylist()
    assert [p["page_number"] for p in out[0]["pages"]] == [1, 2]


def test_flow_template_fallback_matches_cached_path():
    """Blocks over the 4096-token cache threshold take the uncached
    branch; geometry must be identical to the cached formula."""
    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.functions import htmlx

    n = 5000
    html = "<html><body><p>" + " ".join(
        f"w{i}" for i in range(n)
    ) + "</p></body></html>"
    cfg = ExtractConfig()
    cols, kept, dropped, page_h = htmlx.extract_words_columnar(html, cfg)
    blk, par, line, text, left, top, wid, hgt, conf = cols
    assert kept == 1 and dropped == 0 and len(text) == n
    wrap = cfg.line_wrap_words
    n_lines = (n + wrap - 1) // wrap
    assert line[-1] == n_lines
    assert left[wrap] == 0 and top[wrap] == htmlx.LINE_H
    assert top[-1] == (n_lines - 1) * htmlx.LINE_H
    assert page_h == n_lines * htmlx.LINE_H
    # same values as the cached small-block path, block by block
    small = "<html><body>" + "".join(
        "<p>" + " ".join(f"w{i}" for i in range(13)) + "</p>"
        for _ in range(2)
    ) + "</body></html>"
    cols2, k2, _, _ = htmlx.extract_words_columnar(small, cfg)
    assert k2 == 2
    assert cols2[2][:13] == [1] * 12 + [2]  # line wraps at 12


# -------------------------------------------------- content-type gate


def test_content_type_gate_batch_level():
    """The reference's declared-type gate (ocr/main.py:354-363) is
    applied by the kernel to a ``content_type`` column
    (kernel.content_type_allowed): a disallowed type rejects with
    invalid_file_type BEFORE size/magic (a gated row's payload is never
    sniffed); an allowed type, NULL, an absent column or
    ``allowed_content_types=None`` = gate off."""
    html = b"<html><body><p>three word block</p></body></html>"
    batch = pd.DataFrame(
        {
            "url": ["a", "b", "c"],
            "warc_ts": pd.Timestamp("2026-01-05"),
            "html": [html, html, b"\x89PNG garbage"],
            "lang": "eng",
            "content_type": ["image/png", "Text/HTML; charset=UTF-8", None],
        }
    )
    out = kernel.extract_batch(batch, CFG).to_pylist()
    assert [r["status"] for r in out] == ["rejected", "ok", "rejected"]
    assert out[0]["error"] == "invalid_file_type"
    assert out[2]["error"] == "invalid_payload"  # NULL type: gate passes
    off = kernel.extract_batch(batch, ExtractConfig(allowed_content_types=None))
    assert [r["status"] for r in off.to_pylist()] == ["ok", "ok", "rejected"]
    # without the column, nothing changes (existing suite pins that)
    out2 = run([html])
    assert out2[0]["status"] == "ok"


#: declared types built from the allow-list's letters and the
#: characters where Spark's string functions and Arrow's could part:
#: 'İ' (Java lower-cases it to 'i' + U+0307, Arrow to 'i'), the Kelvin
#: sign (both: 'k'), 'ß', dotless and long s, NBSP, tabs, newlines
#: (Spark's trim strips U+0020 only)
_CT_CHARS = list("aApPlLiIcCtTkKoOnNdDfFhHmMsSrReE/;=- ") + [
    "İ", "\u212a", "ß", "ı", "ſ", "\xa0", "\t", "\n",
]


#: allow-lists the gate is compared under: the default, and one whose
#: entry has a 'k' (the Kelvin sign lower-cases to it)
_ALLOW_LISTS = [CFG.allowed_content_types, ("text/markdown",)]


def _declared_types():
    from hypothesis import strategies as st

    listed = st.sampled_from([t for a in _ALLOW_LISTS for t in a])
    noise = st.text(alphabet=st.sampled_from(_CT_CHARS), max_size=4)
    cased = st.builds(
        lambda t, flips: "".join(
            c.upper() if f else c for c, f in zip(t, flips + [False] * len(t))
        ),
        listed,
        st.lists(st.booleans(), max_size=24),
    )
    # one character of a listed type swapped for a trap
    swapped = st.builds(
        lambda t, i, c: t[: i % len(t)] + c + t[i % len(t) + 1 :],
        listed,
        st.integers(0, 23),
        st.sampled_from(["İ", "\u212a", "ı", "ſ", "\xa0", "\t", "ß"]),
    )
    return st.one_of(
        st.none(),
        st.text(alphabet=st.sampled_from(_CT_CHARS), max_size=24),
        cased,
        swapped,
        st.builds(lambda a, b, c: a + b + c, noise, st.one_of(cased, swapped), noise),
    )


def test_arrow_content_type_gate_equals_spark_expression(spark):
    """kernel.content_type_allowed (the gate the kernel applies) equals
    operators.extract.content_type_ok (the Spark expression the SQL
    oracle's content_type_gate keeps) on generated declared types,
    under the default allow-list and one with a 'k'."""
    import pyarrow as pa
    from hypothesis import example, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from tesseract_ocr_service_spark.operators import extract as X

    @settings(max_examples=40, deadline=None)
    @given(st.lists(_declared_types(), min_size=1, max_size=40))
    @example(["applİcation/pdf", "text/mar\u212adown", " text/html\t", "\xa0"])
    def check(values):
        df = spark.createDataFrame(
            pd.DataFrame({"c": pd.Series(values, dtype=object)}), "c string"
        )
        got = df.select(
            *(
                X.content_type_ok(F.col("c"), a).alias(f"a{i}")
                for i, a in enumerate(_ALLOW_LISTS)
            )
        ).collect()
        for i, allowed in enumerate(_ALLOW_LISTS):
            arrow = kernel.content_type_allowed(pa.array(values, pa.string()), allowed)
            assert arrow.to_pylist() == [r[f"a{i}"] for r in got], allowed

    check()


def test_content_type_gate_e2e(spark):
    """extract() hands a `content_type` column to the kernel, which
    takes the verdict (kernel.content_type_allowed: parameter-strip +
    case-fold + allow-list, NULL/empty tolerated) — one implementation
    of the gate semantics, checked end to end through the fused
    kernel."""
    from pyspark.sql import functions as F

    from tesseract_ocr_service_spark.operators import extract as X

    html = b"<html><body><p>three word block here</p></body></html>"
    rows = [
        ("u_html", html, "Text/HTML; charset=UTF-8"),
        ("u_png", html, "image/png"),
        ("u_none", html, None),
        ("u_empty", html, ""),
        ("u_octet", html, "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string"
    ).select(
        "url",
        F.lit("2026-01-05 00:00:00").cast("timestamp").alias("warc_ts"),
        "html",
        F.lit("eng").alias("lang"),
        "content_type",
    )
    got = {
        r["url"]: (r["status"], r["error"])
        for r in X.extract(df).select("url", "status", "error").collect()
    }
    assert got["u_png"] == ("rejected", "invalid_file_type")
    for u in ("u_html", "u_none", "u_empty", "u_octet"):
        assert got[u][0] == "ok", (u, got[u])
    # allowed_content_types=None disables the gate entirely
    off = X.extract(df, ExtractConfig(allowed_content_types=None))
    assert all(r["status"] == "ok" for r in off.select("status").collect())
