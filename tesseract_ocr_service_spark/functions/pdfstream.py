"""Deterministic synthetic PDF layout-stream codec.

Tesseract, poppler and PIL are unavailable in this environment, so the
binary-payload path is *defined* by this deterministic format: a payload
starting with the ``%PDF`` magic (the reference's routing predicate,
``ocr/main.py:380-388``) whose body encodes exactly what Tesseract's
``image_to_data`` would have produced on each corrected page — the
columnar word-record dict the whole reference pipeline pivots on
(``ocr/services/ocr_processor.py:72-77``) — plus the per-page OSD/skew
metadata the reference derives from images (``osd_worker.py:64-83``,
``skew_worker.py:55-71``).

Contract choices (documented deltas, FIXTURES.md §1b):
- word coordinates are expressed in the *corrected* frame (the reference
  runs Tesseract on the already rotated/deskewed image, so its word
  coords are post-correction too);
- page width/height in the stream are the PRE-correction render size;
  the engine computes the corrected size (see :func:`corrected_size`)
  as a deterministic stand-in for PIL's expand-on-rotate.

Wire format: ``%PDF-1.7\\n%GRAFT-LAYOUT-1\\n<json utf-8>`` — JSON keeps
the fixture human-debuggable; parse cost is once per *document*, not per
word, and stays inside the Arrow batch.
"""

from __future__ import annotations

import json
import math
from typing import Any, Optional

import numpy as np

MAGIC = b"%PDF"
HEADER = b"%PDF-1.7\n%GRAFT-LAYOUT-1\n"
#: a page whose stream carries this marker fails to parse -> empty page
#: (per-page failure isolation, ocr_processor.py:95-105).
POISON_PAGE = "__POISON_PAGE__"
#: a document carrying this marker raises during split -> error row
#: (doc-level failure, ocr_processor.py:535-542).
POISON_DOC = "__POISON_DOC__"

#: word-record tuple layout inside the stream (columnar-friendly):
#: [block_num, par_num, line_num, word_num, text, left, top, width,
#:  height, conf]
WORD_FIELDS = (
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
)
#: the range of the IntegerType fields (schema.WORD, BBOX, PAGE_SPANS)
#: every page and word number lands in at the Arrow boundary
INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1
_TEXT = WORD_FIELDS.index("text")
#: the numeric word fields, in row order without the text
_NUMERIC = WORD_FIELDS[:_TEXT] + WORD_FIELDS[_TEXT + 1:]


def _fits_int32(a: np.ndarray) -> bool:
    return bool(
        np.isfinite(a).all() and a.min() >= INT32_MIN and a.max() <= INT32_MAX
    )


def _int32(v) -> int:
    """``int(v)``, raising ValueError when it does not fit int32."""
    i = int(v)
    if not INT32_MIN <= i <= INT32_MAX:
        raise ValueError(f"{v!r} outside int32")
    return i


def encode(pages: list[dict], poison_doc: bool = False) -> bytes:
    """Encode a document. Each page dict:
    ``{page_number, width, height, rotate, skew_angle, poison?, words:
    [(block,par,line,word,text,left,top,width,height,conf), ...]}``.
    """
    body = {
        "poison_doc": bool(poison_doc),
        "pages": [
            {
                "page_number": int(p["page_number"]),
                "width": int(p["width"]),
                "height": int(p["height"]),
                "rotate": int(p.get("rotate", 0)),
                "skew_angle": float(p.get("skew_angle", 0.0)),
                "poison": bool(p.get("poison", False)),
                "words": [list(w) for w in p.get("words", [])],
            }
            for p in pages
        ],
    }
    return HEADER + json.dumps(body, ensure_ascii=False).encode("utf-8")


class DocumentParseError(Exception):
    """Raised on doc-level poison / corrupt stream -> status='error'."""


def decode(payload: bytes) -> list[dict]:
    """Decode a layout stream into page dicts (words as tuples).

    Raises :class:`DocumentParseError` on doc-level poison or a corrupt
    body (the engine converts that into an error row — the task itself
    never fails, unlike the reference which 500s, ``main.py:151-159``).
    """
    if not payload.startswith(MAGIC):
        raise DocumentParseError("missing %PDF magic")
    try:
        body = json.loads(payload[len(HEADER):].decode("utf-8"))
    except Exception as e:  # corrupt body
        raise DocumentParseError(f"corrupt layout stream: {e}") from e
    if not isinstance(body, dict) or not isinstance(body.get("pages"), list):
        raise DocumentParseError("corrupt layout stream: no pages list")
    if body.get("poison_doc"):
        raise DocumentParseError(POISON_DOC)
    pages = body["pages"]
    for p in pages:
        # the page fields the kernel reads, normalized in place: a
        # missing or non-numeric one is a corrupt stream, not a crash
        try:
            p["page_number"] = _int32(p["page_number"])
            p["width"] = _int32(p["width"])
            p["height"] = _int32(p["height"])
            p["rotate"] = _int32(p.get("rotate", 0))
            p["skew_angle"] = float(p.get("skew_angle", 0.0))
            if not math.isfinite(p["skew_angle"]):
                raise ValueError(f"skew_angle {p['skew_angle']!r}")
        except (KeyError, TypeError, ValueError, OverflowError) as e:
            raise DocumentParseError(
                f"corrupt layout stream: page {e!r}"
            ) from e
    return pages


def select_pages(
    pages: list[dict],
    page_list: Optional[tuple[int, ...]],
    page_start: Optional[int],
    page_end: Optional[int],
) -> list[dict]:
    """Page-selection priority: explicit list > range > all
    (``ocr/schemas.py:26-29``; range semantics ``pdf_processor.py:64-78``,
    list filter ``:92-100``). Improvement over the reference: the list
    branch filters BEFORE any further parsing instead of rendering all
    pages first (``pdf_processor.py:60-63`` admits the anti-pattern).
    """
    if page_list:
        keep = set(page_list)
        return [p for p in pages if p["page_number"] in keep]
    if page_start or page_end:
        lo = page_start or 1
        hi = page_end if page_end is not None else math.inf
        return [p for p in pages if lo <= p["page_number"] <= hi]
    return pages


def corrected_size(
    width: int, height: int, rotate: int, skew_angle: float, applied: bool
) -> tuple[int, int]:
    """Final page size after orientation + skew correction.

    - rotate 90/270 swaps the axes (PIL transpose, ``osd_worker.py:
      111-118``); 0/180 keep them.
    - deskew (iff applied, i.e. |angle| > threshold) expands the canvas;
      PIL computes the rotated-corner envelope — our deterministic
      stand-in: ``w' = round(w|cos a| + h|sin a|)``, ``h' = round(w|sin a|
      + h|cos a|)`` (``skew_worker.py:88-96`` rotate(expand=True)).
    """
    w, h = (height, width) if rotate in (90, 270) else (width, height)
    if applied:
        a = math.radians(abs(skew_angle))
        w, h = (
            int(round(w * math.cos(a) + h * math.sin(a))),
            int(round(w * math.sin(a) + h * math.cos(a))),
        )
    return w, h


def page_word_records(page: dict) -> list[tuple[Any, ...]]:
    """Word tuples of one page. A poisoned page raises, and so does a
    word row that is not :data:`WORD_FIELDS` wide, whose text is not a
    UTF-8-encodable string, or whose numbers are not finite and inside int32 (the bbox
    ends ``left + width`` / ``top + height`` included) — the kernel
    isolates the raise into an empty page, mirroring
    ocr_processor.py:95-105, so one bad row never fails its batch."""
    if page.get("poison"):
        raise ValueError(POISON_PAGE)
    rows = [tuple(w) for w in page["words"]]
    if any(len(w) != len(WORD_FIELDS) for w in rows):
        raise ValueError("word row width != len(WORD_FIELDS)")
    if not rows:
        return rows
    cols = list(zip(*rows))
    if not all(type(t) is str for t in cols[_TEXT]):
        raise ValueError("word text is not a string")
    # a lone surrogate (a JSON "\ud800" escape) has no UTF-8 form, so
    # it could not cross Arrow: UnicodeEncodeError is a ValueError
    "".join(cols[_TEXT]).encode("utf-8")
    # one conversion for every numeric field: a None, string, bool or
    # int beyond int64 leaves the array non-numeric
    nums = np.array(cols[:_TEXT] + cols[_TEXT + 1:])
    if nums.dtype.kind not in "iuf" or not _fits_int32(nums):
        raise ValueError("word field is not a finite int32 number")
    f = dict(zip(_NUMERIC, nums))
    right, bottom = f["left"] + f["width"], f["top"] + f["height"]
    if not (_fits_int32(right) and _fits_int32(bottom)):
        raise ValueError("word bbox end outside int32")
    return rows
