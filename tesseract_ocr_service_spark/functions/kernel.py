"""The fused extraction kernel: one Arrow batch in, one batch out.

Replaces the reference's whole per-document pipeline — split -> OSD ->
rotate -> deskew -> OCR -> assemble -> coordinates
(``ocr/services/ocr_processor.py:325-533``) — with a single pandas pass
over a batch of documents. Where the reference crosses a process
boundary five times per document (pickling full-resolution images into
ProcessPoolExecutor workers at :400-401,:425-426,:456-457), this kernel
crosses the JVM<->Python Arrow boundary once per *batch*; the three
stage barriers fuse away entirely.

Granularity note ("zero per-row Python", BASELINE.json input_hint): the
Spark plan contains no row-at-a-time Python UDF — only ``mapInPandas``
over Arrow batches. Inside the kernel, payload routing/parsing is O(1)
per *document* (the document is the row; parsing a payload is inherently
per-document), while all word-level work — sorting, grouping, text
assembly, bbox envelopes, confidence means — is columnar pandas/numpy
over the concatenated word table of the whole batch.

Failure semantics (never fail the Spark task):
- bad magic / oversize / null  -> status='rejected' (ocr/main.py:335-390)
- doc-level parse error/poison -> status='error', pages=[]
  (ocr_processor.py:535-542)
- zero pages after selection   -> status='empty' (ocr_processor.py:386-392)
- page-level poison            -> page kept with text='', confidence=0.0,
  blocks=[] (ocr_processor.py:95-105)
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd

from ..config import (
    STATUS_EMPTY,
    STATUS_ERROR,
    STATUS_OK,
    STATUS_REJECTED,
    ExtractConfig,
)
from . import assembly, htmlx, pdfstream

_REC_COLS = [
    "doc",
    "page_number",
    "block_num",
    "par_num",
    "line_num",
    "text",
    "left",
    "top",
    "width",
    "height",
    "conf",
]

def _route(
    payload: Any, max_bytes: int, ct_reject: bool = False
) -> tuple[str, str | None]:
    """-> (kind, reject_reason). kind in {'pdf','html','rejected'}.

    Mirrors the reference's validation order (ocr/main.py:335-390):
    declared Content-Type first (:354-363), then size, then magic. HTML
    (leading '<') is a new accepted payload kind per the north_star;
    anything else is rejected, as a status row rather than an HTTP
    400/413.

    ``ct_reject`` is the Content-Type gate's PRE-COMPUTED verdict: the
    normalization + allow-list decision is one JVM expression
    (operators.extract.content_type_ok) evaluated before the kernel and
    riding in as a boolean column, so exactly ONE implementation of the
    gate semantics exists and the kernel stays string-logic-free. Rows
    without a content_type column never set it (gate off — the
    reference likewise tolerates an absent declared type)."""
    if ct_reject:
        # reference: HTTP 400 invalid_file_type (ocr/main.py:357-363),
        # checked BEFORE the file is even read.
        return "rejected", "invalid_file_type"
    if payload is None or len(payload) == 0:
        return "rejected", "empty_payload"
    if len(payload) > max_bytes:
        return "rejected", "file_too_large"
    if payload.startswith(pdfstream.MAGIC):
        return "pdf", None
    # HTML detection contract: a UTF-8 BOM is stripped, then the first
    # non-whitespace byte within the first 256 bytes must be '<'. The
    # 256-byte cap is deliberate (documented contract): lstrip() on the
    # full payload would copy up to max_file_size bytes per document in
    # the kernel hot path, and real HTML with >256 bytes of leading
    # whitespace does not occur in crawl data.
    head = payload[:259]
    if head[:3] == b"\xef\xbb\xbf":
        head = head[3:]
    if head.lstrip()[:1] == b"<":
        return "html", None
    return "rejected", "invalid_payload"


def _row_selections(
    batch: pd.DataFrame, cfg: ExtractConfig, n: int
) -> list[tuple]:
    """Per-document page selection: optional per-row columns ``pages``
    (array<int>), ``page_start``, ``page_end`` override the job-level
    config field-by-field (NULL falls back to the ExtractConfig value).

    This completes the reference's per-request OCRConfig contract
    (ocr/main.py:104-131; field semantics ocr/schemas.py:26-29) — the
    priority rule (explicit list > range > all) is applied downstream by
    pdfstream.select_pages on the resolved values.
    """
    if not ({"pages", "page_start", "page_end"} & set(batch.columns)):
        return [(cfg.pages, cfg.page_start, cfg.page_end)] * n

    def _col(name):  # an absent column is all NULL
        return batch[name].tolist() if name in batch.columns else [None] * n

    def _int(v, default):  # Arrow nullable ints arrive as float NaN
        return default if v is None or v != v else int(v)

    return [
        (
            cfg.pages if pl is None else tuple(int(x) for x in pl),
            _int(ps, cfg.page_start),
            _int(pe, cfg.page_end),
        )
        for pl, ps, pe in zip(
            _col("pages"), _col("page_start"), _col("page_end")
        )
    ]


def _html_page(payload: bytes, cfg: ExtractConfig) -> tuple[dict, int]:
    """HTML payload -> (its single page, in the shape pdfstream.decode
    gives a PDF page, with the word columns attached; n_blocks_dropped).
    Any parse failure becomes a doc-level error row."""
    try:
        wcols, _, dropped, page_h = htmlx.extract_words_columnar(
            payload.decode("utf-8", errors="replace"), cfg
        )
    except Exception as e:  # defensive: never fail the task
        raise pdfstream.DocumentParseError(f"html_parse_error: {e}") from e
    page = {
        "page_number": 1,
        "width": htmlx.PAGE_W,
        "height": page_h,
        "rotate": 0,
        "skew_angle": 0.0,
        "columns": wcols,
    }
    return page, dropped


def extract_batch(batch: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Extract one Arrow batch of pages rows -> one wide row per document.

    Input columns: url, warc_ts, html, lang (the noise column ``text`` is
    pruned before the kernel — column-pruning is part of the contract),
    plus the optional per-row config columns ``pages``/``page_start``/
    ``page_end`` (see :func:`_row_selections`).
    Output columns: schema.EXTRACTED_SCHEMA.

    Both payload kinds run one page loop: an HTML document is a single
    synthetic page (page_number=1) carrying its word columns, so page
    selection, page meta and the word table are shared with PDF pages.
    """
    n = len(batch)
    urls = batch["url"].tolist()
    payloads = batch["html"].tolist()
    selections = _row_selections(batch, cfg, n)
    # pre-computed Content-Type verdicts (see _route): absent column =
    # gate off for the whole batch. isinstance-guarded truthiness, not
    # bool(x) — a NULL boolean crosses Arrow as None/NaN/pd.NA and
    # must mean OFF (bool(nan) is True; pd.NA truthiness raises) —
    # and not `x is True`, which misses np.bool_ values riding an
    # object-dtype column from pandas-facing callers.
    ct_rej = (
        [
            isinstance(x, (bool, np.bool_)) and bool(x)
            for x in batch["_ct_reject"].tolist()
        ]
        if "_ct_reject" in batch.columns
        else [False] * n
    )

    # per-doc state -------------------------------------------------
    status = [STATUS_OK] * n
    error: list[str | None] = [None] * n
    # page meta: doc -> list of dicts (page_number, rotation_applied,
    # deskew_angle, width, height, failed)
    page_meta: list[list[dict]] = [[] for _ in range(n)]
    blocks_dropped = [0] * n

    # word-record accumulator — COLUMNAR (per-column python lists feed
    # pandas one typed array per column; object-row tuples cost a full
    # per-cell convert pass). Order of appends = arrival order.
    cols: dict[str, list] = {c: [] for c in _REC_COLS}
    _c_doc = cols["doc"]
    _c_page = cols["page_number"]
    _WORD_COLS = _REC_COLS[2:]  # block..conf: WORD_FIELDS minus word_num

    for d in range(n):
        kind, reason = _route(
            payloads[d], cfg.max_file_size_bytes, ct_rej[d]
        )
        if kind == "rejected":
            status[d] = STATUS_REJECTED
            error[d] = reason
            continue

        try:
            if kind == "pdf":
                pages = pdfstream.select_pages(
                    pdfstream.decode(payloads[d]), *selections[d]
                )
            # page selection applies uniformly to both payload kinds and
            # is checked before the HTML is parsed: a selection that
            # excludes page 1 empties the document.
            elif pdfstream.select_pages([{"page_number": 1}], *selections[d]):
                page, blocks_dropped[d] = _html_page(payloads[d], cfg)
                pages = [page]
            else:
                pages = []
        except pdfstream.DocumentParseError as e:
            status[d] = STATUS_ERROR
            error[d] = str(e)
            continue
        if not pages:
            # reference: success=False, "PDF не содержит страниц..."
            # (ocr_processor.py:386-392) — here a typed status instead.
            status[d] = STATUS_EMPTY
            error[d] = "no pages to process"
            continue

        for p in pages:
            angle = p["skew_angle"]
            applied = abs(angle) > cfg.skew_threshold  # strict > (:443)
            w, h = pdfstream.corrected_size(
                p["width"], p["height"], p["rotate"], angle, applied
            )
            meta = {
                "page_number": p["page_number"],
                # rotation applied whenever rotate != 0, ignoring the dead
                # osd_confidence_threshold (SURVEY.md §4).
                "rotation_applied": p["rotate"],
                # detected angle reported even when below threshold
                # (ocr_processor.py:500 reports skew_angles[] raw).
                "deskew_angle": angle,
                "width": w,
                "height": h,
                "failed": False,
            }
            page_meta[d].append(meta)
            if kind == "html":
                wcols = p["columns"]
            else:
                try:
                    rows = pdfstream.page_word_records(p)
                except Exception:
                    meta["failed"] = True  # empty text/conf/blocks, page kept
                    continue
                # row tuples -> columns, C-fast; word_num (field 3) is
                # skipped: arrival order decides word order in a line
                wcols = list(zip(*rows))
                del wcols[3:4]
            nw = len(wcols[0]) if wcols else 0
            if nw:
                _c_doc.extend([d] * nw)
                _c_page.extend([p["page_number"]] * nw)
                for name, col in zip(_WORD_COLS, wcols):
                    cols[name].extend(col)

    # ---- batch-wide columnar pass over the word table ---------------
    # Arrays, not a pandas DataFrame: constructing a dict-of-lists
    # frame consolidates all int columns into one 2D block (vstack) —
    # profiled at ~40% of the whole kernel. The assembly contract
    # functions take the columns directly, and the assembly pass also
    # yields the per-doc word and kept-block counters.
    text_map, spans_map, nwords_map, nblocks_map = (
        assembly.assemble_pages_arrays(
            _c_doc,
            _c_page,
            cols["block_num"],
            cols["par_num"],
            cols["line_num"],
            cols["text"],  # str: htmlx tokens, or checked by page_word_records
            cols["left"],
            cols["top"],
            cols["width"],
            cols["height"],
            cols["conf"],
            emit_spans=cfg.emit_spans,
        )
    )
    conf_map = {
        (doc, pn): c
        for doc, pn, c in assembly.page_confidence_arrays(
            _c_doc, _c_page, cols["conf"]
        )
    }

    # ---- compose per-doc outputs ------------------------------------
    out_pages: list[list[dict]] = []
    out_spans: list[list[dict]] = []
    canonical: list[str] = []
    avg_conf: list[float] = []
    total_pages: list[int] = []
    n_chars: list[int] = []

    for d in range(n):
        metas = sorted(page_meta[d], key=lambda m: m["page_number"])  # :507
        pages_out = []
        spans_out = []
        page_texts = []
        for m in metas:
            key = (d, m["page_number"])
            failed = m["failed"]
            txt = "" if failed else text_map.get(key, "")
            conf = 0.0 if failed else conf_map.get(key, 0.0)
            pages_out.append(
                {
                    "page_number": m["page_number"],
                    "text": txt,
                    "confidence": conf,
                    "rotation_applied": m["rotation_applied"],
                    "deskew_angle": m["deskew_angle"],
                    "width": m["width"],
                    "height": m["height"],
                }
            )
            if cfg.emit_spans:
                spans_out.append(
                    {
                        "page_number": m["page_number"],
                        "width": m["width"],
                        "height": m["height"],
                        "blocks": [] if failed else spans_map.get(key, []),
                    }
                )
            page_texts.append(txt)
        out_pages.append(pages_out)
        out_spans.append(spans_out)
        # document text: pages joined "\n\n" (engine contract — the
        # reference returns per-page texts only; a single separator rule
        # makes the document-level column deterministic).
        canonical.append("\n\n".join(page_texts))
        avg_conf.append(
            sum(p["confidence"] for p in pages_out) / len(pages_out)
            if pages_out
            else 0.0  # ocr_processor.py:510
        )
        total_pages.append(len(pages_out))
        n_chars.append(sum(len(t) for t in page_texts))

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": batch["warc_ts"].values,
            "lang": batch["lang"].values,
            "status": status,
            "error": error,
            "total_pages": total_pages,
            "avg_confidence": avg_conf,
            "canonical_text": canonical,
            "pages": out_pages,
            "spans": out_spans,
            "n_blocks_kept": [nblocks_map.get(d, 0) for d in range(n)],
            "n_blocks_dropped": blocks_dropped,
            "n_words": [nwords_map.get(d, 0) for d in range(n)],
            "n_chars": n_chars,
        }
    )


def kernel_iter(
    batches: Iterable[pd.DataFrame],
    cfg: ExtractConfig,
    day_acc=None,
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` entrypoint: lazily extract each Arrow batch.

    ``day_acc`` (optional Spark accumulator of dict[str, float], see
    ``plans.commit._DayMsParam``) collects kernel wall milliseconds
    attributed per warc_day: each batch's wall is split proportionally
    to its per-day row counts. Its day keys are the pandas mirror of
    ``operators.extract.warc_day`` (the lineage key);
    ``test_lineage_per_day_kernel_ms`` pins that the two agree.
    Semantics are Spark's for accumulators in transformations —
    at-least-once under task retry — so the numbers are metrics, not an
    audit log."""
    import time as _time

    for batch in batches:
        if not len(batch):
            continue
        t0 = _time.perf_counter()
        out = extract_batch(batch, cfg)
        if day_acc is not None:
            ms = (_time.perf_counter() - t0) * 1000.0
            # count on the normalized datetime64 (vectorized), format
            # only the handful of UNIQUE day keys — per-row strftime is
            # object-dtype string work on the kernel hot path
            counts = batch["warc_ts"].dt.normalize().value_counts()
            total = int(counts.sum()) or 1
            day_acc.add(
                {str(d.date()): ms * int(c) / total for d, c in counts.items()}
            )
        yield out
