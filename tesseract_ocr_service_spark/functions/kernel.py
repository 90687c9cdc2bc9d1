"""The fused extraction kernel: one Arrow batch in, one batch out.

Replaces the reference's whole per-document pipeline — split -> OSD ->
rotate -> deskew -> OCR -> assemble -> coordinates
(``ocr/services/ocr_processor.py:325-533``) — with a single pass over
a batch of documents. Where the reference crosses a process
boundary five times per document (pickling full-resolution images into
ProcessPoolExecutor workers at :400-401,:425-426,:456-457), this kernel
crosses the JVM<->Python Arrow boundary once per *batch*; the three
stage barriers fuse away entirely.

Granularity note ("zero per-row Python", BASELINE.json input_hint): the
Spark plan contains no row-at-a-time Python UDF — only ``mapInArrow``
over Arrow batches. Inside the kernel, payload routing/parsing is O(1)
per *document* (the document is the row; parsing a payload is inherently
per-document), while all word-level work — sorting, grouping, text
assembly, bbox envelopes, confidence means — is columnar numpy over the
concatenated word table of the whole batch. The output leaves as Arrow
arrays: the span hierarchy is nested ``ListArray``s built from the
group offsets (functions/assembly.py), never a Python object per node.

Failure semantics (never fail the Spark task):
- bad magic / oversize / null  -> status='rejected' (ocr/main.py:335-390)
- doc-level parse error/poison -> status='error', pages=[]
  (ocr_processor.py:535-542); so is a page whose corrected size
  leaves int32
- zero pages after selection   -> status='empty' (ocr_processor.py:386-392)
- page-level poison            -> page kept with text='', confidence=0.0,
  blocks=[] (ocr_processor.py:95-105)
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pyarrow as pa

from ..config import (
    STATUS_EMPTY,
    STATUS_ERROR,
    STATUS_OK,
    STATUS_REJECTED,
    ExtractConfig,
)
from ..schema import EXTRACTED_ARROW
from . import assembly, htmlx, pdfstream

#: the input columns the kernel reads (schema.PAGES_SCHEMA minus the
#: noise column ``text``, plus the optional per-row config and the
#: pre-computed Content-Type verdict)
_INPUT_COLS = (
    "url", "warc_ts", "html", "lang",
    "pages", "page_start", "page_end", "_ct_reject",
)
_PAGES = EXTRACTED_ARROW.field("pages").type
_SPANS = EXTRACTED_ARROW.field("spans").type
_WARC_TS = EXTRACTED_ARROW.field("warc_ts").type

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
    batch: pa.RecordBatch, cfg: ExtractConfig, n: int
) -> list[tuple]:
    """Per-document page selection: optional per-row columns ``pages``
    (array<int>), ``page_start``, ``page_end`` override the job-level
    config field-by-field (NULL falls back to the ExtractConfig value).

    This completes the reference's per-request OCRConfig contract
    (ocr/main.py:104-131; field semantics ocr/schemas.py:26-29) — the
    priority rule (explicit list > range > all) is applied downstream by
    pdfstream.select_pages on the resolved values.
    """
    names = batch.schema.names
    if not ({"pages", "page_start", "page_end"} & set(names)):
        return [(cfg.pages, cfg.page_start, cfg.page_end)] * n

    def _col(name):  # an absent column is all NULL
        return batch.column(name).to_pylist() if name in names else [None] * n

    def _int(v, default):  # a pandas float column's NaN arrives as None
        return default if v is None else int(v)

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


def _arrow_input(batch) -> pa.RecordBatch:
    """The input batch as Arrow. ``mapInArrow`` hands the kernel a
    ``RecordBatch``; a pandas frame (unit tests, perfbench's in-process
    probe) is converted, the columns the kernel reads only."""
    if isinstance(batch, pa.RecordBatch):
        return batch
    cols = [c for c in _INPUT_COLS if c in batch.columns]
    return pa.RecordBatch.from_pandas(batch[cols], preserve_index=False)


def _page_size(p: dict, cfg: ExtractConfig) -> tuple[int, int]:
    """The page's corrected (width, height). A size outside int32 — a
    huge page deskewed — is a corrupt stream: it could not cross the
    Arrow boundary, and one bad document must not fail its batch."""
    applied = abs(p["skew_angle"]) > cfg.skew_threshold  # strict > (:443)
    w, h = pdfstream.corrected_size(
        p["width"], p["height"], p["rotate"], p["skew_angle"], applied
    )
    if not all(pdfstream.INT32_MIN <= v <= pdfstream.INT32_MAX for v in (w, h)):
        raise pdfstream.DocumentParseError(
            f"corrupt layout stream: page {p['page_number']} corrected "
            f"size {w}x{h} outside int32"
        )
    return w, h


def extract_batch(batch, cfg: ExtractConfig) -> pa.RecordBatch:
    """Extract one batch of pages rows -> one wide row per document.

    Input: a ``pa.RecordBatch`` (or a pandas frame, see
    :func:`_arrow_input`) with columns url, warc_ts, html, lang (the
    noise column ``text`` is pruned before the kernel — column-pruning
    is part of the contract), plus the optional per-row config columns
    ``pages``/``page_start``/``page_end`` (see :func:`_row_selections`).
    Output: a ``pa.RecordBatch`` in ``schema.EXTRACTED_ARROW``; url,
    warc_ts and lang pass straight from the input, the span hierarchy
    is assembly's Arrow arrays taken per page.

    Both payload kinds run one page loop: an HTML document is a single
    synthetic page (page_number=1) carrying its word columns, so page
    selection, page meta and the word table are shared with PDF pages.
    """
    batch = _arrow_input(batch)
    n = batch.num_rows
    payloads = batch.column("html").to_pylist()
    selections = _row_selections(batch, cfg, n)
    # pre-computed Content-Type verdicts (see _route): absent column =
    # gate off for the whole batch, and a NULL verdict means OFF.
    ct_rej = (
        [x is True for x in batch.column("_ct_reject").to_pylist()]
        if "_ct_reject" in batch.schema.names
        else [False] * n
    )

    # per-doc state -------------------------------------------------
    status = [STATUS_OK] * n
    error: list[str | None] = [None] * n
    # page meta: doc -> list of (page_number, rotation_applied,
    # deskew_angle, width, height, failed)
    page_meta: list[list[tuple]] = [[] for _ in range(n)]
    blocks_dropped = [0] * n

    # word-record accumulator — COLUMNAR (per-column python lists feed
    # numpy one typed array per column; object-row tuples cost a full
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
            sizes = [_page_size(p, cfg) for p in pages]
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

        for p, (w, h) in zip(pages, sizes):
            failed = False
            if kind == "html":
                wcols = p["columns"]
            else:
                try:
                    rows = pdfstream.page_word_records(p)
                except Exception:
                    failed = True  # empty text/conf/blocks, page kept
                    rows = ()
                # row tuples -> columns, C-fast; word_num (field 3) is
                # skipped: arrival order decides word order in a line
                wcols = list(zip(*rows))
                del wcols[3:4]
            page_meta[d].append(
                (
                    p["page_number"],
                    # rotation applied whenever rotate != 0, ignoring the
                    # dead osd_confidence_threshold (SURVEY.md §4).
                    p["rotate"],
                    # detected angle reported even when below threshold
                    # (ocr_processor.py:500 reports skew_angles[] raw).
                    p["skew_angle"],
                    w,
                    h,
                    failed,
                )
            )
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
    text_map, page_index, page_blocks, nwords_map, nblocks_map = (
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

    # ---- compose: one flat row per page, nested per doc by offsets ---
    no_blocks = len(page_blocks) - 1  # assembly's trailing empty row
    pg_cols: list[list] = [[] for _ in range(8)]
    pg_num, pg_text, pg_conf, pg_rot, pg_angle, pg_w, pg_h, pg_blocks = pg_cols
    doc_offsets = [0]
    canonical: list[str] = []
    avg_conf: list[float] = []
    n_chars: list[int] = []

    for d in range(n):
        page_texts = []
        conf_sum = 0.0
        for pn, rot, angle, w, h, failed in sorted(
            page_meta[d], key=lambda m: m[0]  # :507
        ):
            key = (d, pn)
            if failed:
                txt, conf, blk = "", 0.0, no_blocks
            else:
                txt = text_map.get(key, "")
                conf = conf_map.get(key, 0.0)
                # a duplicate page_number shares its key's row, like text
                blk = page_index.get(key, no_blocks)
            for col, v in zip(pg_cols, (pn, txt, conf, rot, angle, w, h, blk)):
                col.append(v)
            page_texts.append(txt)
            conf_sum += conf
        doc_offsets.append(len(pg_num))
        # document text: pages joined "\n\n" (engine contract — the
        # reference returns per-page texts only; a single separator rule
        # makes the document-level column deterministic).
        canonical.append("\n\n".join(page_texts))
        # ocr_processor.py:510: 0.0 for a doc without pages
        avg_conf.append(conf_sum / len(page_texts) if page_texts else 0.0)
        n_chars.append(sum(len(t) for t in page_texts))

    def _i32(v) -> pa.Array:
        return pa.array(v, pa.int32())

    def _per_doc(t: pa.ListType, arrays: list) -> pa.ListArray:
        # one struct row per page entry, listed per doc by doc_offsets
        return pa.ListArray.from_arrays(
            _i32(doc_offsets),
            pa.StructArray.from_arrays(arrays, fields=list(t.value_type)),
            type=t,
        )

    number, width, height = _i32(pg_num), _i32(pg_w), _i32(pg_h)
    pages_col = _per_doc(
        _PAGES,
        [
            number,
            pa.array(pg_text, pa.string()),
            pa.array(pg_conf, pa.float64()),
            _i32(pg_rot),
            pa.array(pg_angle, pa.float64()),
            width,
            height,
        ],
    )
    spans_col = (
        _per_doc(
            _SPANS,
            [number, width, height, page_blocks.take(_i32(pg_blocks))],
        )
        if cfg.emit_spans
        else pa.array([[]] * n, _SPANS)
    )

    return pa.RecordBatch.from_arrays(
        [
            batch.column("url").cast(pa.string()),
            batch.column("warc_ts").cast(_WARC_TS),
            batch.column("lang").cast(pa.string()),
            pa.array(status, pa.string()),
            pa.array(error, pa.string()),
            _i32(np.diff(doc_offsets)),
            pa.array(avg_conf, pa.float64()),
            pa.array(canonical, pa.string()),
            pages_col,
            spans_col,
            _i32([nblocks_map.get(d, 0) for d in range(n)]),
            _i32(blocks_dropped),
            _i32([nwords_map.get(d, 0) for d in range(n)]),
            _i32(n_chars),
        ],
        schema=EXTRACTED_ARROW,
    )


def kernel_iter(
    batches: Iterable[pa.RecordBatch], cfg: ExtractConfig
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` entrypoint of ``operators.extract.extract``:
    lazily extract each non-empty Arrow batch (:func:`extract_batch`).
    A commit's write tasks call :func:`extract_batch` per batch
    themselves (``plans.commit.write_days``): they write the output to
    their day files, time it and count it, and return Spark one row per
    file, not the rows."""
    for batch in batches:
        if batch.num_rows:
            yield extract_batch(batch, cfg)
