"""The canonical-text / coordinates / confidence contract, vectorized.

This is THE byte-identity contract of the engine, a from-scratch
reimplementation of the reference's single-page routines over a *batch*
word table (many documents, many pages at once):

- text assembly   — reference ``ocr/services/ocr_processor.py:116-168``:
  group word records by (block_num, par_num, line_num); within a line,
  words join with " " in ARRIVAL order; lines within a block (across
  paragraphs!) join with "\\n"; blocks join with "\\n\\n"; groups are
  traversed in sorted numeric key order; records whose stripped text is
  empty are skipped entirely.
- confidence      — ``ocr_processor.py:87-93``: mean of int(conf) over
  ALL records with conf >= 0 (including empty-text records — the
  reference iterates data["conf"] directly, unfiltered), else 0.0.
- hierarchy/bbox  — ``ocr_processor.py:171-322``: words -> lines ->
  paragraphs -> blocks with envelope bboxes at each level, children in
  sorted id order; word conf clamped to 0 when negative (:215).

Execution shape: grouping order comes from ONE stable columnar sort;
then everything is boundary-index arithmetic. Which key level changed
vs the previous row is a vectorized numpy comparison; group start
indices come from ``np.flatnonzero``; envelope bboxes are
``np.minimum/maximum.reduceat`` over the contiguous group slices; page
text is one ``"".join`` over a pre-interleaved (separator, word) list
per page, where the separator between consecutive words is a pure
function of which key level changed (new block -> "\\n\\n", new
(par,line) -> "\\n", else " "); the nested hierarchy is one Arrow
array per level — word, line, paragraph and block ``StructArray``s,
each nested in a ``ListArray`` whose offsets are ``np.searchsorted``
of the parents' start indices into the children's. No per-word
Python branching, and no Python object per hierarchy node: the kernel
hands these arrays to Spark as they are (``mapInArrow``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..schema import EXTRACTED_ARROW

#: the nested Arrow node types of the span hierarchy, read off the
#: kernel's output schema (schema.BLOCK/PARAGRAPH/LINE/WORD/BBOX)
_BLOCKS = EXTRACTED_ARROW.field("spans").type.value_type.field("blocks").type
_BLOCK = _BLOCKS.value_type
_PARS = _BLOCK.field("paragraphs").type
_LINES = _PARS.value_type.field("lines").type
_WORDS = _LINES.value_type.field("words").type
_BBOX = _BLOCK.field("bbox").type
#: a list<BLOCK> array holding one empty list (no page has blocks)
_NO_BLOCKS = pa.array([[]], _BLOCKS)


def assemble_pages(
    words: pd.DataFrame, emit_spans: bool = True
) -> tuple[dict[tuple[int, int], str], dict[tuple[int, int], list[dict]]]:
    """pandas-facing wrapper over :func:`assemble_pages_arrays` (the
    unit-test surface; the kernel calls the array form directly to skip
    pandas block consolidation — a dict-of-lists DataFrame vstacks all
    int columns into one 2D block, which alone cost ~40% of the kernel
    on profile).

    `words` columns: doc, page_number, block_num, par_num, line_num,
    text, left, top, width, height, conf — rows in arrival order.
    Returns (text_map, spans_map), each page's blocks as the
    ``to_pylist()`` dict form; pages with no non-empty words are absent
    from both (callers fill ""/[]).
    """
    text_map, page_index, page_blocks, _, _ = assemble_pages_arrays(
        words["doc"].to_numpy(),
        words["page_number"].to_numpy(),
        words["block_num"].to_numpy(),
        words["par_num"].to_numpy(),
        words["line_num"].to_numpy(),
        words["text"].tolist(),
        words["left"].to_numpy(),
        words["top"].to_numpy(),
        words["width"].to_numpy(),
        words["height"].to_numpy(),
        words["conf"].to_numpy(),
        emit_spans=emit_spans,
    )
    blocks = page_blocks.to_pylist()
    return text_map, {k: blocks[i] for k, i in page_index.items()}


def assemble_pages_arrays(
    doc_r,
    page_r,
    blk_r,
    par_r,
    line_r,
    text_r: list,
    left_r,
    top_r,
    width_r,
    height_r,
    conf_r,
    emit_spans: bool = True,
) -> tuple[dict, dict, pa.ListArray, dict[int, int], dict[int, int]]:
    """Array-native fused boundary-index pass (raw arrival order in)
    -> (text_map, page_index, page_blocks, n_words, n_blocks_kept).

    Preparation replicates the contract: strip texts, DROP empty-text
    records, stable-sort by the hierarchy keys (np.lexsort is stable —
    reproduces the reference's ``sorted(keys)`` traversal,
    ocr_processor.py:157-160,231-237, while preserving arrival order
    within a line, :152,:226).

    The hierarchy is Arrow: ``page_blocks`` is a ``list<BLOCK>`` array
    whose row ``page_index[(doc, page)]`` holds that page's blocks, and
    whose LAST row is an empty list (the row for a page without
    blocks). Each level is a ``ListArray`` over the next one, its
    offsets the group start indices the text pass already computed,
    and each bbox a ``StructArray`` of ``reduceat`` envelopes; no Python
    object is made per node. With ``emit_spans=False`` page_index is
    empty and page_blocks is that one empty list.

    The per-doc lineage counters come from the same pass: ``n_words``
    counts non-empty records (the reference's total_words log,
    ocr_processor.py:465-469), ``n_blocks_kept`` the distinct
    (page, block) keys among them; docs with neither are absent.
    """
    stripped = [t.strip() for t in text_r]
    keep = np.fromiter(
        (t != "" for t in stripped), dtype=bool, count=len(stripped)
    )
    if not keep.any():
        return {}, {}, _NO_BLOCKS, {}, {}
    doc_k = np.asarray(doc_r)[keep]
    page_k = np.asarray(page_r)[keep]
    blk_k = np.asarray(blk_r)[keep]
    par_k = np.asarray(par_r)[keep]
    line_k = np.asarray(line_r)[keep]
    texts_k = [t for t, k in zip(stripped, keep.tolist()) if k]

    # stable sort into traversal order (last key = primary for lexsort)
    order = np.lexsort((line_k, par_k, blk_k, page_k, doc_k))
    doc_np = doc_k[order]
    page_np = page_k[order]
    blk_np = blk_k[order]
    par_np = par_k[order]
    line_np = line_k[order]
    order_l = order.tolist()
    text_a = [texts_k[i] for i in order_l]
    n = len(text_a)

    # which key level changed vs the previous row (row 0 starts a page)
    new_page = np.ones(n, dtype=bool)
    new_page[1:] = (doc_np[1:] != doc_np[:-1]) | (page_np[1:] != page_np[:-1])
    new_block = new_page.copy()
    new_block[1:] |= blk_np[1:] != blk_np[:-1]
    new_par = new_block.copy()
    new_par[1:] |= par_np[1:] != par_np[:-1]
    new_line = new_par.copy()
    new_line[1:] |= line_np[1:] != line_np[:-1]
    blk_starts = np.flatnonzero(new_block)

    def _per_doc(docs: np.ndarray) -> dict[int, int]:
        uniq, counts = np.unique(docs, return_counts=True)
        return dict(zip(uniq.tolist(), counts.tolist()))

    n_words = _per_doc(doc_np)
    n_blocks = _per_doc(doc_np[blk_starts])

    # ---- canonical text: interleave separators with word texts, then
    # one join per page slice. Separator precedence matches the
    # reference: page start -> "" (nothing), new block -> "\n\n",
    # new line (incl. paragraph change) -> "\n", else " ".
    sep_code = np.where(
        new_page, 0, np.where(new_block, 1, np.where(new_line, 2, 3))
    ).tolist()
    _SEPS = ("", "\n\n", "\n", " ")
    interleaved: list = [None] * (2 * n)
    interleaved[0::2] = [_SEPS[c] for c in sep_code]
    interleaved[1::2] = text_a

    page_starts = np.flatnonzero(new_page)
    page_bounds = np.append(page_starts, n).tolist()
    doc_l = doc_np.tolist()
    page_l = page_np.tolist()

    text_map: dict[tuple[int, int], str] = {}
    page_index: dict[tuple[int, int], int] = {}
    for idx in range(len(page_starts)):
        s, e = page_bounds[idx], page_bounds[idx + 1]
        key = (doc_l[s], page_l[s])
        page_index[key] = idx
        text_map[key] = "".join(interleaved[2 * s : 2 * e])

    if not emit_spans:
        return text_map, {}, _NO_BLOCKS, n_words, n_blocks

    # ---- spans hierarchy: one Arrow array per level ----------------
    left_np = np.asarray(left_r)[keep][order]
    top_np = np.asarray(top_r)[keep][order]
    width_np = np.asarray(width_r)[keep][order]
    height_np = np.asarray(height_r)[keep][order]
    right_np = left_np + width_np
    bottom_np = top_np + height_np
    conf_np = np.maximum(np.asarray(conf_r)[keep][order], 0)  # clamp (:215)

    line_starts = np.flatnonzero(new_line)
    par_starts = np.flatnonzero(new_par)

    def _int32(a) -> pa.Array:
        # a fractional number (a float in the layout stream) truncates
        # toward zero, as pyarrow converts a Python float; a value
        # outside int32 raises, it never wraps
        a = np.asarray(a)
        return pa.array(a.astype(np.int64) if a.dtype.kind == "f" else a, pa.int32())

    def _struct(t: pa.StructType, arrays: list) -> pa.StructArray:
        return pa.StructArray.from_arrays(arrays, fields=list(t))

    def _bboxes(starts: np.ndarray) -> pa.StructArray:
        return _struct(
            _BBOX,
            [
                _int32(np.minimum.reduceat(left_np, starts)),
                _int32(np.minimum.reduceat(top_np, starts)),
                _int32(np.maximum.reduceat(right_np, starts)),
                _int32(np.maximum.reduceat(bottom_np, starts)),
            ],
        )

    def _nest(t: pa.ListType, first_child, values) -> pa.ListArray:
        # parent i holds values[first_child[i] : first_child[i + 1]]
        offsets = _int32(np.append(first_child, len(values)))
        return pa.ListArray.from_arrays(offsets, values, type=t)

    def _first(child_starts, starts):
        # a parent's first child: where its word start falls among the
        # children's word starts
        return np.searchsorted(child_starts, starts)

    texts = pa.array(text_a, pa.string())
    words = _struct(
        _WORDS.value_type,
        [texts]
        + [_int32(a) for a in (left_np, top_np, width_np, height_np, conf_np)],
    )
    words_per_line = _nest(_WORDS, line_starts, words)
    lines = _struct(
        _LINES.value_type,
        [
            _int32(line_np[line_starts]),
            # line text: the line's words joined by " ", in Arrow
            pc.binary_join(
                pa.ListArray.from_arrays(words_per_line.offsets, texts), " "
            ),
            _bboxes(line_starts),
            words_per_line,
        ],
    )
    pars = _struct(
        _PARS.value_type,
        [
            _int32(par_np[par_starts]),
            _bboxes(par_starts),
            _nest(_LINES, _first(line_starts, par_starts), lines),
        ],
    )
    blocks = _struct(
        _BLOCK,
        [
            _int32(blk_np[blk_starts]),
            _bboxes(blk_starts),
            _nest(_PARS, _first(par_starts, blk_starts), pars),
        ],
    )
    # the trailing empty row: every page without blocks points at it
    page_blocks = _nest(
        _BLOCKS, _first(blk_starts, np.append(page_starts, n)), blocks
    )
    return text_map, page_index, page_blocks, n_words, n_blocks


def assemble_text(words: pd.DataFrame) -> pd.DataFrame:
    """Per-(doc, page) canonical text -> DataFrame[doc, page_number,
    text] (unit-test surface over :func:`assemble_pages`)."""
    text_map, _ = assemble_pages(words, emit_spans=False)
    if not text_map:
        return pd.DataFrame({"doc": [], "page_number": [], "text": []})
    rows = [(d, p, t) for (d, p), t in text_map.items()]
    return pd.DataFrame(rows, columns=["doc", "page_number", "text"])


def build_hierarchy(words: pd.DataFrame) -> dict[tuple[int, int], list[dict]]:
    """Nested blocks->paragraphs->lines->words per (doc, page_number)
    (unit-test surface over :func:`assemble_pages`)."""
    _, spans_map = assemble_pages(words, emit_spans=True)
    return spans_map


def page_confidence_arrays(
    doc_r, page_r, conf_r
) -> list[tuple[int, int, float]]:
    """Per-(doc, page) mean confidence (ocr_processor.py:87-93), array
    form -> [(doc, page, mean)] sorted by (doc, page).

    Inputs are the RAW records (before the empty-text filter): the
    reference averages over every record with conf >= 0, including
    empty-text ones; structural rows carry conf == -1 and are excluded.
    Missing (doc, page) pairs mean "no conf>=0 records" -> the caller
    fills 0.0.

    The int cast happens BEFORE the >= 0 filter: the reference includes
    any record where int(conf) >= 0, so a fractional conf in (-1, 0)
    truncates to 0 and IS counted (numpy astype truncates toward zero,
    same as Python int()).
    """
    conf = np.asarray(conf_r).astype(np.int64)
    m = conf >= 0
    if not m.any():
        return []
    d = np.asarray(doc_r)[m]
    p = np.asarray(page_r)[m]
    c = conf[m]
    order = np.lexsort((p, d))
    d, p, c = d[order], p[order], c[order]
    newg = np.ones(len(d), dtype=bool)
    newg[1:] = (d[1:] != d[:-1]) | (p[1:] != p[:-1])
    starts = np.flatnonzero(newg)
    sums = np.add.reduceat(c, starts)
    counts = np.diff(np.append(starts, len(d)))
    return list(
        zip(
            d[starts].tolist(),
            p[starts].tolist(),
            (sums / counts).tolist(),
        )
    )


def page_confidence(records: pd.DataFrame) -> pd.DataFrame:
    """pandas wrapper over :func:`page_confidence_arrays` (test
    surface; the kernel calls the array form)."""
    rows = page_confidence_arrays(
        records["doc"].to_numpy(),
        records["page_number"].to_numpy(),
        records["conf"].to_numpy(),
    )
    if not rows:
        return pd.DataFrame({"doc": [], "page_number": [], "confidence": []})
    return pd.DataFrame(rows, columns=["doc", "page_number", "confidence"])
