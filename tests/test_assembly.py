"""Contract tests: vectorized assembly vs the independent oracle."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from tesseract_ocr_service_spark.functions import assembly

from . import oracle

REC_COLS = [
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
]


def _df(records: list[dict], doc: int = 0, page: int = 1) -> pd.DataFrame:
    rows = [
        (
            doc,
            page,
            r["block_num"],
            r["par_num"],
            r["line_num"],
            r.get("word_num", i + 1),
            r["text"],
            r.get("left", 0),
            r.get("top", 0),
            r.get("width", 1),
            r.get("height", 1),
            r.get("conf", 90),
        )
        for i, r in enumerate(records)
    ]
    return pd.DataFrame(rows, columns=REC_COLS)


def rec(b, p, ln, text, conf=90, left=0, top=0, width=10, height=10):
    return dict(
        block_num=b, par_num=p, line_num=ln, text=text, conf=conf,
        left=left, top=top, width=width, height=height,
    )


MULTI_BLOCK = [
    rec(1, 1, 1, "Hello"),
    rec(1, 1, 1, "world"),
    rec(1, 1, 2, "second"),
    rec(1, 2, 1, "par2line"),  # new paragraph: still "\n", never "\n\n"
    rec(2, 1, 1, "block2"),
]


def assembled(records, doc=0, page=1) -> str:
    out = assembly.assemble_text(_df(records, doc, page))
    if out.empty:
        return ""
    return out.loc[0, "text"]


def test_multi_block_separators():
    txt = assembled(MULTI_BLOCK)
    assert txt == "Hello world\nsecond\npar2line\n\nblock2"
    assert txt == oracle.assemble_text(MULTI_BLOCK)


def test_empty_and_whitespace_words_skipped():
    records = [
        rec(1, 1, 1, "a"),
        rec(1, 1, 1, ""),
        rec(1, 1, 1, "   "),
        rec(1, 1, 1, "b"),
        rec(3, 1, 1, " \t "),  # whole block empty -> block disappears
    ]
    assert assembled(records) == "a b" == oracle.assemble_text(records)


def test_words_stripped_before_join():
    records = [rec(1, 1, 1, "  x  "), rec(1, 1, 1, "\ty\n")]
    assert assembled(records) == "x y" == oracle.assemble_text(records)


def test_sorted_key_traversal_not_arrival_order():
    records = [
        rec(2, 1, 1, "later-block"),
        rec(1, 1, 2, "line2"),
        rec(1, 1, 1, "line1"),
        rec(1, 2, 1, "par2"),
        rec(1, 1, 2, "line2b"),  # appended in arrival order within line
    ]
    expected = "line1\nline2 line2b\npar2\n\nlater-block"
    assert assembled(records) == expected == oracle.assemble_text(records)


def test_unicode_bytes_identity():
    records = [
        rec(1, 1, 1, "Привет"),
        rec(1, 1, 1, "мир"),
        rec(2, 1, 1, "中文"),
        rec(2, 1, 1, "désolé"),
    ]
    txt = assembled(records)
    assert txt.encode("utf-8") == oracle.assemble_text(records).encode("utf-8")
    assert txt == "Привет мир\n\n中文 désolé"


def test_all_empty_yields_empty_string():
    assert assembled([rec(1, 1, 1, " ")]) == "" == oracle.assemble_text(
        [rec(1, 1, 1, " ")]
    )


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_permutation_invariance_across_lines(seed):
    """Shuffling records across DIFFERENT (block,par,line) groups must not
    change the output (sorted traversal, ocr_processor.py:157-160); order
    within a line is arrival order and is kept fixed here by giving each
    line a single word."""
    rnd = random.Random(seed)
    records = [
        rec(b, p, ln, f"w{b}{p}{ln}")
        for b in range(1, 5)
        for p in range(1, 4)
        for ln in range(1, 4)
    ]
    base = oracle.assemble_text(records)
    shuffled = records[:]
    rnd.shuffle(shuffled)
    assert assembled(shuffled) == base == oracle.assemble_text(shuffled)


def test_confidence_includes_empty_text_excludes_negative():
    records = [
        rec(1, 1, 1, "a", conf=80),
        rec(1, 1, 1, "", conf=60),  # empty text but conf>=0 COUNTS (:88-92)
        rec(1, 1, 1, "b", conf=-1),  # structural row: excluded
    ]
    out = assembly.page_confidence(_df(records))
    assert out.loc[0, "confidence"] == pytest.approx(70.0)
    assert oracle.page_confidence(records) == pytest.approx(70.0)


def test_confidence_empty_is_absent():
    out = assembly.page_confidence(_df([rec(1, 1, 1, "x", conf=-1)]))
    assert out.empty  # caller fills 0.0
    assert oracle.page_confidence([rec(1, 1, 1, "x", conf=-1)]) == 0.0


def test_hierarchy_matches_oracle():
    records = [
        rec(2, 1, 1, "b2", left=5, top=5, width=10, height=10, conf=50),
        rec(1, 1, 1, "Hello", left=10, top=20, width=40, height=12, conf=91),
        rec(1, 1, 1, "world", left=60, top=22, width=50, height=10, conf=-1),
        rec(1, 2, 1, "next", left=10, top=40, width=30, height=12, conf=88),
        rec(1, 1, 1, "  ", left=0, top=0, width=1, height=1, conf=30),
    ]
    got = assembly.build_hierarchy(_df(records))[(0, 1)]
    assert got == oracle.hierarchy(records)
    # spot-check the contract directly
    b1 = got[0]
    assert b1["block_id"] == 1
    assert b1["bbox"] == {"left": 10, "top": 20, "right": 110, "bottom": 52}
    line1 = b1["paragraphs"][0]["lines"][0]
    assert line1["text"] == "Hello world"
    assert line1["words"][1]["conf"] == 0  # negative conf clamped (:215)
    assert line1["bbox"] == {"left": 10, "top": 20, "right": 110, "bottom": 32}


def test_arrow_output_schema_matches_spark_schema():
    """mapInArrow hands the kernel's batches to Spark as they are, and
    Arrow maps struct members by POSITION: assembly's block arrays and
    every kernel batch must carry exactly the Spark schema's Arrow form
    (field order, nested types and nullability), and the blocks must
    read back as the oracle's dicts."""
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
    from pyspark.sql.types import ArrayType

    from tesseract_ocr_service_spark import schema
    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.functions import kernel
    from tesseract_ocr_service_spark.sources import gen

    records = [
        rec(2, 1, 1, "b2", left=5, top=6, width=11, height=13, conf=50),
        rec(1, 1, 1, "Hello", left=10, top=20, width=40, height=12, conf=91),
        rec(1, 1, 2, "world", left=60, top=22, width=50, height=9, conf=-1),
        rec(1, 2, 1, "next", left=17, top=40, width=30, height=14, conf=88),
    ]
    words = _df(records)
    _, page_index, page_blocks, _, _ = assembly.assemble_pages_arrays(
        *(words[c].to_numpy() for c in REC_COLS[:5]),
        words["text"].tolist(),
        *(words[c].to_numpy() for c in REC_COLS[7:]),
    )
    assert page_blocks.type == to_arrow_type(ArrayType(schema.BLOCK))
    got = page_blocks.to_pylist()
    assert got[page_index[(0, 1)]] == oracle.hierarchy(records)
    assert got[-1] == []  # the row of a page without blocks

    want = to_arrow_schema(schema.EXTRACTED_SCHEMA)
    batch = gen.gen_batch(list(range(64)), seed=5)
    for b, cfg in [
        (batch, ExtractConfig()),
        (batch, ExtractConfig(emit_spans=False)),
        (batch.assign(html=None), ExtractConfig()),  # no words at all
    ]:
        out = kernel.extract_batch(b, cfg)
        assert out.schema == want
        assert out.num_rows == len(b)
        out.validate(full=True)


@pytest.mark.parametrize("seed", [3, 99])
def test_hierarchy_random_vs_oracle(seed):
    rnd = random.Random(seed)
    records = []
    for _ in range(200):
        records.append(
            rec(
                rnd.randint(1, 4),
                rnd.randint(1, 3),
                rnd.randint(1, 5),
                rnd.choice(["alpha", "бета", "", " ", "x&y", "wide-word"]),
                conf=rnd.randint(-1, 100),
                left=rnd.randint(0, 500),
                top=rnd.randint(0, 800),
                width=rnd.randint(1, 90),
                height=rnd.randint(5, 30),
            )
        )
    got = assembly.build_hierarchy(_df(records)).get((0, 1), [])
    assert got == oracle.hierarchy(records)
    assert assembled(records) == oracle.assemble_text(records)


def test_multi_doc_multi_page_batch_isolation():
    """One batch, several docs/pages: outputs must not bleed across keys."""
    df = pd.concat(
        [
            _df([rec(1, 1, 1, "doc0")], doc=0, page=1),
            _df([rec(1, 1, 1, "doc1p2")], doc=1, page=2),
            _df([rec(1, 1, 1, "doc1p1")], doc=1, page=1),
        ],
        ignore_index=True,
    )
    out = assembly.assemble_text(df)
    got = {
        (int(r.doc), int(r.page_number)): r.text
        for r in out.itertuples(index=False)
    }
    assert got == {(0, 1): "doc0", (1, 2): "doc1p2", (1, 1): "doc1p1"}
