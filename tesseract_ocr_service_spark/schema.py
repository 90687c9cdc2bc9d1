"""Explicit Spark schemas for every table the engine reads or writes.

The reference fixes its shapes with Pydantic/dataclasses
(``ocr/schemas.py:22-294``); here every DataFrame boundary carries an
explicit ``StructType`` — never ``inferSchema`` (SURVEY.md §1.3).

Type mapping notes (SURVEY.md §1.2):
- bbox is a Struct, not a Map (Maps are awkward across Arrow/pandas).
- ``conf`` is int (``ocr/schemas.py:197-202``); word conf is clamped to 0
  when negative (``ocr_processor.py:215``).
- ``doc_id`` == ``url``: the reference keys spans by uuid4
  (``coordinates_store.py:40``) which is nondeterministic; byte-identical
  replay requires the deterministic primary key ``url`` (intentional,
  documented contract delta).
"""

from __future__ import annotations

from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------- input

#: Common-Crawl-style input table (BASELINE.json input_hint).
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),  # noise column — never read
        StructField("lang", StringType(), True),
    ]
)

# ------------------------------------------------------------- outputs

#: bbox envelope — {left, top, right, bottom} (ocr/schemas.py:221,239,257).
BBOX = StructType(
    [
        StructField("left", IntegerType(), False),
        StructField("top", IntegerType(), False),
        StructField("right", IntegerType(), False),
        StructField("bottom", IntegerType(), False),
    ]
)

#: Word -> Line -> Paragraph -> Block -> Page hierarchy
#: (ocr/schemas.py:181-294; JSON shape at ocr/main.py:244-298).
WORD = StructType(
    [
        StructField("text", StringType(), False),
        StructField("left", IntegerType(), False),
        StructField("top", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("conf", IntegerType(), False),
    ]
)

LINE = StructType(
    [
        StructField("line_id", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("bbox", BBOX, False),
        StructField("words", ArrayType(WORD), False),
    ]
)

PARAGRAPH = StructType(
    [
        StructField("par_id", IntegerType(), False),
        StructField("bbox", BBOX, False),
        StructField("lines", ArrayType(LINE), False),
    ]
)

BLOCK = StructType(
    [
        StructField("block_id", IntegerType(), False),
        StructField("bbox", BBOX, False),
        StructField("paragraphs", ArrayType(PARAGRAPH), False),
    ]
)

PAGE_SPANS = StructType(
    [
        StructField("page_number", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("blocks", ArrayType(BLOCK), False),
    ]
)

#: per-page result (mirrors PageResult, ocr/schemas.py:58-80).
PAGE_RESULT = StructType(
    [
        StructField("page_number", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("rotation_applied", IntegerType(), False),
        StructField("deskew_angle", DoubleType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
    ]
)

#: Single wide row per document out of the fused kernel; the pipeline
#: projects `extracted` / `spans` / lineage counters from it.
EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("lang", StringType(), True),
        StructField("status", StringType(), False),
        StructField("error", StringType(), True),
        StructField("total_pages", IntegerType(), False),
        StructField("avg_confidence", DoubleType(), False),
        StructField("canonical_text", StringType(), False),
        StructField("pages", ArrayType(PAGE_RESULT), False),
        StructField("spans", ArrayType(PAGE_SPANS), False),
        # per-doc counters -> aggregated into the lineage table
        StructField("n_blocks_kept", IntegerType(), False),
        StructField("n_blocks_dropped", IntegerType(), False),
        StructField("n_words", IntegerType(), False),
        StructField("n_chars", IntegerType(), False),
    ]
)

#: EXTRACTED_SCHEMA as the Arrow schema of the kernel's output batches
#: (``mapInArrow`` hands Spark exactly this; the nested node types of
#: functions/assembly.py are read off it).
EXTRACTED_ARROW = to_arrow_schema(EXTRACTED_SCHEMA)

#: lineage table — per-partition counters (the reference logs these per
#: request at ocr_processor.py:463-475,512-527; we persist them).
LINEAGE_SCHEMA = StructType(
    [
        StructField("warc_day", StringType(), False),
        StructField("n_docs", LongType(), False),
        StructField("n_ok", LongType(), False),
        StructField("n_rejected", LongType(), False),
        StructField("n_error", LongType(), False),
        StructField("n_empty", LongType(), False),
        StructField("n_pages", LongType(), False),
        StructField("n_blocks_kept", LongType(), False),
        StructField("n_blocks_dropped", LongType(), False),
        StructField("n_words", LongType(), False),
        StructField("n_chars", LongType(), False),
        StructField("kernel_ms", LongType(), False),
        # written as int32 since the first commit: appends keep that type
        StructField("wall_ms", IntegerType(), False),
        StructField("attempt", IntegerType(), False),
    ]
)

#: LINEAGE_SCHEMA as the Arrow schema the commit log is read and written in
LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)

#: the lineage counters, in LINEAGE_SCHEMA order: what a commit's write
#: tasks sum per day file (``plans.commit.write_days``), and
#: ``operators.extract.lineage_view`` as a Spark aggregate
LINEAGE_COUNTERS = tuple(f for f in LINEAGE_SCHEMA.fieldNames() if f.startswith("n_"))
