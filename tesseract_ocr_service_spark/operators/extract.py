"""The extraction pipeline: declarative plan around the fused kernel.

Plan shape (SURVEY.md §3.1 "Spark translation") — one shuffle-free pass:

    scan pages (PartitionFilters on warc_day, ReadSchema w/o `text`)
      -> native validation predicates (status routing stays relational)
      -> optional salted repartition (domain-skewed payload sizes)
      -> mapInArrow(kernel_iter)  # ONE Arrow stage = split..OCR..spans
      -> project extracted / spans / lineage

Scale design notes (100 TB / 1000 executors):
- The kernel stage is NARROW: no shuffle is required for extraction
  itself. The only optional shuffle is the explicit salted repartition,
  needed when a few domains own most bytes (Zipf web reality) so that a
  handful of input files don't pin the whole stage on a few tasks. With
  splittable parquet + AQE this is often unnecessary — it is opt-in.
- Arrow batches are capped via spark.sql.execution.arrow.maxRecordsPerBatch
  (fat binary rows; see session_builder) so a batch of ~1 MB payloads
  stays well inside executor memory.
- Partition pruning on warc_ts is expressed as a plain filter on the
  partition column so Catalyst prunes warc_day directories at plan time.
- A point read (``lookup_spans``/``document_json``) runs no Spark job:
  the driver finds the url's files by a pyarrow scan of the table's own
  ``url`` column, reads the matching rows from those files with pyarrow,
  and hands Spark one small local frame.
"""

from __future__ import annotations

import functools
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ALLOWED_CONTENT_TYPES, ExtractConfig
from ..functions.kernel import kernel_iter
from ..schema import EXTRACTED_SCHEMA

#: columns the kernel needs — `text` (the raw noise column) is never read,
#: so parquet column pruning skips it (verify: ReadSchema in explain()).
KERNEL_INPUT = ("url", "warc_ts", "html", "lang")

#: the input columns the kernel reads when a table has them: the per-row
#: config and the declared Content-Type (see :func:`kernel_input`)
KERNEL_OPTIONAL = ("pages", "page_start", "page_end", "content_type")


def warc_day() -> Column:
    """``warc_ts`` as its 'yyyy-MM-dd' day string, in the session time
    zone: the key of :func:`lineage_view`'s counters, and the day of a
    streamed parquet row (``plans.commit.frame_day``)."""
    return F.date_format("warc_ts", "yyyy-MM-dd")


def content_type_ok(ct, allowed: tuple[str, ...] = ALLOWED_CONTENT_TYPES):
    """Declared-Content-Type gate as ONE JVM boolean expression, for the
    SQL-oracle operator ``relational.content_type_gate``: the base type
    is parameter-stripped, trimmed and case-folded ('Text/HTML;
    charset=UTF-8' -> 'text/html') before the allow-list check, and
    NULL/empty passes. The kernel applies the same gate to Arrow
    batches (``kernel.content_type_allowed``), which equals this
    expression value for value (``tests/test_kernel.py``).
    NULL-safe by construction (a NULL predicate would otherwise
    silently PASS a gate built from comparisons — CLAUDE.md NULL-gate
    rule works in reverse here: tolerance must be EXPLICIT, not an
    accident of NULL logic)."""
    c = F.col(ct) if isinstance(ct, str) else ct
    base = F.lower(F.trim(F.substring_index(c, ";", 1)))
    return c.isNull() | (F.trim(c) == "") | base.isin(list(allowed))


def session_builder(
    app: str = "tesseract_ocr_service_spark",
    master: Optional[str] = None,
    shuffle_partitions: int = 32,
    arrow_batch_rows: int = 256,
):
    """Opinionated session defaults for this workload.

    - AQE on (runtime coalescing + skew-join splitting, north_rule).
    - small Arrow batches: pages rows are fat (binary payloads), so the
      default 10k records/batch would make multi-GB batches at web sizes.
    - UTC session TZ (duckdb oracle comparison).
    """
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let parallelismFirst actually keep parallelism: the default
        # 1 MB minPartitionSize floor coalesced small intermediate
        # exchanges (e.g. a 6 MB exact-dedup window output) down to
        # ~10 partitions, starving every downstream stage of the
        # 32-core box (measured: the minhash signature stage over
        # exact-survivors 5.2 s -> 2.3 s at sf1.0 with the floor at
        # 64k). At cluster scale post-shuffle partitions are far above
        # either floor, so this only changes small-intermediate
        # behavior — the regime AQE's own parallelismFirst=true
        # documents as "better parallelism beats 1 MB partitions".
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_batch_rows),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    if master:
        b = b.master(master)
    return b


def read_pages(
    spark: SparkSession,
    path: str,
    ts_from=None,
    ts_to=None,
) -> DataFrame:
    """Scan the pages table with explicit warc_ts partition pruning.

    The table is written partitioned by ``warc_day=date(warc_ts)``
    (Iceberg stand-in; no Iceberg jars offline — SURVEY.md §1.4). A
    filter on ``warc_day`` is a PartitionFilter: pruned directories are
    never listed/opened, the Iceberg behavior the north_rule names.
    """
    df = spark.read.parquet(path)
    if ts_from is not None:
        df = df.where(F.col("warc_day") >= F.lit(str(ts_from)))
    if ts_to is not None:
        df = df.where(F.col("warc_day") <= F.lit(str(ts_to)))
    return df


def kernel_input(
    pages: DataFrame,
    languages: Optional[tuple[str, ...]] = None,
    *extra: Column,
) -> DataFrame:
    """The kernel's input rows: ``pages`` projected to the columns the
    kernel reads (``KERNEL_INPUT``, and of ``KERNEL_OPTIONAL`` those
    ``pages`` has), plus the ``extra`` columns, gated by ``languages``
    — the one projection of :func:`extract` and of the pages a WARC
    run or a streaming epoch stages (``plans.commit._stage_pages``). A
    commit's write tasks read the same columns with pyarrow.

    ``languages`` optionally gates rows by the `lang` column (the
    reference's language config, ocr/schemas.py:38-41, as a relational
    predicate per SURVEY.md D7) — a pushed-down filter, not kernel work.

    Per-row config: if the input carries ``pages`` (array<int>),
    ``page_start`` or ``page_end`` columns, they ride into the kernel and
    override the job-level ExtractConfig per document (the reference's
    per-request OCRConfig, ocr/main.py:104-131). A ``content_type``
    column rides in as it is; the kernel takes the gate's verdict
    (``kernel.content_type_allowed``).
    """
    optional = [c for c in KERNEL_OPTIONAL if c in pages.columns]
    df = pages.select(*KERNEL_INPUT, *optional, *extra)
    if languages:
        df = df.where(F.col("lang").isin(list(languages)))
    return df


def extract(
    pages: DataFrame,
    cfg: ExtractConfig = ExtractConfig(),
    salt_partitions: int = 0,
    languages: Optional[tuple[str, ...]] = None,
) -> DataFrame:
    """pages -> one wide extracted row per document (EXTRACTED_SCHEMA):
    :func:`kernel_input`, then ``kernel.kernel_iter`` under
    ``mapInArrow``. The rows API for readers of the rows themselves; a
    commit writes its day files from the kernel's tasks instead
    (``plans.commit.write_day_files``), so its rows never come back here.

    ``salt_partitions`` > 0 adds an explicit hash(url)-salted repartition
    before the kernel — breaks up byte-skewed input splits (heavy-tailed
    page sizes mean a split's row count says nothing about its work).
    0 = narrow zero-shuffle plan. Measured guidance: on the synthetic
    heavy-tail corpus the salted plan (2x cores) is ~3.3x faster than
    the narrow plan at local[32] (BENCH/BASELINE.md) — at cluster scale
    prefer salting whenever input files aren't size-uniform.

    ``languages`` and per-row config: see :func:`kernel_input`.
    """
    df = kernel_input(pages, languages)
    if salt_partitions > 0:
        # explicit skew control: uniform hash of the unique key ->
        # near-perfectly even partitions regardless of domain skew.
        df = df.repartition(salt_partitions, F.xxhash64("url"))
    # mapInArrow, not mapInPandas: the kernel's nested output leaves as
    # the Arrow arrays it built (mapInPandas would rebuild every span
    # node as a Python dict before converting it back to Arrow)
    return df.mapInArrow(
        functools.partial(kernel_iter, cfg=cfg), schema=EXTRACTED_SCHEMA
    )


def probe_page_count(pages: DataFrame) -> DataFrame:
    """S4 analog: per-document page count WITHOUT running extraction
    (get_pdf_page_count, reference ``pdf_processor.py:106-121`` — pdfinfo
    probe without rendering). Here: count page markers in the raw
    payload relationally — html docs are 1 page, `%PDF` streams carry
    one '"page_number":' marker per page, everything else 0. A pure
    column expression: no kernel, no Python.

    The marker is anchored to the JSON *key* position ('"page_number":'
    with the trailing colon), so a word whose text merely contains the
    phrase "page_number" does not overcount; a word text of the full
    key-colon form would still — the probe trades exactness for a
    zero-parse scan, the same trade pdfinfo makes."""
    # cast, not decode(): decode throws MALFORMED_CHARACTER_CODING on
    # garbage payloads; cast substitutes replacement chars.
    body = F.col("html").cast("string")
    marker = '"page_number":'
    marker_count = (
        (
            F.length(body)
            - F.length(F.replace(body, F.lit(marker), F.lit("")))
        )
        / F.length(F.lit(marker))
    ).cast("int")
    is_pdf = F.expr("substring(html, 1, 4)") == F.lit(b"%PDF")
    is_html = F.ltrim(body).startswith("<")
    return pages.select(
        "url",
        F.when(F.col("html").isNull(), 0)
        .when(is_pdf, marker_count)
        .when(is_html, 1)
        .otherwise(0)
        .alias("page_count"),
    )


def extracted_view(wide: DataFrame) -> DataFrame:
    """Output table 1 `extracted` (SURVEY.md §1.4) — drops spans."""
    return wide.select(
        "url",
        "warc_ts",
        F.col("url").alias("doc_id"),  # deterministic key (uuid4 delta)
        "status",
        "error",
        "total_pages",
        "avg_confidence",
        "canonical_text",
        "pages",
    )


def spans_view(wide: DataFrame) -> DataFrame:
    """Output table 2 `spans` — the 5-level hierarchy per url
    (coordinates_store.py:27-58 made persistent + deterministic)."""
    return wide.select("url", "warc_ts", "spans")


def lineage_view(wide: DataFrame) -> DataFrame:
    """Output table 3 `lineage` — per-warc_day counters (the reference
    logs these per request, ocr_processor.py:463-475,512-527). A commit
    takes the same sums from the rows its write tasks return, one per
    file written (``plans.commit.write_day_files``); this aggregate over
    written rows is what they must equal."""
    return (
        wide.groupBy(warc_day().alias("warc_day"))
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("status") == "ok", 1)).alias("n_ok"),
            F.count(F.when(F.col("status") == "rejected", 1)).alias(
                "n_rejected"
            ),
            F.count(F.when(F.col("status") == "error", 1)).alias("n_error"),
            F.count(F.when(F.col("status") == "empty", 1)).alias("n_empty"),
            F.sum("total_pages").alias("n_pages"),
            F.sum("n_blocks_kept").alias("n_blocks_kept"),
            F.sum("n_blocks_dropped").alias("n_blocks_dropped"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


def spans_table(spans_path: str):
    """The table at ``spans_path`` as a pyarrow dataset, its hive
    partition values typed as the directories name them (``warc_day``
    a string, ``epoch_id`` an int). Entries starting with ``_`` or
    ``.`` are skipped, as Spark skips them."""
    import pyarrow.dataset as ds

    from ..sources.warc import arrow_fs

    fs, root = arrow_fs(spans_path)
    return ds.dataset(root, filesystem=fs, format="parquet", partitioning="hive")


def url_files(table, url: str) -> list[str]:
    """The paths of the data files of ``table`` (:func:`spans_table`)
    that hold ``url``: one scan of the table's own ``url`` column (a
    row group whose url min/max excludes ``url`` is skipped),
    projecting each match's file name."""
    import pyarrow.dataset as ds

    hits = table.to_table(columns=["__filename"], filter=ds.field("url") == url)
    return sorted(set(hits.column("__filename").to_pylist()))


def lookup_spans(spark: SparkSession, spans_path: str, url: str) -> DataFrame:
    """Point lookup: url -> full hierarchy (GET /documents/{id}/coordinates,
    ocr/main.py:198-228; store get at coordinates_store.py:61-78).

    One path for every table kind — a committed root, a streaming
    ``epoch_id=N/warc_day=D`` root, a plain ``spans_view`` table: the
    files holding ``url`` (:func:`url_files`) are read on the driver
    with pyarrow, filtered on url (memory bounded by row groups, not
    files), and handed to Spark as one small local frame, so the read
    runs no Spark job. ``spans_path`` is first resolved as Spark
    resolves it (``sources.warc.spark_uri``), then opened with the
    driver's own pyarrow configuration (no Hadoop ``fs.*`` setting
    carries over). Naive parquet timestamps are read as UTC instants,
    so ``warc_ts`` does not shift under a non-UTC session time zone."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    from ..sources.warc import spark_uri

    table = spans_table(spark_uri(spark, spans_path))
    files = set(url_files(table, url))
    rows = ds.FileSystemDataset(
        [f for f in table.get_fragments() if f.path in files],
        table.schema,
        table.format,
        table.filesystem,
    ).to_table(filter=ds.field("url") == url)
    utc = pa.timestamp("us", "UTC")
    rows = rows.cast(
        pa.schema(
            f.with_type(utc)
            if pa.types.is_timestamp(f.type) and f.type.tz is None
            else f
            for f in rows.schema
        )
    )
    # through pandas: createDataFrame(pa.Table) rejects the non-null
    # nested span structs
    return spark.createDataFrame(rows.to_pandas(), from_arrow_schema(rows.schema))


def document_json(spark: SparkSession, spans_path: str, url: str) -> DataFrame:
    """GET /documents/{id}/coordinates response shape (S12): the nested
    spans hierarchy rendered as unicode-preserving JSON — the reference's
    ``_document_to_dict`` + UnicodeJSONResponse (ocr/main.py:244-298,
    41-51) as one :func:`lookup_spans` read + to_json projection, which
    Spark folds into the local frame on the driver: no Spark job."""
    return lookup_spans(spark, spans_path, url).select(
        F.col("url").alias("doc_id"),  # deterministic key (uuid4 delta)
        F.to_json(
            F.struct(
                F.col("url").alias("doc_id"),
                F.size("spans").alias("total_pages"),
                F.col("spans").alias("pages"),
            )
        ).alias("coordinates_json"),
    )


def write_bucketed(
    df: DataFrame, table: str, n_buckets: int = 16, key: str = "url"
) -> None:
    """Persist hash-bucketed by `key` so later equi-joins/groupBys on it
    co-locate WITHOUT a shuffle (SURVEY.md §4 partitioning strategy; at
    10^12 docs, re-shuffling the corpus for every downstream join is the
    dominant avoidable cost). Requires a warehouse (saveAsTable)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def register_views(spark: SparkSession, out_root: str) -> None:
    """Expose the output tables to spark.sql() as temp views:
    `extracted` (wide, incl. counters+spans) and `lineage`."""
    spark.read.parquet(f"{out_root}/extracted").createOrReplaceTempView(
        "extracted"
    )
    spark.read.parquet(f"{out_root}/lineage").createOrReplaceTempView(
        "lineage"
    )


def store_stats(extracted: DataFrame) -> DataFrame:
    """GET /documents/stats analog (coordinates_store.py:81-110): count +
    oldest/newest document by timestamp."""
    return extracted.agg(
        F.count("*").alias("total_documents"),
        F.min("warc_ts").alias("oldest_ts"),
        F.max("warc_ts").alias("newest_ts"),
        F.min_by("url", "warc_ts").alias("oldest_url"),
        F.max_by("url", "warc_ts").alias("newest_url"),
    )
