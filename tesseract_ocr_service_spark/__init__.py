"""tesseract_ocr_service_spark — a PySpark-native batch extraction engine.

A from-scratch reimplementation of the extraction *contract* of the
reference service (Maskedxxx/tesseract-ocr-service, a per-request FastAPI
OCR pipeline: split -> OSD -> deskew -> OCR) as a pure DataFrame transform
over an Iceberg-style table of Common-Crawl-like pages
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Architecture (Spark-first, not a port):

- All heavy lifting happens inside ONE fused ``mapInArrow`` kernel
  (`operators.extract`), crossing the JVM<->Python Arrow boundary once per
  batch with output built as Arrow arrays — where the reference crosses
  a process boundary 5x per document (reference
  ``ocr/services/ocr_processor.py:400-457``).
- Everything relational (validation predicates, partition pruning, column
  pruning, salting, lineage aggregation, dedup, similarity) is declarative
  DataFrame API so Catalyst/AQE optimize it.
- Batch only: the reference is strictly request/response with no cross-
  request state except an in-memory coordinates cache
  (``ocr/services/coordinates_store.py:8-24``), which here becomes the
  persisted ``spans`` output table keyed by ``url``.
"""

__version__ = "0.1.0"
