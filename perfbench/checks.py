"""Output checks: every workload run ends with these, and each mismatch
counts as a failure in the run's result line.

Expected values come from ``tests/golden.py``, which derives them from
the generator's private truth through an independent transcription of
the reference algorithms, so the engine cannot agree with itself by
accident.
"""

from __future__ import annotations

import json
import random
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tesseract_ocr_service_spark.sources import gen
from tests import golden

#: documents compared against the golden per run
SAMPLE_DOCS = 120

#: columns a WARC-landed row must share with the same url's row read
#: from the partitioned pages table (warc_ts is second-precision in a
#: WARC-Date and lang is absent from WARC, so both are left out)
PARITY_COLUMNS = (
    "url", "status", "error", "total_pages", "avg_confidence",
    "canonical_text", "pages", "spans", "n_blocks_kept",
    "n_blocks_dropped", "n_words", "n_chars",
)


class Tally:
    """Attempted and failed operations and checks of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def add(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def doc_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def sample_ids(seed: int, ids: list[int], k: int = SAMPLE_DOCS) -> list[int]:
    return sorted(random.Random(seed).sample(ids, min(k, len(ids))))


def check_golden(
    spark: SparkSession, extracted: str, ids: list[int], seed: int, tally: Tally
) -> None:
    """status and canonical_text of each sampled document must equal the
    golden byte for byte, and each url must appear exactly once."""
    urls = {gen.doc(i, seed)["url"]: i for i in ids}
    rows = (
        spark.read.parquet(extracted)
        .where(F.col("url").isin(list(urls)))
        .select("url", "status", "canonical_text")
        .collect()
    )
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["url"], []).append(r)
    for url, i in urls.items():
        exp = golden.expected(i, seed)
        rs = got.get(url, [])
        ok = (
            len(rs) == 1
            and rs[0]["status"] == exp["status"]
            and rs[0]["canonical_text"] == exp["canonical_text"]
        )
        tally.add(ok, f"golden mismatch for {url}")


def check_lineage(
    spark: SparkSession, out_root: str, days: set[str], n_docs: int, tally: Tally
) -> None:
    """One lineage row per committed day, status counters summing to the
    day's document count, and the days' documents summing to the corpus."""
    rows = spark.read.parquet(f"{out_root}/lineage").collect()
    seen: dict[str, int] = {}
    for r in rows:
        seen[r["warc_day"]] = seen.get(r["warc_day"], 0) + 1
        ok = r["n_ok"] + r["n_error"] + r["n_rejected"] + r["n_empty"] == r["n_docs"]
        tally.add(ok, f"lineage counters do not sum on {r['warc_day']}")
    tally.add(
        set(seen) == days and all(v == 1 for v in seen.values()),
        f"lineage days {sorted(seen)} != committed {sorted(days)}",
    )
    tally.add(
        sum(r["n_docs"] for r in rows) == n_docs,
        f"lineage n_docs sum != {n_docs}",
    )


def check_parity(landed: list, reference: list, tally: Tally) -> None:
    """Rows landed from WARC archives must equal the same urls' rows
    extracted from the partitioned pages table."""
    ref = {r["url"]: r for r in reference}
    tally.add(len(landed) == len(ref), "landed row count != reference")
    for r in landed:
        tally.add(ref.get(r["url"]) == r, f"WARC row differs for {r['url']}")


def expected_coordinates(url: str, seed: int) -> dict:
    """The GET /documents/{id}/coordinates body the golden implies."""
    exp = golden.expected(doc_id(url), seed)
    blocks = exp.get("spans_blocks", {})
    return {
        "doc_id": url,
        "total_pages": exp["total_pages"],
        "blocks": [blocks[pn] for pn in sorted(blocks)],
    }


def coordinates_match(coordinates_json: str, expected: dict) -> bool:
    got = json.loads(coordinates_json)
    return (
        got["doc_id"] == expected["doc_id"]
        and got["total_pages"] == expected["total_pages"]
        and [p["blocks"] for p in got["pages"]] == expected["blocks"]
    )
