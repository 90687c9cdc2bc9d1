"""Job configuration for the extraction pipeline.

Mirrors the reference's env-driven settings (``ocr/config.py:14-56``,
defaults in ``.env.example:27-102``) and the per-request ``OCRConfig``
(``ocr/schemas.py:22-55``), collapsed into one frozen job-level config:
in a batch engine the "request config" is a job parameter, broadcast to
executors as plain closure state (small, immutable).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

#: THE declared-Content-Type allow-list — the single source shared by
#: ExtractConfig.allowed_content_types (engine path, the kernel's
#: gate) and operators.extract.content_type_ok's default (harness
#: oracle path),
#: so the two can never drift apart. Reference set (ocr/main.py:354-363)
#: plus text/html (HTML payloads are first-class here).
ALLOWED_CONTENT_TYPES: tuple[str, ...] = (
    "application/pdf",
    "application/octet-stream",
    "text/html",
)


@dataclass(frozen=True)
class ExtractConfig:
    """All knobs of the extraction kernel.

    Page-selection priority replicates ``ocr/schemas.py:26-29`` /
    ``ocr/services/pdf_processor.py:56-68,92-100``:
    ``pages`` (explicit list) > ``page_start``/``page_end`` (range) > all.
    Unlike the reference (which renders ALL pages then filters the list,
    ``pdf_processor.py:60-63``), we filter before parsing word records.
    """

    # languages accepted by the job; reference default ["rus"]
    # (ocr/schemas.py:38-41), joined "+" (ocr_processor.py:353).
    languages: tuple[str, ...] = ("rus",)
    pages: Optional[tuple[int, ...]] = None
    page_start: Optional[int] = None
    page_end: Optional[int] = None

    # validation gate: reference OCR_MAX_FILE_SIZE_MB=100 (.env.example:27,
    # enforced ocr/main.py:368-378).
    max_file_size_mb: int = 100

    # declared Content-Type allow-list (reference gate ocr/main.py:354-363:
    # application/pdf accepted, octet-stream tolerated because "many
    # clients don't set the type"; text/html added — HTML payloads are
    # first-class here). Checked BEFORE size/magic, but only when the
    # input frame carries a `content_type` column (e.g. the WARC source
    # surfaces the HTTP response header); crawl MIME labels stay
    # advisory — an ABSENT/empty declared type always passes, magic
    # sniffing still decides the parse path. None disables the gate
    # entirely. Matching is parameter-stripped + case-folded
    # ('Text/HTML; charset=UTF-8' -> 'text/html'): the reference's
    # exact-match is the curated-upload special case and would reject
    # nearly every real crawl header on parameters alone. ONE list:
    # the module-level ALLOWED_CONTENT_TYPES is also content_type_ok's
    # default, so the engine path and the harness oracle query can
    # never validate different lists.
    allowed_content_types: Optional[tuple[str, ...]] = (
        ALLOWED_CONTENT_TYPES
    )

    # deskew applied iff abs(angle) > skew_threshold — strictly greater
    # (ocr_processor.py:443; OCR_SKEW_THRESHOLD=0.3 in .env.example:82).
    skew_threshold: float = 0.3

    # NOTE: the reference declares osd_confidence_threshold=5.0
    # (ocr/config.py:43, .env.example:62-67) but NEVER reads it — rotation
    # applies whenever rotate != 0 regardless of OSD confidence
    # (ocr_processor.py:413-420). We replicate the *code* behavior: the
    # field exists for parity but is intentionally unused.
    osd_confidence_threshold: float = 5.0

    # ---- engine-side knobs (no reference analog) ----
    # HTML path: a rendered text line holds at most this many words
    # (deterministic flow-layout stand-in for Tesseract line detection).
    line_wrap_words: int = 12
    # HTML path: blocks with link_density > this are boilerplate.
    max_link_density: float = 0.33
    # HTML path: non-heading blocks with fewer words are boilerplate.
    min_block_words: int = 3
    # fixed per-word confidence on the HTML path (no real OCR => exact).
    html_word_conf: int = 95
    # emit the 5-level spans hierarchy (can be disabled for text-only runs)
    emit_spans: bool = True

    @property
    def max_file_size_bytes(self) -> int:
        return self.max_file_size_mb * 1024 * 1024

    @property
    def lang_string(self) -> str:
        """Languages joined Tesseract-style (ocr_processor.py:353)."""
        return "+".join(self.languages)


# Row statuses produced by the pipeline (FIXTURES.md §2).
STATUS_OK = "ok"
STATUS_REJECTED = "rejected"  # bad magic / oversize (ocr/main.py:335-390)
STATUS_ERROR = "error"  # doc-level failure (ocr_processor.py:535-542)
STATUS_EMPTY = "empty"  # zero pages (ocr_processor.py:386-392)
