"""Deterministic synthetic `pages` corpus (FIXTURES.md §1).

Every document is a pure function of ``(seed, doc_id)`` — generation is
reproducible regardless of partitioning or parallelism, so goldens can be
frozen once and any subset regenerated. Distribution facts mirror the
web reality the north_rule cares about:

- ~Zipf domain distribution (a few domains own most urls -> exercises
  salting / skew handling);
- heavy-tailed payload sizes (lognormal-ish word counts);
- ~89% HTML payloads, ~9% ``%PDF`` layout streams, ~2% edge rows
  (garbage, zero-page PDFs, poisoned pages/docs);
- warc_ts uniform over 30 days from 2026-01-01 (partition pruning).

The generator also exposes ``truth(doc_id, seed)`` — the ground-truth
composition of each document (which blocks are content, the raw word
records) — consumed ONLY by tests to compute expected outputs through the
independent oracle; the engine never sees it.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from typing import Iterator

import pandas as pd

from ..functions import htmlx, pdfstream
from ..worker import forget_zip_finders

EPOCH = datetime(2026, 1, 1)
N_DOMAINS = 50

#: seeded vocabulary: ASCII + Cyrillic + CJK + accents + entity-needing
#: tokens (pin UTF-8 byte-identity and escape round-trips).
VOCAB = (
    "the quick brown fox jumps over lazy dog data spark shuffle partition "
    "kernel vector batch arrow column parquet lineage checkpoint salt skew "
    "crawl corpus boiler plate nav footer content extract canonical page "
    "block paragraph line word conf bbox deskew rotate orient magic "
    "Привет мир данные поток страница текст слово блок строка "
    "中文 分词 数据 页面 文本 "
    "désolé café naïve façade jalapeño "
    "x&y a<b c>d q'z \"quoted\" five-percent 100% #tag"
).split()

BOILER_WORDS = "home about contact login signup terms privacy sitemap rss".split()
LANGS = ["rus", "eng", "es", "zh", "de"]


def _rnd(doc_id: int, seed: int) -> random.Random:
    # splitmix64 of (seed, doc_id) -> independent stream per document
    z = (seed * 0x9E3779B97F4A7C15 + doc_id * 0xBF58476D1CE4E5B9) & (2**64 - 1)
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
    return random.Random(z ^ (z >> 31))


def _domain(r: random.Random) -> str:
    # zipf-ish: u^3 concentrates mass near 0 -> domain0 owns ~28% of urls
    return f"d{int((r.random() ** 3) * N_DOMAINS)}.example.com"


def _words(r: random.Random, n: int) -> list[str]:
    return [VOCAB[r.randrange(len(VOCAB))] for _ in range(n)]


def _html_doc(r: random.Random) -> tuple[bytes, dict]:
    """-> (payload, truth). truth['content'] = list of kept-block token
    lists in document order; truth['n_boiler'] = dropped-block count."""
    parts: list[str] = ["<html><head><title>t</title>"]
    parts.append("<script>var s='never & visible';</script>")
    parts.append("<style>.x{color:red}</style></head><body>")
    content: list[list[str]] = []
    n_boiler = 0

    def boiler_nav(tag: str) -> str:
        nonlocal n_boiler
        n_boiler += 1
        links = "".join(
            f'<a href="/{w}">{w}</a> '
            for w in r.sample(BOILER_WORDS, r.randint(2, 5))
        )
        return f"<{tag}>{links}</{tag}>"

    def boiler_linkfarm() -> str:
        nonlocal n_boiler
        n_boiler += 1
        ws = r.sample(BOILER_WORDS, 4)
        # link density 4/5 = 0.8 > 0.33 -> dropped
        return (
            "<div>"
            + "".join(f'<a href="/{w}">{w}</a> ' for w in ws)
            + "stray</div>"
        )

    def content_block() -> str:
        tag = r.choice(["p", "p", "p", "li", "h2"])
        if tag == "h2":
            toks = _words(r, r.randint(1, 4))  # headings kept from 1 token
        else:
            # lognormal-ish heavy tail for payload sizes
            n = max(3, int(r.lognormvariate(2.6, 0.9)))
            toks = _words(r, min(n, 400))
        inner_toks = list(toks)
        html_toks = [htmlx.escape(t) for t in toks]
        if tag != "h2" and len(toks) >= 7 and r.random() < 0.3:
            # low-link-density anchor inside content (density 1/n <= 0.33)
            i = r.randrange(len(html_toks))
            html_toks[i] = f'<a href="/x">{html_toks[i]}</a>'
        if len(toks) >= 5 and r.random() < 0.3:
            i = r.randrange(len(html_toks))
            html_toks[i] = f"<b>{html_toks[i]}</b>"
        content.append(inner_toks)
        return f"<{tag}>{' '.join(html_toks)}</{tag}>"

    def short_block() -> str:
        nonlocal n_boiler
        n_boiler += 1
        return f"<p>{' '.join(_words(r, r.randint(1, 2)))}</p>"  # <3 -> drop

    parts.append(boiler_nav("nav"))
    if r.random() < 0.5:
        parts.append(boiler_nav("header"))
    # heavy-tailed page sizes (FIXTURES.md §1: ~1 KB .. ~1 MB): most
    # pages are a few short blocks; ~3% are long reads (10-80 blocks);
    # ~0.3% are huge listicles (up to ~1 MB of HTML).
    u = r.random()
    if u < 0.003:
        n_blocks = r.randint(400, 2000)
    elif u < 0.03:
        n_blocks = r.randint(10, 80)
    else:
        n_blocks = r.randint(1, 6)
    for _ in range(n_blocks):
        parts.append(content_block())
        if r.random() < 0.3:
            parts.append(boiler_linkfarm())
        if r.random() < 0.15:
            parts.append(short_block())
    if r.random() < 0.6:
        parts.append(boiler_nav("aside"))
    parts.append(boiler_nav("footer"))
    parts.append("<!-- comment noise --></body></html>")
    return "".join(parts).encode("utf-8"), {
        "kind": "html",
        "content": content,
        "n_boiler": n_boiler,
    }


def _pdf_doc(r: random.Random) -> tuple[bytes, dict]:
    """-> (payload, truth). truth['pages'] = decoded page dicts."""
    u = r.random()
    if u < 0.12:
        return pdfstream.encode([]), {"kind": "pdf_empty", "pages": []}
    if u < 0.20:
        pages = [_pdf_page(r, 1)]
        return (
            pdfstream.encode(pages, poison_doc=True),
            {"kind": "pdf_poison_doc", "pages": pages},
        )
    pages = [_pdf_page(r, pn + 1) for pn in range(r.randint(1, 4))]
    # encode in shuffled page order: output must still sort by page_number
    shuffled = pages[:]
    r.shuffle(shuffled)
    return pdfstream.encode(shuffled), {"kind": "pdf", "pages": pages}


def _pdf_page(r: random.Random, page_number: int) -> dict:
    words = []
    for b in range(1, r.randint(1, 3) + 1):
        for p in range(1, r.randint(1, 2) + 1):
            for ln in range(1, r.randint(1, 4) + 1):
                for wn in range(1, r.randint(1, 8) + 1):
                    t = VOCAB[r.randrange(len(VOCAB))]
                    u = r.random()
                    if u < 0.05:
                        t = ""  # empty text, conf >= 0: counts in conf mean
                    elif u < 0.08:
                        t = "  "
                    conf = -1 if r.random() < 0.08 else r.randint(0, 100)
                    words.append(
                        (
                            b,
                            p,
                            ln,
                            wn,
                            t,
                            r.randint(0, 1000),
                            r.randint(0, 1400),
                            r.randint(4, 120),
                            r.randint(8, 24),
                            conf,
                        )
                    )
    rr = r.random()
    rotate = 0 if rr < 0.7 else r.choice([90, 180, 270])
    sr = r.random()
    if sr < 0.6:
        skew = 0.0
    elif sr < 0.7:
        skew = 0.3  # exactly at threshold -> NOT applied
    else:
        skew = round(r.uniform(-5.0, 5.0), 2)
    return {
        "page_number": page_number,
        "width": r.choice([800, 1000, 1240]),
        "height": r.choice([1000, 1400, 1754]),
        "rotate": rotate,
        "skew_angle": skew,
        "poison": r.random() < 0.05,
        "words": words,
    }


def doc(doc_id: int, seed: int = 42) -> dict:
    """Generate one pages row (+ private truth) for (seed, doc_id)."""
    r = _rnd(doc_id, seed)
    domain = _domain(r)
    url = f"https://{domain}/p/{doc_id}"
    warc_ts = EPOCH + timedelta(seconds=r.random() * 30 * 86400)
    lang = r.choice(LANGS)
    k = r.random()
    if k < 0.89:
        payload, truth = _html_doc(r)
    elif k < 0.98:
        payload, truth = _pdf_doc(r)
    else:
        payload, truth = (
            b"\x89GARBAGE" + bytes([r.randrange(256) for _ in range(16)]),
            {"kind": "garbage"},
        )
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": payload,
        # the noise `text` column the pipeline must never read
        "text": " ".join(_words(r, 10)),
        "lang": lang,
        "truth": truth,
    }


def truth(doc_id: int, seed: int = 42) -> dict:
    return doc(doc_id, seed)["truth"]


PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def gen_batch(ids: list[int], seed: int = 42) -> pd.DataFrame:
    rows = [doc(i, seed) for i in ids]
    return pd.DataFrame(
        {c: [row[c] for row in rows] for c in PAGES_COLUMNS}
    )


def gen_batches_iter(
    batches: Iterator[pd.DataFrame], seed: int
) -> Iterator[pd.DataFrame]:
    """mapInPandas entrypoint over spark.range(n) -> pages rows."""
    forget_zip_finders()
    for b in batches:
        if len(b):
            yield gen_batch(b["id"].tolist(), seed)


def generate_pages(spark, n_docs: int, seed: int = 42, partitions: int = 32):
    """Distributed generation: each executor derives its rows from ids."""
    import functools

    from ..schema import PAGES_SCHEMA

    return (
        spark.range(0, n_docs, 1, partitions)
        .mapInPandas(
            functools.partial(gen_batches_iter, seed=seed),
            schema=PAGES_SCHEMA,
        )
    )


def write_pages(
    spark, path: str, n_docs: int, seed: int = 42, partitions: int = 32
) -> None:
    """Write the corpus warc_day-partitioned (Iceberg stand-in)."""
    from pyspark.sql import functions as F

    (
        generate_pages(spark, n_docs, seed, partitions)
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy("warc_day")
        .parquet(path)
    )
