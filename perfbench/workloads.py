"""The workloads: set-up, one timed operation, and output checks.

All inputs derive from the run's seed through ``sources.gen`` (pages)
and ``sources.warc.write_warc`` (archives); the engine sees only the
files written here.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C
from tesseract_ocr_service_spark.sources import gen
from tesseract_ocr_service_spark.sources import warc as W

import checks
from tracing import Tracer

#: the generator spreads warc_ts over 30 days from 2026-01-01
DAYS = [f"2026-01-{d:02d}" for d in range(1, 31)]
#: the day that lands as WARC archives
NEW_DAY = DAYS[-1]
#: input layout, fixed so that it does not depend on the machine
GEN_PARTITIONS = 8
N_ARCHIVES = 4
WARMUP_LOOKUPS = 20
#: input bytes per salted partition: salting is sized from the data, not
#: from the cores, and inputs under one such share use the narrow plan
SALT_BYTES = 64 << 20


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    cores: int
    tracer: Tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Op:
    wall_s: float
    docs: int
    ok: bool
    what: str = ""


@dataclass
class CommitRun:
    """What one run_checkpointed call wrote, for the commit layer."""

    wall_s: float
    files_written: int
    bytes_written: int
    lineage_rows: int


def parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def files_bytes(root: str, suffix: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(suffix)
    )


def salt_for(n_bytes: int) -> int:
    return n_bytes // SALT_BYTES


def lineage_rows(spark: SparkSession, out_root: str) -> int:
    p = f"{out_root}/lineage"
    return spark.read.parquet(p).count() if os.path.isdir(p) else 0


def commit_targets() -> list:
    """Engine calls run_checkpointed makes through module attributes,
    wrapped in spans while a traced run commits."""
    return [
        (C, "committed_days", "commit.committed_days", None),
        (X, "read_pages", "read_pages", None),
        (X, "extract", "extract.plan", None),
        (X, "lineage_view", "lineage_view", None),
    ]


def timed_commit(ctx: Ctx, source: str, out_root: str, **kw) -> tuple:
    """run_checkpointed with its wall time and what it wrote."""
    files_before = parquet_files(out_root)
    rows_before = lineage_rows(ctx.spark, out_root)
    targets = commit_targets() if ctx.tracer.enabled else []
    with ctx.tracer.patched(targets), ctx.tracer.span("run_checkpointed"):
        t = time.perf_counter()
        summary = C.run_checkpointed(ctx.spark, source, out_root, **kw)
        wall = time.perf_counter() - t
    new = {
        p: s for p, s in parquet_files(out_root).items() if p not in files_before
    }
    run = CommitRun(
        wall, len(new), sum(new.values()),
        lineage_rows(ctx.spark, out_root) - rows_before,
    )
    return summary, run


def write_corpus(ctx: Ctx, n_docs: int) -> tuple[str, int]:
    """The pages table of documents ``0..n_docs-1`` (``gen.write_pages``)."""
    pages = ctx.path("pages")
    gen.write_pages(ctx.spark, pages, n_docs, seed=ctx.seed, partitions=GEN_PARTITIONS)
    return pages, n_docs


def write_corpus_bytes(ctx: Ctx, budget_mib: float) -> tuple[str, int]:
    """The pages table (``gen.write_pages`` layout: warc_day partitions,
    ``GEN_PARTITIONS`` files per day) of the documents ``0..k`` whose
    payloads first add up to ``budget_mib``.

    A fixed document count would leave the work per seed to the heavy
    tail: a few ~1 MB listicles move a 4000-document corpus by +-25% in
    bytes from one seed to the next. A byte budget keeps the work fixed
    and the heavy tail in."""
    budget = int(budget_mib * (1 << 20))
    # 1.4 KB/doc is below the leanest seed's mean payload: enough ids
    n_max = budget // 1400
    doc = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    upto = F.sum(F.length("html")).over(Window.orderBy("_id"))
    pages = ctx.path("pages")
    (
        gen.generate_pages(ctx.spark, n_max, seed=ctx.seed, partitions=GEN_PARTITIONS)
        .withColumn("_id", doc)
        .withColumn("_before", upto - F.length("html"))
        .where(F.col("_before") < budget)
        .repartition(GEN_PARTITIONS, "_id")
        .drop("_id", "_before")
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy("warc_day")
        .parquet(pages)
    )
    return pages, ctx.spark.read.parquet(pages).count()


def write_archives(ctx: Ctx, pages: str, day: str = NEW_DAY) -> str:
    """Land one day of the corpus as ``.warc.gz`` archives, one gzip
    member per record (the Common Crawl layout)."""
    rows = sorted(
        X.read_pages(ctx.spark, pages, day, day)
        .select("url", "warc_ts", "html")
        .collect()
    )
    arch = ctx.path("archives")
    os.makedirs(arch, exist_ok=True)
    for a in range(N_ARCHIVES):
        W.write_warc(
            os.path.join(arch, f"day-{a:02d}.warc.gz"),
            [(r["url"], r["warc_ts"], bytes(r["html"])) for r in rows[a::N_ARCHIVES]],
        )
    return arch


class Workload:
    name = ""
    #: corpus size in documents (see write_corpus)
    corpus_docs = 0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.pages = ""
        self.n_docs = 0
        self.salt = 0
        #: a committed output root (the last one, for backfill)
        self.out = ""
        self.commit_runs: list[CommitRun] = []

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def check(self, tally: checks.Tally) -> None:
        raise NotImplementedError

    def _corpus(self) -> None:
        self.pages, self.n_docs = write_corpus(self.ctx, self.corpus_docs)
        self.salt = salt_for(files_bytes(self.pages, ".parquet"))


class Backfill(Workload):
    """A fresh checkpointed run over the whole corpus, into an empty root."""

    name = "backfill"
    #: corpus size as payload MiB (see write_corpus_bytes)
    corpus_mib = 4.0

    def setup(self) -> None:
        self.pages, self.n_docs = write_corpus_bytes(self.ctx, self.corpus_mib)
        self.salt = salt_for(files_bytes(self.pages, ".parquet"))

    def warmup(self) -> None:
        # the first run in a fresh JVM is ~40% slower
        out = self.ctx.path("warm")
        C.run_checkpointed(self.ctx.spark, self.pages, out, salt_partitions=self.salt)
        shutil.rmtree(out)

    def op(self, i: int) -> Op:
        out = self.ctx.path(f"backfill-{i}")
        summary, run = timed_commit(self.ctx, self.pages, out, salt_partitions=self.salt)
        self.commit_runs.append(run)
        if self.out:
            shutil.rmtree(self.out)
        self.out = out
        ok = summary.n_docs == self.n_docs and summary.pending_days == DAYS
        return Op(run.wall_s, summary.n_docs, ok, f"backfill run {i}: {summary}")

    def check(self, tally: checks.Tally) -> None:
        spark = self.ctx.spark
        extracted = f"{self.out}/extracted"
        ids = checks.sample_ids(self.ctx.seed, list(range(self.n_docs)))
        checks.check_golden(spark, extracted, ids, self.ctx.seed, tally)
        checks.check_lineage(spark, self.out, set(DAYS), self.n_docs, tally)
        # the last day, landed as WARC archives, must extract to the rows
        # the backfill committed for it
        self.archives = write_archives(self.ctx, self.pages)
        cols = list(checks.PARITY_COLUMNS)
        landed = (
            X.extract(W.read_warc(spark, self.archives)).select(*cols).collect()
        )
        committed = (
            spark.read.parquet(extracted)
            .where(F.col("warc_day") == NEW_DAY)
            .select(*cols)
            .collect()
        )
        checks.check_parity(landed, committed, tally)


class SpansLookup(Workload):
    """Point reads of random urls from an output committed in set-up."""

    name = "spans_lookup"
    corpus_docs = 1000

    def setup(self) -> None:
        self._corpus()
        self.out = self.ctx.path("out")
        _, run = timed_commit(self.ctx, self.pages, self.out, salt_partitions=self.salt)
        self.commit_runs.append(run)
        self.spans_path = f"{self.out}/extracted"
        self.urls = sorted(
            r["url"]
            for r in self.ctx.spark.read.parquet(self.spans_path).select("url").collect()
        )
        self.rng = random.Random(self.ctx.seed)
        self.answers: dict[str, list[str]] = {}

    def warmup(self) -> None:
        # lookup latency settles only after a few dozen reads
        for url in random.Random(-self.ctx.seed).sample(self.urls, WARMUP_LOOKUPS):
            X.document_json(self.ctx.spark, self.spans_path, url).collect()

    def op(self, i: int) -> Op:
        url = self.rng.choice(self.urls)
        with self.ctx.tracer.span("document_json"):
            t = time.perf_counter()
            rows = X.document_json(self.ctx.spark, self.spans_path, url).collect()
            wall = time.perf_counter() - t
        self.answers.setdefault(url, [r["coordinates_json"] for r in rows])
        return Op(wall, len(rows), len(rows) == 1, f"lookup {url}: {len(rows)} rows")

    def check(self, tally: checks.Tally) -> None:
        for url, answers in sorted(self.answers.items()):
            exp = checks.expected_coordinates(url, self.ctx.seed)
            tally.add(
                len(answers) == 1 and checks.coordinates_match(answers[0], exp),
                f"coordinates differ for {url}",
            )
        ids = checks.sample_ids(self.ctx.seed, list(range(self.n_docs)))
        checks.check_golden(self.ctx.spark, self.spans_path, ids, self.ctx.seed, tally)
        checks.check_lineage(self.ctx.spark, self.out, set(DAYS), self.n_docs, tally)


WORKLOADS = {w.name: w for w in (Backfill, SpansLookup)}
