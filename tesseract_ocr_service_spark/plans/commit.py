"""Idempotent, resumable, lineage-tracked extraction runs.

The reference service is stateless per request — a failed request is
simply retried by the client (``ocr/main.py:151-175``). At 10^12
documents the unit of retry must be the *partition*: this module commits
extraction output per ``warc_day`` partition with the lineage table as
the commit marker, so any failed/killed run resumes exactly at the
un-committed partitions (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Protocol (emulating the Iceberg snapshot-commit behaviors named by the
rule, with plain parquet — no Iceberg jars offline):

1. ``pending = input warc_days - committed warc_days`` where committed =
   days present in the lineage table, read on the driver with pyarrow
   (:func:`committed_days`: no job runs). The input days are the
   ``warc_day=`` directories of the pages table's file listing (held by
   the file index already, so no job runs; a day directory whose files
   hold no rows is pending too, and gets a zero marker). A WARC source,
   whose warc_day is a parsed column, takes one ``distinct()`` over its
   persisted frame instead.
2. Process ONLY pending days, through :func:`write_days` — the one
   write of extracted rows, which ``streaming.ingest.epoch_sink`` calls
   too. The raw pending pages are first placed into tasks by a plan the
   driver makes from the sorted pending days (``repartitionById``: no
   sampling job; only the kernel's columns cross the exchange, and the
   kernel stage after it stays narrow), so a day lands as one file, or
   as an even url-hash split over several tasks when there are fewer
   days than tasks. The layout is a function of the input and the task
   count alone, so a rerun writes the same rows in the same files, at
   the same sizes. The wide output is written with **dynamic partition
   overwrite** — a re-attempt replaces exactly the partitions it
   produces, never touching committed ones, and Spark's output
   committer keeps half-written files in ``_temporary`` out of reads. A
   committed day directory is therefore written once, already at its
   final layout, and no compaction pass is needed after it. The kernel
   sums each day's lineage counters into an accumulator as it goes
   (``kernel.kernel_iter``); it runs in the write's result stage, so
   each partition's sums count once, however often its task was
   retried.
3. Append per-day counter rows to ``lineage/`` LAST, as one parquet
   file pyarrow builds from step 2's accumulator (nothing is re-read)
   and writes on the driver (no job) under a ``_`` name readers skip,
   then publishes by one move to ``part-<uuid>.parquet``. A crash before
   the marker leaves the day un-committed -> step 1 reprocesses it ->
   overwrite makes the retry idempotent. Committed partitions are never
   rewritten, so re-runs are byte-stable.

Steps 1 and 3 open ``out_root/lineage`` where Spark resolves it
(``sources.warc.spark_uri``; no scheme: ``fs.defaultFS``) with the
driver's pyarrow, as point reads do. pyarrow never sees Hadoop's
``fs.*``: ``hdfs://`` needs libhdfs on the driver, ``s3a://`` the AWS
environment or profile; a scheme pyarrow cannot open fails step 1.

``salt_partitions`` is step 2's task count ``n`` (0 means the cluster's
default parallelism): a run writes ``max(days, n)`` data files at most,
one per day when ``days >= n``.

Output layout (one wide columnar table — parquet column pruning means
text-only readers never touch the fat ``spans`` pages):

    out_root/extracted/warc_day=YYYY-MM-DD/*.parquet   (EXTRACTED_SCHEMA)
    out_root/lineage/*.parquet                         (LINEAGE_SCHEMA)

A point read (``operators.extract.lookup_spans``) finds a url by a scan
of the data files' own ``url`` column, so no index is written beside
them.
"""

from __future__ import annotations

import datetime
import posixpath
import time
import uuid
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark import StorageLevel
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..operators import extract as X
from ..schema import LINEAGE_ARROW, LINEAGE_COUNTERS
from ..sources import warc as Wsrc


class _DayLineageParam(AccumulatorParam):
    """{warc_day: [kernel_ms, *LINEAGE_COUNTERS]} dicts, merged by an
    elementwise per-key sum — the executor-side collector behind a
    commit's lineage rows (``kernel.kernel_iter``)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = [x + y for x, y in zip(a[k], v)] if k in a else v
        return a


def committed_days(spark: SparkSession, out_root: str) -> set[str]:
    """Days already committed = days present in the lineage table, read
    on the driver with pyarrow (no Spark job). The listing allows a
    missing directory and the schema is known, so a missing or empty
    log is no days; entries starting with ``_`` or ``.`` (an unpublished
    marker, Spark's ``_SUCCESS`` and ``.crc`` files) are skipped, as
    Spark skips them. The log is where Spark resolves it."""
    fs, root = Wsrc.arrow_fs(Wsrc.spark_uri(spark, f"{out_root}/lineage"))
    listing = pafs.FileSelector(root, allow_not_found=True)
    log = ds.FileSystemDatasetFactory(fs, listing, ds.ParquetFileFormat())
    days = log.finish(LINEAGE_ARROW).to_table(columns=["warc_day"])
    return set(days.column("warc_day").to_pylist())


def _bound_day(ts) -> str | None:
    """A ts_from/ts_to bound as its 'yyyy-MM-dd' day: the one bound rule
    of both sources. It is what Spark compares the parquet source's
    date-typed warc_day with (the cast keeps a timestamp's date), and
    the WARC source's string warc_day compares with it as text (the
    raw bound would not: "2026-01-02" < "2026-01-02 06:00:00")."""
    if ts is None:
        return None
    return datetime.date.fromisoformat(str(ts)[:10]).isoformat()


def listed_days(pages: DataFrame, ts_from=None, ts_to=None) -> list[str]:
    """The sorted ``warc_day`` values of the files a pages table read
    lists (``pages.inputFiles()``: the file index holds them, so no job
    runs), kept inside [ts_from, ts_to] as ``X.read_pages`` keeps them:
    by date, a timestamp bound comparing by its date."""
    days = {
        day
        for f in pages.inputFiles()
        for day in map(X.dir_day, posixpath.dirname(f).split("/"))
        if day is not None
    }
    lo, hi = _bound_day(ts_from), _bound_day(ts_to)
    return sorted(
        d
        for d in days
        if (lo is None or d >= lo) and (hi is None or d <= hi)
    )


@dataclass
class RunSummary:
    pending_days: list[str]
    skipped_days: list[str]
    n_docs: int
    wall_ms: int


def run_checkpointed(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    cfg: ExtractConfig = ExtractConfig(),
    ts_from=None,
    ts_to=None,
    salt_partitions: int = 0,
    languages=None,
    source_format: str = "parquet",
    _fail_before_commit: bool = False,  # test hook: crash between data & marker
) -> RunSummary:
    """One idempotent, resumable extraction run over [ts_from, ts_to].

    NOTE: the lineage commit log is scoped to ``out_root`` and marks a
    day done under THIS job's config — a day committed by a
    language-filtered run will be skipped by later runs against the
    same out_root even with a wider filter. One output root == one
    job config; use a fresh out_root when the config changes.

    ``source_format='warc'`` reads ``.warc.gz`` archives directly
    (sources/warc.py) — the direct-from-crawl path. Its warc_day is a
    parsed column, not a directory partition, so the ts range filters
    rows but cannot prune archive files; for repeated runs over one
    crawl, stage to the partitioned parquet/Iceberg table first (one
    extraction-free pass) and run this job against that.
    """
    t0 = time.perf_counter()
    # one bound rule for both sources: a bound keeps its date
    lo, hi = _bound_day(ts_from), _bound_day(ts_to)
    with ExitStack() as stack:
        if source_format != "warc":
            pages = X.read_pages(spark, pages_path, lo, hi)
            input_days = listed_days(pages, lo, hi)
        else:
            pages = Wsrc.read_warc(spark, pages_path)
            if lo is not None:
                pages = pages.where(F.col("warc_day") >= F.lit(lo))
            if hi is not None:
                pages = pages.where(F.col("warc_day") <= F.lit(hi))
            # the day enumeration and the extraction write are two
            # consumers, each re-running the whole gunzip+parse (CLAUDE.md
            # extra-consumer rule), the run's dominant cost. Persisted for
            # the run (spills to executor disk: the staging pass the
            # docstring recommends, in-flight).
            pages = stack.enter_context(persisted(pages))
            input_days = sorted(
                str(r["warc_day"])
                for r in pages.select("warc_day").distinct().collect()
            )

        # ---- step 1: partition-level anti-join against the commit log
        done = committed_days(spark, out_root)
        pending = [d for d in input_days if d not in done]
        skipped = [d for d in input_days if d in done]
        if not pending:
            wall_ms = int((time.perf_counter() - t0) * 1000)
            return RunSummary(pending, skipped, 0, wall_ms)

        # ---- step 2: place, process + dynamic-partition-overwrite ----
        # per-day kernel wall and counters, collected executor-side by
        # kernel_iter during the write action below
        day_acc = spark.sparkContext.accumulator({}, _DayLineageParam())
        # warc_ts is non-null by schema contract (undated WARC records
        # ride the epoch sentinel, sources/warc.UNDATED_TS), so the
        # warc_day written is always a real partition value step 1 can
        # enumerate.
        write_days(
            pages.where(F.col("warc_day").isin(pending)), f"{out_root}/extracted",
            pending, cfg, salt_partitions, languages=languages, day_acc=day_acc,
        )

    if _fail_before_commit:
        raise RuntimeError("injected failure between data write and commit marker")

    # ---- step 3: lineage rows LAST (the marker) ----------------------
    wall_ms = int((time.perf_counter() - t0) * 1000)
    # counters: step 2's accumulator, exactly once per written row.
    # EVERY pending day gets a marker, zero-filled if all its rows were
    # filtered away (else it stays pending and resume never converges).
    zero = [0] * (1 + len(LINEAGE_COUNTERS))
    rows = []
    for d in pending:
        kernel_ms, *counters = day_acc.value.get(d, zero)
        rows.append(
            {
                "warc_day": d,
                **dict(zip(LINEAGE_COUNTERS, counters)),
                "kernel_ms": int(kernel_ms),
                "wall_ms": wall_ms,
                "attempt": 1,  # a pending day has no lineage row yet
            }
        )
    # one file, written under a `_` name readers skip, then published
    fs, root = Wsrc.arrow_fs(Wsrc.spark_uri(spark, f"{out_root}/lineage"))
    fs.create_dir(root)
    name = f"part-{uuid.uuid4()}.parquet"
    marker = pa.Table.from_pylist(rows, LINEAGE_ARROW)
    pq.write_table(marker, f"{root}/_{name}", filesystem=fs)
    fs.move(f"{root}/_{name}", f"{root}/{name}")
    return RunSummary(pending, skipped, sum(r["n_docs"] for r in rows), wall_ms)


def write_days(
    pages: DataFrame,
    path: str,
    days: list[str],
    cfg: ExtractConfig = ExtractConfig(),
    n: int = 0,
    epoch_id: int | None = None,
    languages=None,
    day_acc=None,
) -> None:
    """The one write of extracted rows, shared by a batch run (step 2)
    and a streaming epoch (``streaming.ingest.epoch_sink``).

    ``days`` are the sorted days ``pages`` holds. The raw pages are
    placed into ``n`` tasks (0: the cluster's default parallelism) by
    :func:`_day_tasks`' plan over them: one task per day when there are
    at least ``n`` days, else each day split evenly by url hash over its
    share of the tasks — at most ``max(days, n)`` files per call, the
    same for the same input. Only the kernel's input columns cross the
    exchange, and the kernel stage after it stays narrow (and in the
    write's result stage, which ``day_acc``'s exactly-once counters
    need: see ``kernel.kernel_iter``). The output is written with
    dynamic partition overwrite under ``warc_day``, or under
    ``epoch_id`` then ``warc_day`` when ``epoch_id`` is given: a retry
    replaces exactly the partitions it produces and touches no other."""
    n = n if n > 0 else pages.sparkSession.sparkContext.defaultParallelism
    todo = pages.repartitionById(n, _day_tasks(days, n))
    out = X.extract(todo, cfg, languages=languages, day_acc=day_acc)
    keys = ["warc_day"]
    if epoch_id is not None:
        out = out.withColumn("epoch_id", F.lit(int(epoch_id)))
        keys.insert(0, "epoch_id")
    # dynamic overwrite per write, whatever the session-level default
    (
        out.withColumn("warc_day", X.warc_day())
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*keys)
        .parquet(path)
    )


def _day_tasks(days: list[str], n: int) -> Column:
    """The task of each row as one SQL-text expression (CLAUDE.md
    big-expression rule), planned on the driver over the D sorted
    ``days``: day i goes to task i·n // D. When D >= n that is its one
    task, so each day lands in one file; when D < n the day spans the
    k tasks from there to (i+1)·n // D - 1, split by
    ``pmod(xxhash64(url), k)``. A row of an unlisted day goes to task 0."""
    if not days:
        return F.lit(0)
    d = len(days)
    groups: dict[str, list[str]] = {}
    for i, day in enumerate(days):
        lo, hi = i * n // d, (i + 1) * n // d
        task = str(lo) if hi - lo <= 1 else f"{lo} + pmod(xxhash64(url), {hi - lo})"
        quoted = day.replace("\\", "\\\\").replace("'", "\\'")
        groups.setdefault(task, []).append(f"'{quoted}'")
    whens = " ".join(
        f"WHEN {X.WARC_DAY_SQL} IN ({', '.join(ds)}) THEN {task}"
        for task, ds in groups.items()
    )
    return F.expr(f"CAST(CASE {whens} ELSE 0 END AS INT)")


@contextmanager
def persisted(df: DataFrame):
    """``df`` persisted (MEMORY_AND_DISK) for the block and released
    after it — for a frame with several consumers whose upstream (the
    WARC parse) is too costly to re-run for each."""
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield cached
    finally:
        cached.unpersist()


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(f"{out_root}/extracted")


def read_lineage(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(f"{out_root}/lineage")
