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
   too. The kernel's input columns are placed into tasks by a plan the
   driver makes from the sorted pending days (``repartitionById``: no
   sampling job), so a day lands as one file, or as an even url-hash
   split when there are fewer days than tasks, and each task is sorted
   by (day, url). Each task runs the kernel and writes its rows itself
   with pyarrow, one url-sorted file per day, under
   ``extracted/_staging-<uuid>/`` (a ``_`` name, which readers skip),
   and returns one row per file: day, path, kernel wall and lineage
   counters. The committed rows never cross back into the JVM. Two
   commits of one input write byte-identical files (in one session,
   and in two sessions with one pyarrow version; across pyarrow
   versions it is unmeasured). The driver
   ``collect``s the rows — a result stage returns each partition's
   rows once, from the attempt that succeeded, so their sums count
   each written row once however often a task was retried, and the
   files of a failed attempt are never published — then replaces each
   day directory the write produced with its staged files by moves
   (**dynamic partition overwrite**: exactly the produced partitions,
   never a committed one) and removes the staging directory. A
   committed day directory is written once, at its final layout, so no
   compaction pass follows. A driver that dies before the moves leaves
   the staging directory behind, unread, and its days pending.
3. Append per-day counter rows to ``lineage/`` LAST, as one parquet
   file pyarrow builds from step 2's summed rows (nothing is re-read)
   and writes on the driver (no job) under a ``_`` name readers skip,
   then publishes by one move to ``part-<uuid>.parquet``. A crash before
   the marker leaves the day un-committed -> step 1 reprocesses it ->
   overwrite makes the retry idempotent. Committed partitions are never
   rewritten, so re-runs are byte-stable.

Steps 1 and 3 open ``out_root/lineage`` where Spark resolves it
(``sources.warc.spark_uri``; no scheme: ``fs.defaultFS``) with the
driver's pyarrow, as point reads do, and step 2's tasks open
``out_root/extracted`` there with the executors' pyarrow, as the WARC
reader opens archives. pyarrow never sees Hadoop's ``fs.*``:
``hdfs://`` needs libhdfs on the driver and the executors, ``s3a://``
the AWS environment or profile there; a scheme pyarrow cannot open
fails step 1.

``salt_partitions`` is step 2's task count ``n`` (0 means the cluster's
default parallelism): a run writes ``max(days, n)`` data files at most,
one per day when ``days >= n``.

Output layout (one wide columnar table — parquet column pruning means
text-only readers never touch the fat ``spans`` pages):

    out_root/extracted/warc_day=YYYY-MM-DD/part-<uuid>.parquet   (EXTRACTED_SCHEMA)
    out_root/lineage/part-<uuid>.parquet                         (LINEAGE_SCHEMA)

A day file holds its rows sorted by url, with ``warc_ts`` as INT64 UTC
microseconds; day files Spark's writer made before hold it as INT96,
and every reader reads both (``test_root_written_by_both_writers_reads``).

A point read (``operators.extract.lookup_spans``) finds a url by a scan
of the data files' own ``url`` column, so no index is written beside
them.
"""

from __future__ import annotations

import datetime
import functools
import itertools
import posixpath
import time
import uuid
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from ..config import STATUS_EMPTY, STATUS_ERROR, STATUS_OK, STATUS_REJECTED, ExtractConfig
from ..functions.kernel import extract_batch
from ..operators import extract as X
from ..schema import EXTRACTED_ARROW, LINEAGE_ARROW, LINEAGE_COUNTERS
from ..sources import warc as Wsrc

#: the day column :func:`write_days` adds to the kernel's input
#: (``X.warc_day()``): the write tasks sort by it and name day
#: directories with it, and it is not written
_DAY = "_warc_day"

#: what a write task returns per data file it staged: the file's day,
#: its path under the staging directory, the kernel wall of its rows
#: and their lineage counters
STAGED_SCHEMA = StructType(
    [
        StructField("warc_day", StringType(), False),
        StructField("path", StringType(), False),
        StructField("kernel_ms", DoubleType(), False),
        *(StructField(c, LongType(), False) for c in LINEAGE_COUNTERS),
    ]
)
_STAGED_ARROW = to_arrow_schema(STAGED_SCHEMA)

#: the most Arrow bytes a write task buffers before it writes them out
#: as one row group (Spark's writer makes one per 128 MiB of encoded
#: data): a row group per input batch (256 rows) would fill a large
#: day's file with thousands of row groups, each adding footer entries
#: for all 44 leaf columns
_ROW_GROUP_BYTES = 64 << 20


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

        # ---- step 2: place, process, stage and publish the day files
        # warc_ts is non-null by schema contract (undated WARC records
        # ride the epoch sentinel, sources/warc.UNDATED_TS), so the
        # warc_day written is always a real partition value step 1 can
        # enumerate.
        sums = write_days(
            pages.where(F.col("warc_day").isin(pending)), f"{out_root}/extracted",
            pending, cfg, salt_partitions, languages=languages,
        )

    if _fail_before_commit:
        raise RuntimeError("injected failure between data write and commit marker")

    # ---- step 3: lineage rows LAST (the marker) ----------------------
    wall_ms = int((time.perf_counter() - t0) * 1000)
    # counters: step 2's per-file rows summed per day, exactly once per
    # written row. EVERY pending day gets a marker, zero-filled if all
    # its rows were filtered away (else it stays pending and resume
    # never converges).
    zero = [0] * (1 + len(LINEAGE_COUNTERS))
    rows = []
    for d in pending:
        kernel_ms, *counters = sums.get(d, zero)
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
) -> dict[str, list]:
    """The one write of extracted rows, shared by a batch run (step 2
    above) and a streaming epoch (``streaming.ingest.epoch_sink``).
    Returns ``{warc_day: [kernel_ms, *LINEAGE_COUNTERS]}`` of the rows
    it wrote.

    ``days`` are the sorted days ``pages`` holds. ``X.kernel_input``
    of ``pages`` is placed into ``n`` tasks (0: the cluster's default
    parallelism) by :func:`_day_tasks`' plan — at most ``max(days, n)``
    files per call, the same for the same input — and sorted by (day,
    url) in each. Each task writes its day files with pyarrow under
    ``path/_staging-<uuid>/`` (:func:`_write_task`) and returns one
    ``STAGED_SCHEMA`` row per file. The driver collects them, moves
    the files into ``[epoch_id=N/]warc_day=D/``, replacing exactly
    those directories (:func:`_publish`), and removes the staging
    directory. Executors open ``path`` where Spark resolves it, with
    their own pyarrow (``sources.warc.arrow_fs``)."""
    spark = pages.sparkSession
    n = n if n > 0 else spark.sparkContext.defaultParallelism
    uri = Wsrc.spark_uri(spark, path)
    fs, root = Wsrc.arrow_fs(uri)
    stage = f"_staging-{uuid.uuid4()}"
    prefix = "" if epoch_id is None else f"epoch_id={int(epoch_id)}/"
    todo = (
        X.kernel_input(pages, cfg, languages)
        .withColumn(_DAY, X.warc_day())
        .repartitionById(n, _day_tasks(days, n))
        .sortWithinPartitions(_DAY, "url")
    )
    write = functools.partial(
        _write_task, cfg=cfg, stage_uri=f"{uri}/{stage}", prefix=prefix
    )
    fs.create_dir(f"{root}/{stage}")
    try:
        files = todo.mapInArrow(write, STAGED_SCHEMA).collect()
        _publish(fs, f"{root}/{stage}", root, [f["path"] for f in files])
    finally:
        fs.delete_dir(f"{root}/{stage}")
    sums: dict[str, list] = {}
    for f in files:
        row = [f["kernel_ms"], *(f[c] for c in LINEAGE_COUNTERS)]
        old = sums.get(f["warc_day"])
        sums[f["warc_day"]] = row if old is None else [x + y for x, y in zip(old, row)]
    return sums


def _write_task(batches, cfg: ExtractConfig, stage_uri: str, prefix: str):
    """``mapInArrow`` body of :func:`write_days`: extract each input
    batch, and write its rows to the current day's file under
    ``stage_uri/<prefix>warc_day=D/``. The input is sorted by day, so
    one file is open at a time and each day of the task is one file;
    when a day ends its file is closed and its ``STAGED_SCHEMA`` row
    yielded. A batch's kernel wall is split over its days by rows."""
    fs, stage = Wsrc.arrow_fs(stage_uri)
    file = None
    for batch in batches:
        if not batch.num_rows:
            continue
        t0 = time.perf_counter()
        out = extract_batch(batch, cfg)
        ms = (time.perf_counter() - t0) * 1000.0
        start = 0
        for day, run in itertools.groupby(batch.column(_DAY).to_pylist()):
            k = sum(1 for _ in run)
            if file is None or file.day != day:
                if file is not None:
                    yield file.close()
                file = _DayFile(fs, stage, f"{prefix}warc_day={day}", day)
            file.write(out.slice(start, k), ms * k / out.num_rows)
            start += k
    if file is not None:
        yield file.close()


class _DayFile:
    """One staged data file: a write task's rows of one day, written by
    pyarrow (snappy, no ``ARROW:schema`` footer key) one row group per
    ``_ROW_GROUP_BYTES`` of rows at most, and the lineage sums of those
    rows."""

    def __init__(self, fs, stage: str, directory: str, day: str):
        fs.create_dir(f"{stage}/{directory}")
        self.day = day
        self.path = f"{directory}/part-{uuid.uuid4()}.parquet"
        self.writer = pq.ParquetWriter(
            f"{stage}/{self.path}", EXTRACTED_ARROW, filesystem=fs,
            compression="snappy", store_schema=False,
        )
        self.rows: list[pa.RecordBatch] = []
        self.nbytes = 0
        self.sums = [0.0] + [0] * len(LINEAGE_COUNTERS)

    def write(self, rows: pa.RecordBatch, kernel_ms: float) -> None:
        self.rows.append(rows)
        self.nbytes += rows.nbytes
        if self.nbytes >= _ROW_GROUP_BYTES:
            self._flush()
        self.sums = [x + y for x, y in zip(self.sums, [kernel_ms, *_counters(rows)])]

    def _flush(self) -> None:
        self.writer.write_table(pa.Table.from_batches(self.rows))
        self.rows, self.nbytes = [], 0

    def close(self) -> pa.RecordBatch:
        if self.rows:
            self._flush()
        self.writer.close()
        kernel_ms, *counters = self.sums
        row = {"warc_day": self.day, "path": self.path, "kernel_ms": kernel_ms}
        row.update(zip(LINEAGE_COUNTERS, counters))
        return pa.RecordBatch.from_pylist([row], schema=_STAGED_ARROW)


def _counters(rows: pa.RecordBatch) -> list[int]:
    """The LINEAGE_COUNTERS of ``rows``: the sums
    ``X.lineage_view`` takes over the same rows."""
    status = rows.column("status")
    sums = {
        "n_docs": rows.num_rows,
        **{
            f"n_{s}": pc.sum(pc.equal(status, s)).as_py()
            for s in (STATUS_OK, STATUS_REJECTED, STATUS_ERROR, STATUS_EMPTY)
        },
        "n_pages": pc.sum(rows.column("total_pages")).as_py(),
        **{
            c: pc.sum(rows.column(c)).as_py()
            for c in ("n_blocks_kept", "n_blocks_dropped", "n_words", "n_chars")
        },
    }
    return [sums[c] for c in LINEAGE_COUNTERS]


def _publish(fs, stage: str, root: str, paths: list[str]) -> None:
    """Move the staged files ``paths`` (relative to ``stage``) to the
    same place under ``root``, first emptying each directory they go
    to: dynamic partition overwrite, exactly the produced partitions."""
    for d in sorted({posixpath.dirname(p) for p in paths}):
        fs.delete_dir_contents(f"{root}/{d}", missing_dir_ok=True)
        fs.create_dir(f"{root}/{d}")
    for p in paths:
        fs.move(f"{stage}/{p}", f"{root}/{p}")


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
