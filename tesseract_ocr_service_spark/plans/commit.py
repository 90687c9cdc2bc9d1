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
   ``warc_day=`` directories of the pages table, listed on the driver
   as a ``pyarrow.dataset`` with the window as a partition filter
   (:func:`day_files`: no job runs, no footer is read; a day directory
   whose files hold no rows is pending too, and gets a zero marker). A
   WARC source, whose warc_day is a parsed column, first stages its
   window's pages (:func:`_stage_pages`): ONE ``mapInArrow`` over
   ``X.kernel_input`` whose tasks write each day's rows with pyarrow
   under the run's staging directory, ``_pages/warc_day=D/``, and
   return one ``(day, path)`` row per file; the driver ``collect``s
   them into the same ``{day: files}`` plan, so every archive is parsed
   once and a failed attempt's files are never read. A streaming epoch
   (``streaming.ingest.epoch_sink``, :func:`write_frame`) stages its
   pages the same way.
2. Process ONLY pending days, in ONE Spark stage whose tasks run the
   kernel and write their rows themselves: the file feed
   (:func:`write_day_files`). The driver places the pending days'
   files into tasks (day i of D to task i·n // D; with fewer days than
   tasks a day's sorted files are split over its tasks), and
   ``spark.range(0, n, 1, n).mapInArrow`` runs one task per place,
   which reads its files with the executor's pyarrow, sorted by (day,
   url) — no JVM scan, no exchange, no schema job; a day share over
   ``_SORT_BYTES`` is sorted in runs spilled to local disk and merged,
   so a task's memory does not grow with its days. A row is written
   under the day step 1 enumerated it by: its input directory, or a
   frame's ``warc_day`` column (:func:`frame_day`), so a session time
   zone other than the pages' never moves a row into another day's
   directory. Each task writes with pyarrow, one
   url-sorted file per day, under ``extracted/_staging-<uuid>/`` (a
   ``_`` name, which readers skip), and returns one row per file: day,
   path, kernel wall and lineage counters. The committed rows never
   cross the JVM. A task first drops its worker's zip importers
   (``worker.forget_zip_finders``), so the next task the reused worker
   runs does not re-read every zip on its path. Two commits of one
   input write byte-identical files (in one session, and in two
   sessions with one pyarrow version and one ``maxRecordsPerBatch``,
   whose cuts reach a day file's bytes once one of its columns
   outgrows a parquet data page; across pyarrow versions it is
   unmeasured). The driver ``collect``s the rows — a result
   stage returns each partition's rows once, from
   the attempt that succeeded, so their sums count each written row
   once however often a task was retried, and the files of a failed
   attempt are never published — then replaces each day directory the
   write produced with its staged files by moves (**dynamic partition
   overwrite**: exactly the produced partitions, never a committed
   one) and removes the staging directory (:func:`staging`). A
   committed day directory is written once, at its final layout, so no
   compaction pass follows. A driver that dies before the moves leaves
   the staging directory behind, unread, and its days pending; one
   that dies between the moves leaves its days pending too, some
   emptied and some holding their new files, and a resume rewrites
   them all.
3. Append per-day counter rows to ``lineage/`` LAST, as one parquet
   file pyarrow builds from step 2's summed rows (nothing is re-read)
   and writes on the driver (no job) under a ``_`` name readers skip,
   then publishes by one move to ``part-<uuid>.parquet``. A crash before
   the marker leaves the day un-committed -> step 1 reprocesses it ->
   overwrite makes the retry idempotent. Committed partitions are never
   rewritten, so re-runs are byte-stable.

Steps 1 and 3 open ``out_root/lineage`` and the pages table where Spark
resolves them (``sources.warc.spark_uri``; no scheme: ``fs.defaultFS``)
with the driver's pyarrow, as point reads do, and step 2's tasks open
the pages table and ``out_root/extracted`` there with the executors'
pyarrow, as the WARC reader opens archives. pyarrow never sees
Hadoop's ``fs.*``: ``hdfs://`` needs libhdfs on the driver and the
executors, ``s3a://`` the AWS environment or profile there; a scheme
pyarrow cannot open fails step 1.

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
import os
import posixpath
import tempfile
import time
import uuid
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from ..config import STATUS_EMPTY, STATUS_ERROR, STATUS_OK, STATUS_REJECTED, ExtractConfig
from ..functions.kernel import extract_batch
from ..operators import extract as X
from ..schema import EXTRACTED_ARROW, LINEAGE_ARROW, LINEAGE_COUNTERS
from ..sources import warc as Wsrc
from ..worker import forget_zip_finders

#: the day column of the kernel input the file feed gives the write
#: tasks (the planned day in :func:`_day_pieces`; :func:`frame_day` in
#: :func:`_stage_pages`): the tasks name day directories with it, and it
#: is not written
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


#: the pages table's hive partitioning as :func:`day_files` lists it:
#: ``warc_day`` the directory's name, a string
_DAY_SCHEMA = pa.schema([("warc_day", pa.string())])


def day_files(uri: str, ts_from=None, ts_to=None) -> dict[str, list[str]]:
    """The pages table's data files by ``warc_day`` directory, days and
    files sorted, kept inside [ts_from, ts_to] by date as
    ``X.read_pages`` keeps them (a timestamp bound compares by its
    date). ``uri`` is the table's path as Spark resolves it
    (``sources.warc.spark_uri``); the files are paths inside its
    ``sources.warc.arrow_fs`` filesystem. One ``pyarrow.dataset``
    listing on the driver, no Spark job: hive partitioning with
    ``warc_day`` a string, the window a partition filter (files of
    other days are never opened, not even their footers), entries
    starting with ``_`` or ``.`` skipped as Spark skips them. A day
    directory whose files hold no rows is listed too. A scheme pyarrow
    cannot open raises ``ValueError`` here, on the driver, before any
    task would fail on it."""
    try:
        fs, root = Wsrc.arrow_fs(uri)
    except pa.lib.ArrowInvalid as e:
        raise ValueError(
            f"cannot list the pages table {uri!r} (the job's --pages): the "
            "driver and the executors open it with pyarrow, whose "
            f"FileSystem.from_uri does not recognize scheme "
            f"{urlparse(uri).scheme.lower()!r} (the schemes it opens "
            "depend on the pyarrow build)"
        ) from e
    table = ds.dataset(
        root, schema=_DAY_SCHEMA, filesystem=fs, format="parquet",
        partitioning=ds.partitioning(_DAY_SCHEMA, flavor="hive"),
    )
    day = ds.field("warc_day")
    keep = day.is_valid()
    lo, hi = _bound_day(ts_from), _bound_day(ts_to)
    if lo is not None:
        keep &= day >= lo
    if hi is not None:
        keep &= day <= hi
    files: dict[str, list[str]] = {}
    for frag in table.get_fragments(filter=keep):
        d = ds.get_partition_keys(frag.partition_expression).get("warc_day")
        if d is not None:  # a file outside any warc_day directory
            files.setdefault(d, []).append(frag.path)
    return {d: sorted(files[d]) for d in sorted(files)}


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
    rows but cannot prune archive files: the run parses every archive
    once and stages the window's pages by day (:func:`_stage_pages`),
    then commits the pending days from the staged files as a parquet
    run commits them from the pages table.
    """
    t0 = time.perf_counter()
    # one bound rule for both sources: a bound keeps its date
    lo, hi = _bound_day(ts_from), _bound_day(ts_to)
    out = f"{out_root}/extracted"
    with ExitStack() as stack:
        stage = None
        if source_format == "warc":
            pages = Wsrc.read_warc(spark, pages_path)
            if lo is not None:
                pages = pages.where(F.col("warc_day") >= F.lit(lo))
            if hi is not None:
                pages = pages.where(F.col("warc_day") <= F.lit(hi))
            stage = stack.enter_context(staging(spark, out))
            uri, files = stage, _stage_pages(pages, stage)
        else:
            uri = Wsrc.spark_uri(spark, pages_path)
            files = day_files(uri, lo, hi)

        # ---- step 1: partition-level anti-join against the commit log
        done = committed_days(spark, out_root)
        pending = [d for d in files if d not in done]
        skipped = [d for d in files if d in done]
        if not pending:
            wall_ms = int((time.perf_counter() - t0) * 1000)
            return RunSummary(pending, skipped, 0, wall_ms)

        # ---- step 2: process, stage and publish the pending day files
        stage = stage or stack.enter_context(staging(spark, out))
        todo = {d: files[d] for d in pending}
        sums = write_day_files(spark, uri, todo, stage, cfg, salt_partitions, languages)

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


def frame_day(pages: DataFrame) -> Column:
    """The day a frame's row is written under, as a 'yyyy-MM-dd' string:
    its ``warc_day`` column where it has one (a WARC frame's parsed
    day; a Spark read of the pages table's directory day), else
    ``X.warc_day()`` of its ``warc_ts`` (a streamed parquet epoch,
    whose recursive file listing has no partition column). A row
    without a day (a NULL ``warc_ts``) goes under
    ``sources.warc.UNDATED_DAY``, as an undated WARC record does."""
    has_day = "warc_day" in pages.columns
    day = F.col("warc_day").cast("string") if has_day else X.warc_day()
    return F.coalesce(day, F.lit(Wsrc.UNDATED_DAY))


def write_frame(
    pages: DataFrame,
    path: str,
    cfg: ExtractConfig = ExtractConfig(),
    epoch_id: int | None = None,
) -> dict[str, list]:
    """The extracted rows of a frame's pages (a streaming epoch,
    ``streaming.ingest.epoch_sink``) written under ``path``: its pages
    staged by day (:func:`_stage_pages`), then committed from the
    staged files by :func:`write_day_files`, in one :func:`staging`
    directory. Returns what :func:`write_day_files` returns."""
    spark = pages.sparkSession
    with staging(spark, path) as stage:
        files = _stage_pages(pages, stage)
        return write_day_files(spark, stage, files, stage, cfg, epoch_id=epoch_id)


@contextmanager
def staging(spark: SparkSession, path: str):
    """A new staging directory ``path/_staging-<uuid>/`` (a ``_`` name,
    which readers skip), as its URI where Spark resolves it; removed
    with all it holds when the block ends. It holds a commit's staged
    pages (``_pages/``) and staged output until the moves publish it."""
    uri = f"{Wsrc.spark_uri(spark, path)}/_staging-{uuid.uuid4()}"
    fs, root = Wsrc.arrow_fs(uri)
    fs.create_dir(root)
    try:
        yield uri
    finally:
        fs.delete_dir(root)


def _stage_pages(pages: DataFrame, stage: str) -> dict[str, list[str]]:
    """Write the kernel input of ``pages`` under ``stage/_pages/``, by
    :func:`frame_day`, in ONE ``mapInArrow`` stage (:func:`_page_task`);
    returns ``{day: sorted paths}`` of the files the tasks wrote, as
    :func:`day_files` returns a pages table's. The plan is built from
    the rows the driver ``collect``s, never from a listing: they come
    from the attempt of each task that succeeded, so the files a failed
    attempt left are never read."""
    todo = X.kernel_input(pages, None, frame_day(pages).alias(_DAY))
    write = functools.partial(_page_task, stage_uri=stage)
    files: dict[str, list[str]] = {}
    for r in todo.mapInArrow(write, "warc_day string, path string").collect():
        files.setdefault(r["warc_day"], []).append(r["path"])
    return {d: sorted(files[d]) for d in sorted(files)}


def _page_task(batches, stage_uri: str):
    """``mapInArrow`` body of :func:`_stage_pages`: the task's rows of
    each day, in input order and without ``_DAY``, written by pyarrow
    to one file under ``stage_uri/_pages/warc_day=D/``, named by the
    task's partition first, so a day's sorted paths keep the input
    order. Rows are buffered across days and written out, one row
    group per day, each time ``_ROW_GROUP_BYTES`` have gathered; each
    file's ``(day, path)`` row is returned once every file is closed."""
    forget_zip_finders()
    fs, stage = Wsrc.arrow_fs(stage_uri)
    part = TaskContext.get().partitionId()
    writers: dict[str, pq.ParquetWriter] = {}
    paths: dict[str, str] = {}
    rows: dict[str, list[pa.RecordBatch]] = {}
    size = 0

    def flush():
        for day, buf in rows.items():
            if day not in writers:
                d = f"{stage}/_pages/warc_day={day}"
                fs.create_dir(d)
                paths[day] = f"{d}/part-{part:05d}-{uuid.uuid4()}.parquet"
                writers[day] = pq.ParquetWriter(paths[day], buf[0].schema, filesystem=fs)
            writers[day].write_table(pa.Table.from_batches(buf))
        rows.clear()

    for batch in batches:
        days = batch.column(_DAY)
        page = batch.drop_columns([_DAY])
        for day in pc.unique(days).to_pylist():
            rows.setdefault(day, []).append(page.filter(pc.equal(days, day)))
        size += batch.nbytes
        if size >= _ROW_GROUP_BYTES:
            flush()
            size = 0
    flush()
    for w in writers.values():
        w.close()
    if paths:
        yield pa.RecordBatch.from_pydict(
            {"warc_day": list(paths), "path": list(paths.values())}
        )


def write_day_files(
    spark: SparkSession,
    uri: str,
    files: dict[str, list[str]],
    stage: str,
    cfg: ExtractConfig = ExtractConfig(),
    n: int = 0,
    languages=None,
    epoch_id: int | None = None,
) -> dict[str, list]:
    """The one write of extracted rows, the file feed: ONE Spark stage.
    ``files`` are :func:`day_files` of the pages table at ``uri`` (or
    the plan :func:`_stage_pages` returns); their rows are extracted,
    staged under ``stage`` (a :func:`staging` directory) and published
    beside it, in ``[epoch_id=N/]warc_day=D/``. Returns ``{warc_day:
    [kernel_ms, *LINEAGE_COUNTERS]}`` of the rows written.

    The driver places the sorted days into ``n`` tasks (0: the
    cluster's default parallelism) — day i of D goes to task i·n // D;
    when D < n its sorted files are split into contiguous shares over
    its k tasks (:func:`_file_plan`) — and runs
    ``spark.range(0, n, 1, n).mapInArrow(...)``: each task reads its
    own files with the executor's pyarrow (:func:`_file_task`), so no
    JVM scan, exchange or schema job runs, and every row is written
    under the day it was planned under, by :func:`_write_task`. The
    driver collects the rows, moves the files out of ``stage``,
    replacing exactly the directories they go to (:func:`_publish`),
    and sums the rows per day. Executors open ``uri`` and ``stage``
    with their own pyarrow (``sources.warc.arrow_fs``)."""
    n = n if n > 0 else spark.sparkContext.defaultParallelism
    prefix = "" if epoch_id is None else f"epoch_id={int(epoch_id)}/"
    task = functools.partial(
        _file_task,
        plan=_file_plan(files, n),
        uri=uri,
        languages=None if not languages else list(languages),
        rows=int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        write=functools.partial(_write_task, cfg=cfg, stage_uri=stage, prefix=prefix),
    )
    staged = spark.range(0, n, 1, n).mapInArrow(task, STAGED_SCHEMA).collect()
    fs, root = Wsrc.arrow_fs(stage)
    _publish(fs, root, posixpath.dirname(root), [f["path"] for f in staged])
    sums: dict[str, list] = {}
    for f in staged:
        row = [f["kernel_ms"], *(f[c] for c in LINEAGE_COUNTERS)]
        old = sums.get(f["warc_day"])
        sums[f["warc_day"]] = row if old is None else [x + y for x, y in zip(old, row)]
    return sums


def _file_plan(files: dict[str, list[str]], n: int) -> list[list[tuple]]:
    """Each of the ``n`` tasks' ``(day, files)`` pairs, in day order:
    day i of the D sorted days goes to the tasks of :func:`_day_span`,
    its sorted files cut into one contiguous share per task (a task
    whose share is empty gets none of the day)."""
    plan: list[list[tuple]] = [[] for _ in range(n)]
    for i, day in enumerate(sorted(files)):
        paths = files[day]
        lo, k = _day_span(i, len(files), n)
        for j in range(k):
            share = paths[j * len(paths) // k : (j + 1) * len(paths) // k]
            if share:
                plan[lo + j].append((day, share))
    return plan


def _file_task(ids, plan, uri: str, languages, rows: int, write):
    """``mapInArrow`` body of :func:`write_day_files` over
    ``spark.range(0, n, 1, n)``: the one id a task gets is its index
    into ``plan``. Its days are read url-sorted (:func:`_day_pieces`,
    spilling under a local temporary directory) and cut into batches of
    ``rows`` rows as Spark cuts a sorted partition (:func:`_batches`),
    then handed to ``write``."""
    fs, _ = Wsrc.arrow_fs(uri)
    for batch in ids:
        for task in batch.column("id").to_pylist():
            with tempfile.TemporaryDirectory(prefix="commit-sort-") as spill:
                pieces = itertools.chain.from_iterable(
                    _day_pieces(fs, d, paths, languages, rows, spill)
                    for d, paths in plan[task]
                )
                yield from write(_batches(pieces, rows))


#: what the file feed reads of each pages file: the kernel's input
#: columns, the optional ones where the file has them
_FILE_COLUMNS = (*X.KERNEL_INPUT, *X.KERNEL_OPTIONAL)
_UTC = pa.timestamp("us", "UTC")
_UTC_TS = pa.field("warc_ts", _UTC)

#: the most Arrow bytes of page rows a file-feed task sorts in memory
#: at once: a day share holding more is sorted in runs of about this
#: size, each spilled to a local Arrow IPC file, and the runs merged
#: (:func:`_merge`), as Spark's sort spills, so a task's memory does not
#: grow with its days
_SORT_BYTES = 32 << 20


def _day_pieces(fs, day: str, paths: list[str], languages, rows: int, spill: str):
    """One day's share of the kernel input, read with pyarrow, as a
    stream of url-sorted tables of bounded size with the day as
    ``_DAY``: the rows of :func:`_read_share` in the order a stable sort
    by url of all of them gives (NULL last). A share of at most about
    ``_SORT_BYTES`` is sorted in memory; a larger one is sorted in runs
    of that size, spilled under ``spill`` and merged."""
    buf: list[pa.RecordBatch] = []
    size, runs = 0, []
    for batch in _read_share(fs, paths, languages, rows):
        if size >= _SORT_BYTES:  # a full run, and more rows follow
            runs.append(
                _spill(pa.Table.from_batches(buf).sort_by("url"), spill, rows)
            )
            buf, size = [], 0
        buf.append(batch)
        size += batch.nbytes
    last = pa.Table.from_batches(buf).sort_by("url") if buf else None
    buf = None
    if runs:
        runs.append(_spill(last, spill, rows))
        last = None
        pieces = _merge(runs, rows)
    else:
        pieces = [] if last is None else [last]
    for t in pieces:
        yield t.append_column(_DAY, pa.array([day] * t.num_rows, pa.string()))


def _read_share(fs, paths: list[str], languages, rows: int):
    """The rows of the pages files ``paths``, in order, as record
    batches of ``rows`` rows at most (``rows`` <= 0: 65536), all in one
    schema: of each file the columns of ``_FILE_COLUMNS`` it has, a
    column one file lacks NULL in its rows, types promoted as
    ``pa.unify_schemas`` promotes them, ``warc_ts`` as UTC microseconds
    (Spark's INT96 is a naive instant in UTC; pyarrow's INT64 keeps its
    zone); kept where ``lang`` is in ``languages`` (a NULL lang is
    not). pyarrow decodes a file one row group at a time."""
    metas = [pq.read_metadata(p, filesystem=fs) for p in paths]
    schemas = []
    for m in metas:
        have = m.schema.to_arrow_schema()
        schemas.append(
            pa.schema(
                [_UTC_TS if c == "warc_ts" else have.field(c)
                 for c in _FILE_COLUMNS if c in have.names]
            )
        )
    schema = pa.unify_schemas(schemas, promote_options="permissive") if metas else None
    langs = pa.array(languages, pa.string()) if languages else None
    for p, meta in zip(paths, metas):
        with fs.open_input_file(p) as f:
            pf = pq.ParquetFile(f, metadata=meta, coerce_int96_timestamp_unit="us")
            have = set(pf.schema_arrow.names)
            for b in pf.iter_batches(
                batch_size=rows if rows > 0 else 1 << 16,
                columns=[c for c in _FILE_COLUMNS if c in have],
            ):
                cols = [
                    b.column(c.name).cast(c.type) if c.name in have
                    else pa.nulls(b.num_rows, c.type)
                    for c in schema
                ]
                b = pa.RecordBatch.from_arrays(cols, schema=schema)
                if langs is not None:
                    b = b.filter(pc.is_in(b.column("lang"), value_set=langs))
                if b.num_rows:
                    yield b


def _spill(run: pa.Table, spill: str, rows: int) -> str:
    """Write the sorted run to a new Arrow IPC file under ``spill``, in
    batches of ``rows`` rows; returns its path."""
    path = f"{spill}/run-{uuid.uuid4()}.arrow"
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, run.schema) as w:
        w.write_table(run, max_chunksize=rows if rows > 0 else None)
    return path


def _merge(paths: list[str], rows: int):
    """The rows of the url-sorted runs spilled at ``paths`` as one
    url-sorted stream of tables of ``rows`` rows at most (``rows`` <=
    0: 65536), equal urls in run order (the order a stable sort of the
    runs' concatenation gives): a k-way merge that holds one
    memory-mapped batch of each run. A buffered row may go out once no
    unread row sorts before it: it sorts at or before the least (last
    buffered url, run) among the runs with unread batches, a NULL url
    above every other. Each step sorts the urls of those rows and takes
    the first ``rows``. The files are removed at the end."""
    m = rows if rows > 0 else 1 << 16
    with ExitStack() as maps:
        runs = [pa.ipc.open_file(maps.enter_context(pa.memory_map(p))) for p in paths]
        read = [0] * len(runs)
        bufs = [run.schema.empty_table() for run in runs]
        while True:
            for r, run in enumerate(runs):
                while not bufs[r].num_rows and read[r] < run.num_record_batches:
                    bufs[r] = pa.Table.from_batches([run.get_batch(read[r])])
                    read[r] += 1
            live = [r for r in range(len(runs)) if bufs[r].num_rows]
            if not live:
                break
            ends = [
                (bufs[r].column("url")[-1].as_py(), r)
                for r in live if read[r] < runs[r].num_record_batches
            ]
            bound = min(  # a NULL url sorts after every other
                ends, key=lambda e: (e[0] is None, e[0] or "", e[1]), default=None
            )
            ready = [_upto(bufs[r].column("url"), bound, r) for r in live]
            urls = pa.concat_tables(
                [bufs[r].select(["url"]).slice(0, k) for r, k in zip(live, ready)]
            )
            first = pc.sort_indices(urls, [("url", "ascending")])[:m].to_numpy()
            at, parts = 0, []
            for r, k in zip(live, ready):
                used = int(((first >= at) & (first < at + k)).sum())
                parts.append(bufs[r].slice(0, used))
                bufs[r] = bufs[r].slice(used)
                at += k
            yield pa.concat_tables(parts).sort_by("url")
    for p in paths:
        os.remove(p)


def _upto(urls: pa.ChunkedArray, bound: tuple | None, r: int) -> int:
    """How many of run ``r``'s url-sorted ``urls`` sort at or before
    ``bound`` = (url, run) by (url, run), a NULL url last (``None``: no
    bound, all of them)."""
    if bound is None:
        return len(urls)
    url, last = bound
    inclusive = r <= last
    if url is None:
        return len(urls) if inclusive else len(urls) - urls.null_count
    cmp = pc.less_equal if inclusive else pc.less
    return pc.sum(cmp(urls, url)).as_py() or 0


def _batches(tables, rows: int):
    """The rows of ``tables``, in order, as record batches of ``rows``
    rows (the last one shorter; ``rows`` <= 0: no limit), cut across
    table bounds as Spark's ``maxRecordsPerBatch`` cuts a partition
    sorted by (day, url), so the kernel sees the batches it would see
    behind a JVM scan (a day file's bytes depend on where its rows'
    batches are cut). Each batch is copied out on its own: no table is
    combined whole, and fewer than ``rows`` rows are carried."""
    carry = None
    for t in tables:
        if carry is not None:
            t = pa.concat_tables([carry, t], promote_options="permissive")
        cut = t.num_rows - t.num_rows % rows if rows > 0 else 0
        for at in range(0, cut, max(rows, 1)):
            yield from t.slice(at, rows).combine_chunks().to_batches()
        carry = t.slice(cut)
    if carry is not None and carry.num_rows:
        yield from carry.combine_chunks().to_batches()


def _write_task(batches, cfg: ExtractConfig, stage_uri: str, prefix: str):
    """The write of the file feed (the ``write`` :func:`write_day_files`
    hands :func:`_file_task`), run in each task of the one write stage:
    extract each input batch, and write its rows to the current day's
    file under ``stage_uri/<prefix>warc_day=D/``. The input is sorted by
    day, so one file is open at a time and each day of the task is one
    file; when a day ends its file is closed and its ``STAGED_SCHEMA``
    row yielded. A batch's kernel wall is split over its days by rows."""
    forget_zip_finders()
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


def _day_span(i: int, d: int, n: int) -> tuple[int, int]:
    """(first task, task count) of day ``i`` of ``d`` sorted days over
    ``n`` tasks: day i goes to task i·n // D; when D >= n that is its
    one task, when D < n the day spans the k tasks from there to
    (i+1)·n // D - 1."""
    lo, hi = i * n // d, (i + 1) * n // d
    return lo, max(hi - lo, 1)


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(f"{out_root}/extracted")


def read_lineage(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(f"{out_root}/lineage")
