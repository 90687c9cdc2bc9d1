"""Incremental extraction over a landing directory (Structured Streaming).

Pattern: parquet file-source stream, or a path-only stream of WARC
archives parsed by the batch reader's own parse -> the SAME fused
extraction kernel (mapInArrow works unchanged on streaming DataFrames —
it is stateless) -> ``foreachBatch`` sink that calls the batch
commit's own writer, ``plans.commit.write_frame``: one stage writes the
epoch's pages by day with pyarrow into a staging directory (each
archive of a WARC epoch parsed once), and the file feed's kernel tasks
read them back and write the output themselves, url-sorted, under
(epoch_id, warc_day), published by the driver with DYNAMIC partition
overwrite semantics — one file per day directory when the epoch holds
at least n days, at most max(days, n) per epoch (n = the cluster's
default parallelism).

Exactly-once story: the streaming checkpoint records which input files
each epoch consumed, and the sink keys its output on the epoch —
a replayed epoch OVERWRITES exactly its own ``epoch_id=N/warc_day=D``
partitions (same deterministic rows), never
appending duplicates and never touching other epochs' partitions. The
combination (checkpointed source offsets + idempotent epoch-keyed
overwrite) is the standard Structured Streaming exactly-once recipe;
same mechanism as the batch commit protocol in ``plans/commit.py``.

``trigger(availableNow=True)`` drains everything that has landed and
stops — the cron-able "catch up the table" mode the reference's
request/response model never had.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..config import ExtractConfig
from ..plans import commit as C
from ..schema import PAGES_SCHEMA


def hidden_rel_path(rel: str) -> bool:
    """True when any SEGMENT of the relative path is hidden/marker
    (leading '_' or '.'): crashed-write leftovers like
    _temporary/.../part-*.parquet carry plain FILE names under a
    hidden DIRECTORY, so a file-name-only check misses them."""
    return any(s.startswith(("_", ".")) for s in rel.split("/"))


def _first_data_file(spark: SparkSession, root: str) -> Optional[str]:
    """First non-hidden data file under ``root`` via the Hadoop FS
    remote iterator — an EARLY-STOP paged listing (first page only),
    not a full-tree enumeration, so probing a large object-store
    landing dir costs one LIST page + one footer read, not a second
    full listing on top of the stream's own. Hidden/marker path
    SEGMENTS (_temporary leftovers etc.) are skipped
    (:func:`hidden_rel_path`). None = nothing landed yet (a missing or
    empty root is NOT an error here; real FS errors — auth, network —
    propagate)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return None
    base = fs.getFileStatus(path).getPath().toUri().getPath()
    it = fs.listFiles(path, True)
    while it.hasNext():
        p = it.next().getPath()
        rel = p.toUri().getPath()[len(base):].lstrip("/")
        if hidden_rel_path(rel):
            continue
        return p.toString()
    return None


def stream_pages(
    spark: SparkSession,
    landing_path: str,
    max_files_per_trigger: Optional[int] = None,
    schema: Optional[StructType] = None,
) -> DataFrame:
    """File-source stream over the landing table. The schema is PROBED
    from the first landed file's footer rather than pinned to the
    canonical PAGES_SCHEMA: the batch path reads ALL columns, and the
    OPTIONAL per-row columns extract() honors — ``content_type`` (the
    declared-type gate) and ``pages``/``page_start``/``page_end``
    (per-row config) — must survive the streaming path identically, or
    batch and streaming silently diverge on the same staged data (gate
    on in one, off in the other). The landing table is expected
    schema-uniform (the commit protocol writes uniform files).

    Pass ``schema`` explicitly to skip the probe — REQUIRED for an
    always-on consumer started BEFORE anything lands: a stream's
    schema is fixed at start, so the empty-dir fallback (canonical
    PAGES_SCHEMA, warned loudly) would drop later-landing optional
    columns for the query's whole lifetime. Probe errors other than
    missing/empty landing (auth, network, corrupt footer) PROPAGATE —
    a silent fallback here would reinstate the gate-off divergence and
    the checkpoint would make the ungated epochs permanent."""
    if schema is None:
        probe = _first_data_file(spark, landing_path)
        if probe is not None:
            schema = spark.read.parquet(probe).schema
        else:
            import warnings

            warnings.warn(
                f"stream_pages: nothing landed under {landing_path!r} "
                "yet — falling back to the canonical PAGES_SCHEMA for "
                "the stream's whole lifetime. Optional per-row columns "
                "(content_type, pages, page_start, page_end) in files "
                "landing later will be DROPPED and the Content-Type "
                "gate stays off until the query restarts; pass "
                "schema= explicitly for an always-on consumer.",
                stacklevel=2,
            )
            schema = PAGES_SCHEMA
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("recursiveFileLookup", "true")  # warc_day=... subdirs
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(landing_path)


def stream_warc(
    spark: SparkSession,
    landing_path: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Stream ``.warc.gz`` archives as they land (crawler hand-off) into
    the canonical pages shape through the batch reader's own stateless
    path-only parse (``sources.warc.archive_pages``), so the same
    exactly-once epoch story applies unchanged. ``maxFilesPerTrigger``
    here bounds ARCHIVES per epoch (each ~1 GB on a real crawl — the
    natural rate-limit unit)."""
    from ..sources import warc as Wsrc

    # a file-source stream needs binaryFile's fixed schema up front
    reader = spark.readStream.schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return Wsrc.archive_pages(reader, landing_path)


def epoch_sink(out_root: str, cfg: ExtractConfig = ExtractConfig()):
    """foreachBatch sink of both sources: ``plans.commit.write_frame``
    of the epoch, keyed by (epoch_id, warc_day) — replaying an epoch
    rewrites exactly its own partitions (idempotent) instead of
    appending duplicate rows, with the same layout."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        C.write_frame(batch_df, f"{out_root}/extracted", cfg, epoch_id)

    return sink


def start_incremental_extract(
    spark: SparkSession,
    landing_path: str,
    out_root: str,
    checkpoint: str,
    cfg: ExtractConfig = ExtractConfig(),
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
    source_format: str = "parquet",
):
    """Start (and return) the streaming query. With available_now=True it
    drains the backlog and finishes (await with .awaitTermination()).
    ``max_files_per_trigger`` bounds each micro-batch's input (backlog
    catch-up in rate-limited epochs instead of one giant batch —
    availableNow honors it, draining in multiple epochs)."""
    if source_format == "warc":
        pages = stream_warc(spark, landing_path, max_files_per_trigger)
    else:
        pages = stream_pages(spark, landing_path, max_files_per_trigger)
    writer = pages.writeStream.foreachBatch(epoch_sink(out_root, cfg)).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
