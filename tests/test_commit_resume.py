"""Checkpointed commit / resume protocol tests (north_rule: idempotent
per-partition commit, lineage, resumability)."""

from __future__ import annotations

import datetime
import glob
import json
import os
import subprocess
import sys
from collections import Counter
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F

from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C
from tesseract_ocr_service_spark.sources import gen

N_DOCS = 300
SEED = 11
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def paths(spark, tmp_path):
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    gen.write_pages(spark, pages, N_DOCS, seed=SEED, partitions=4)
    return pages, out


def _dir_day(name):
    """The day of a ``warc_day=...`` directory name (hive-unescaped)."""
    key, eq, value = name.partition("=")
    return unquote(value) if key == "warc_day" and eq else None


def _days(spark, out):
    """url -> the warc_day directory its committed row lies in."""
    return {
        r["url"]: r["day"]
        for r in C.read_extracted(spark, out)
        .select("url", F.col("warc_day").cast("string").alias("day"))
        .collect()
    }


def _lookup(spark, out, url):
    return X.document_json(spark, f"{out}/extracted", url).collect()


def _texts(spark, out):
    return {
        r["url"]: r["canonical_text"]
        for r in C.read_extracted(spark, out)
        .select("url", "canonical_text")
        .collect()
    }


def test_full_run_then_noop_resume(spark, paths):
    pages, out = paths
    s1 = C.run_checkpointed(spark, pages, out)
    assert s1.n_docs == N_DOCS
    assert len(s1.pending_days) == 30 and not s1.skipped_days
    base = _texts(spark, out)
    assert len(base) == N_DOCS

    # second run: everything committed -> pure metadata no-op
    s2 = C.run_checkpointed(spark, pages, out)
    assert s2.n_docs == 0
    assert not s2.pending_days and len(s2.skipped_days) == 30
    assert _texts(spark, out) == base  # bytes untouched

    lineage = C.read_lineage(spark, out)
    assert lineage.count() == 30  # no duplicate markers
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == N_DOCS
    assert lineage.agg(F.max("attempt")).collect()[0][0] == 1


def test_window_runs_compose(spark, paths):
    pages, out = paths
    s1 = C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-10")
    s2 = C.run_checkpointed(spark, pages, out)  # rest of the month
    assert set(s2.skipped_days) == set(s1.pending_days)
    assert s1.n_docs + s2.n_docs == N_DOCS
    assert len(_texts(spark, out)) == N_DOCS


def test_pending_days_come_from_the_listing_without_a_job(spark, paths):
    """The parquet source's input days are the warc_day directories of
    its pyarrow listing (``C.day_files``), windowed as read_pages
    windows the rows: the same days a distinct() over the rows finds,
    each with the data files Spark lists under it, and no Spark job
    starts."""
    from tesseract_ocr_service_spark.sources import warc as W

    pages, _ = paths
    uri = W.spark_uri(spark, pages)
    tracker = spark.sparkContext.statusTracker()
    windows = [
        (None, None),
        ("2026-01-03", "2026-01-07"),
        ("2026-01-03 18:30:00", datetime.datetime(2026, 1, 7, 6, 15)),
        (None, "2026-01-02 23:59:59"),
    ]
    for ts_from, ts_to in windows:
        df = X.read_pages(spark, pages, ts_from, ts_to)
        last = max(tracker.getJobIdsForGroup(), default=-1)
        expect = sorted(
            str(r["warc_day"]) for r in df.select("warc_day").distinct().collect()
        )
        last_job = max(tracker.getJobIdsForGroup())
        assert last_job > last  # the tracker sees the distinct()'s jobs
        got = C.day_files(uri, ts_from, ts_to)
        assert max(tracker.getJobIdsForGroup()) == last_job
        assert list(got) == expect, (ts_from, ts_to)
        assert expect
        listed = {
            (_dir_day(os.path.basename(os.path.dirname(f))), os.path.basename(f))
            for f in df.inputFiles()
        }
        assert {
            (d, os.path.basename(f)) for d, files in got.items() for f in files
        } == {(d, f) for d, f in listed if d in expect}
        assert all(files == sorted(files) for files in got.values())


def test_crash_before_marker_then_resume_is_idempotent(spark, paths):
    pages, out = paths
    # commit a prefix window normally
    C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-05")
    committed_before = C.committed_days(spark, out)

    # crash AFTER data write, BEFORE the lineage marker
    with pytest.raises(RuntimeError, match="injected failure"):
        C.run_checkpointed(spark, pages, out, _fail_before_commit=True)

    # the crashed days are NOT committed...
    assert C.committed_days(spark, out) == committed_before
    # ...yet a point read already finds their rows
    crashed = [u for u, d in _days(spark, out).items() if d not in committed_before]
    assert [r["doc_id"] for r in _lookup(spark, out, crashed[0])] == [crashed[0]]

    # ...and the retry reprocesses exactly them, idempotently
    s = C.run_checkpointed(spark, pages, out)
    assert set(s.skipped_days) == committed_before
    assert len(s.pending_days) == 30 - len(committed_before)

    # final state: complete, correct, single lineage row per day
    texts = _texts(spark, out)
    assert len(texts) == N_DOCS
    lineage = C.read_lineage(spark, out).collect()
    assert len(lineage) == 30
    assert all(r["attempt"] == 1 for r in lineage)

    # every sampled url of every committed day is found exactly once
    days = _days(spark, out)
    for url in sorted(days)[:: len(days) // 8]:
        assert [r["doc_id"] for r in _lookup(spark, out, url)] == [url]

    # a full reference run in a fresh dir produces identical bytes
    out2 = out + "_ref"
    C.run_checkpointed(spark, pages, out2)
    assert _texts(spark, out2) == texts


def test_lineage_per_day_kernel_ms(spark, paths):
    """Lineage carries a PER-DAY kernel wall (accumulator-attributed),
    not just the whole-run wall copied onto every row: days with docs
    get kernel_ms > 0, and the sum is bounded by run wall * cores."""
    pages, out = paths
    s = C.run_checkpointed(spark, pages, out)
    lineage = C.read_lineage(spark, out)
    rows = lineage.select("warc_day", "n_docs", "kernel_ms", "wall_ms").collect()
    assert all(r["kernel_ms"] > 0 for r in rows if r["n_docs"] > 0)
    # per-day values differ (not one broadcast constant)
    assert len({r["kernel_ms"] for r in rows}) > 1
    assert all(r["wall_ms"] == s.wall_ms for r in rows)


def _lineage_files(out):
    return glob.glob(os.path.join(out, "lineage", "*.parquet"))


def test_lineage_counters_consistent(spark, paths):
    pages, out = paths
    C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-10")
    files_before = len(_lineage_files(out))
    C.run_checkpointed(spark, pages, out)
    # one run appends its whole marker as exactly one lineage file
    assert len(_lineage_files(out)) == files_before + 1

    lineage = C.read_lineage(spark, out)
    ext = C.read_extracted(spark, out)
    agg = ext.agg(
        F.count("*").alias("docs"),
        F.sum("n_words").alias("words"),
        F.count(F.when(F.col("status") == "ok", 1)).alias("ok"),
    ).collect()[0]
    lin = lineage.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_ok").alias("ok"),
    ).collect()[0]
    assert (agg["docs"], agg["words"], agg["ok"]) == (
        lin["docs"],
        lin["words"],
        lin["ok"],
    )

    # every counter of every day equals lineage_view over the output
    view = {r["warc_day"]: r.asDict() for r in X.lineage_view(ext).collect()}
    marker = {r["warc_day"]: r.asDict() for r in lineage.collect()}
    assert set(marker) == set(view)
    for day, counters in view.items():
        assert {k: marker[day][k] for k in counters} == counters, day


def test_lineage_file_physical_schema(spark, paths):
    """The marker file pins LINEAGE_SCHEMA physically: column names in
    order, int64 counters, int32 wall_ms/attempt, every column
    required — appends by any writer must keep these types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tesseract_ocr_service_spark.schema import LINEAGE_SCHEMA

    pages, out = paths
    C.run_checkpointed(spark, pages, out)
    (path,) = _lineage_files(out)
    got = pq.read_schema(path)
    assert got.names == LINEAGE_SCHEMA.fieldNames()
    int32 = {"wall_ms", "attempt"}
    for field in got:
        if field.name == "warc_day":
            expected = pa.string()
        elif field.name in int32:
            expected = pa.int32()
        else:
            expected = pa.int64()
        assert field.type == expected, field
        assert not field.nullable, field


def test_all_filtered_run_commits_zero_markers(spark, paths):
    """A run whose language filter drops every row still commits one
    zero-count marker per day, so the next run skips them all."""
    pages, out = paths
    s1 = C.run_checkpointed(spark, pages, out, languages=("zz",))
    assert s1.n_docs == 0
    assert len(s1.pending_days) == 30 and not s1.skipped_days

    rows = C.read_lineage(spark, out).collect()
    assert sorted(r["warc_day"] for r in rows) == s1.pending_days
    counters = [c for c in rows[0].asDict() if c.startswith("n_")]
    assert all(r[c] == 0 for r in rows for c in counters)
    assert all(r["kernel_ms"] == 0 and r["attempt"] == 1 for r in rows)

    s2 = C.run_checkpointed(spark, pages, out, languages=("zz",))
    assert not s2.pending_days and s2.skipped_days == s1.pending_days


def test_lookup_finds_a_day_a_later_run_commits(spark, paths):
    """A url only the second run committed is found by a point read."""
    pages, out = paths
    C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-10")
    s2 = C.run_checkpointed(spark, pages, out)
    late = [u for u, d in _days(spark, out).items() if d == s2.pending_days[-1]]
    assert late
    assert [r["doc_id"] for r in _lookup(spark, out, late[0])] == [late[0]]


def test_point_read_opens_only_the_urls_day(spark, paths):
    """The files a point read opens all lie in the url's day directory
    (the read builds a local frame, so ``inputFiles()`` is empty: the
    file-resolving helper is what is checked)."""
    pages, out = paths
    C.run_checkpointed(spark, pages, out)
    days = _days(spark, out)
    table = X.spans_table(f"{out}/extracted")
    for url in sorted(days)[:: len(days) // 5]:
        files = X.url_files(table, url)
        assert files and all(f"/warc_day={days[url]}/" in f for f in files), url
        assert len(_lookup(spark, out, url)) == 1


def test_point_read_runs_no_job(spark, paths):
    """A point read (``document_json(...).collect()``) starts no Spark
    job: the rows are read on the driver and the to_json projection is
    folded into the local frame."""
    pages, out = paths
    C.run_checkpointed(spark, pages, out)
    url = sorted(_days(spark, out))[N_DOCS // 2]
    sc = spark.sparkContext
    sc.setJobGroup("point-read", "point read")
    try:
        rows = _lookup(spark, out, url)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["doc_id"] for r in rows] == [url]
    assert sc.statusTracker().getJobIdsForGroup("point-read") == []


def test_lookup_matches_a_spark_read_on_every_table_kind(spark, paths, tmp_path):
    """On a committed root, a streaming root and a plain ``spans_view``
    table, a point read returns the rows a Spark read of the table
    filtered on url returns, data columns (``warc_ts`` included) equal,
    whatever the session time zone; a url in no file gives no row."""
    from tesseract_ocr_service_spark.streaming import ingest

    pages, out = paths
    C.run_checkpointed(spark, pages, out)
    committed = f"{out}/extracted"
    stream_out = str(tmp_path / "stream")
    q = ingest.start_incremental_extract(
        spark, pages, stream_out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    plain = str(tmp_path / "spans")
    X.spans_view(spark.read.parquet(committed)).write.parquet(plain)
    urls = sorted(_days(spark, out))[:: N_DOCS // 12]

    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            for root in (committed, f"{stream_out}/extracted", plain):
                table = spark.read.parquet(root)
                cols = [c for c in table.columns if c not in ("warc_day", "epoch_id")]
                expect = {}
                for r in table.where(F.col("url").isin(urls)).select(*cols).collect():
                    expect.setdefault(r["url"], []).append(r)
                assert sorted(expect) == urls, root
                for url in urls:
                    got = X.lookup_spans(spark, root, url).select(*cols).collect()
                    assert got == expect[url], (zone, root, url)
                assert X.lookup_spans(spark, root, "http://absent.invalid/").collect() == []
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def _files_per_day(out):
    """{warc_day: number of data files} of a committed root."""
    files = glob.glob(os.path.join(out, "extracted", "warc_day=*", "*.parquet"))
    return dict(Counter(_dir_day(os.path.basename(os.path.dirname(f))) for f in files))


def test_clustered_layout_matches_unclustered_extract(spark, paths):
    """salt_partitions=n places the input into n extraction tasks by
    day: with at least n days, each day is exactly one data file, and
    the rows are those of the plain extraction of the same input."""
    pages, out = paths
    n = 3
    s = C.run_checkpointed(spark, pages, out, salt_partitions=n)
    assert _files_per_day(out) == dict.fromkeys(s.pending_days, 1)

    committed = C.read_extracted(spark, out).drop("warc_day").collect()
    plain = X.extract(X.read_pages(spark, pages)).collect()
    key = lambda r: r["url"]
    assert sorted(committed, key=key) == sorted(plain, key=key)


def _day_files(out, days):
    """{path under extracted/: size} of the data files of ``days``."""
    root = os.path.join(out, "extracted")
    return {
        os.path.relpath(f, root): os.path.getsize(f)
        for d in days
        for f in glob.glob(os.path.join(root, f"warc_day={d}", "*"))
    }


def test_committed_day_directories_are_written_once(spark, paths):
    """A committed day directory is never rewritten: later runs (the
    rest of the range, then a no-op resume) leave its file names and
    sizes as the first run wrote them — so the layout the commit
    writes is the layout readers keep."""
    pages, out = paths
    s1 = C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-10")
    assert len(s1.pending_days) == 10
    before = _day_files(out, s1.pending_days)
    assert before
    s2 = C.run_checkpointed(spark, pages, out)
    assert set(s2.skipped_days) == set(s1.pending_days)
    s3 = C.run_checkpointed(spark, pages, out)
    assert not s3.pending_days
    assert _day_files(out, s1.pending_days) == before


def test_warc_and_parquet_sources_share_the_bound_rule(spark, tmp_path):
    """A time-of-day window keeps the same days from both sources: the
    WARC source's string warc_day is compared with the bound's date,
    as the parquet source's date partition is (the first day of
    [06:00 on 01-02, 01-04] was lost from the WARC source)."""
    from tesseract_ocr_service_spark.sources import warc as W

    seed, n = 5, 120
    pages = str(tmp_path / "pages")
    gen.write_pages(spark, pages, n, seed=seed, partitions=2)
    archives = tmp_path / "archives"
    archives.mkdir()
    W.write_warc(
        str(archives / "crawl.warc.gz"),
        [
            (d["url"], d["warc_ts"], bytes(d["html"]))
            for d in (gen.doc(i, seed) for i in range(n))
        ],
    )
    window = dict(ts_from="2026-01-02 06:00:00", ts_to="2026-01-04")
    via_parquet = C.run_checkpointed(spark, pages, str(tmp_path / "p"), **window)
    via_warc = C.run_checkpointed(
        spark, str(archives), str(tmp_path / "w"), source_format="warc", **window
    )
    assert via_parquet.pending_days == ["2026-01-02", "2026-01-03", "2026-01-04"]
    assert via_warc.pending_days == via_parquet.pending_days
    assert via_warc.n_docs == via_parquet.n_docs > 0


@pytest.fixture(scope="module")
def corpus_1000(spark, tmp_path_factory):
    pages = str(tmp_path_factory.mktemp("corpus_1000") / "pages")
    gen.write_pages(spark, pages, 1000, seed=7, partitions=8)
    return pages


@pytest.mark.parametrize(
    "window, files",
    [
        (("2026-01-05", "2026-01-05"), {"2026-01-05": 4}),
        (("2026-01-05", "2026-01-06"), {"2026-01-05": 2, "2026-01-06": 2}),
    ],
)
def test_fewer_days_than_tasks_split_each_day_evenly(
    spark, corpus_1000, tmp_path, window, files
):
    """With D < n days, each day spans n / D of the n tasks (a share of
    its sorted files each): one day at n = 4 is 4 files, two days 2 + 2."""
    out = str(tmp_path / "out")
    s = C.run_checkpointed(
        spark, corpus_1000, out, ts_from=window[0], ts_to=window[1], salt_partitions=4
    )
    assert s.pending_days == sorted(files)
    assert _files_per_day(out) == files


#: declared types the differential table cycles through: mixed case,
#: parameters, empty, all-space, NULL and disallowed
_CONTENT_TYPES = [
    "Text/HTML; charset=UTF-8",
    "application/pdf",
    "",
    None,
    "image/png",
    " APPLICATION/Octet-Stream ;q=1",
    "   ",
    "text/plain",
]


def _mixed_pages(spark, root):
    """A pages table of four days with per-row config and content_type
    columns: two days written by Spark (``warc_ts`` INT96, two files
    each), one by pyarrow (``warc_ts`` INT64 UTC micros, two files), and
    one whose only file holds no rows. Returns the days."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from tesseract_ocr_service_spark.schema import PAGES_SCHEMA

    docs = gen.gen_batch(list(range(240)), seed=SEED)
    docs["day"] = docs["warc_ts"].dt.strftime("%Y-%m-%d")
    days = sorted(docs["day"].unique())[:3]
    docs = docs[docs["day"].isin(days)].reset_index(drop=True)
    i = pd.Series(range(len(docs)))
    docs["content_type"] = [_CONTENT_TYPES[k % len(_CONTENT_TYPES)] for k in i]
    docs["page_start"] = [2 if k % 9 == 4 else None for k in i]
    docs["page_end"] = [1 if k % 11 == 6 else None for k in i]
    docs["pages"] = [[2, 1] if k % 7 == 3 else None for k in i]
    docs.loc[i % 13 == 5, "lang"] = None
    schema = StructType(
        [
            *PAGES_SCHEMA.fields,
            StructField("content_type", StringType()),
            StructField("page_start", IntegerType()),
            StructField("page_end", IntegerType()),
            StructField("pages", ArrayType(IntegerType())),
        ]
    )
    cols = schema.fieldNames()

    by_spark = docs[docs["day"].isin(days[:2])]
    (
        spark.createDataFrame(by_spark[cols], schema)
        .repartition(2)
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.partitionBy("warc_day")
        .parquet(root)
    )
    arrow_schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", "UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("content_type", pa.string()),
            ("page_start", pa.int32()),
            ("page_end", pa.int32()),
            ("pages", pa.list_(pa.int32())),
        ]
    )
    by_arrow = docs[docs["day"] == days[2]].copy()
    by_arrow["warc_ts"] = by_arrow["warc_ts"].dt.tz_localize("UTC")
    table = pa.Table.from_pandas(by_arrow[cols], arrow_schema, preserve_index=False)
    empty = "2026-02-01"
    for day, parts in ((days[2], (table[::2], table[1::2])), (empty, (table[:0],))):
        os.makedirs(os.path.join(root, f"warc_day={day}"))
        for k, part in enumerate(parts):
            pq.write_table(part, os.path.join(root, f"warc_day={day}", f"part-{k}.pq"))
    return [*days, empty]


def test_file_feed_matches_extract_of_read_pages(spark, tmp_path):
    """A parquet run's file feed writes exactly the rows of
    ``X.extract(X.read_pages(...))`` on a table that mixes Spark- and
    pyarrow-written files, carries per-row config and every kind of
    declared Content-Type, under a ``languages`` filter (a NULL lang is
    dropped), with fewer days than tasks and a day whose file holds no
    rows (it gets a zero marker). Each row lies under its input day and
    the lineage sums to the rows."""
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    days = _mixed_pages(spark, pages)
    langs = ("eng", "rus", "es", "de")
    s = C.run_checkpointed(spark, pages, out, salt_partitions=8, languages=langs)
    assert s.pending_days == days

    table = X.read_pages(spark, pages)
    expect = X.extract(table, languages=langs).collect()
    got = C.read_extracted(spark, out).drop("warc_day").collect()
    key = lambda r: r["url"]
    assert sorted(got, key=key) == sorted(expect, key=key)
    assert {r["error"] for r in got} >= {None, "invalid_file_type", "no pages to process"}
    assert len(got) < table.count()  # the filter dropped rows

    input_day = {
        r["url"]: r["day"]
        for r in table.select("url", F.col("warc_day").cast("string").alias("day"))
        .collect()
    }
    assert {u: input_day[u] for u in _days(spark, out)} == _days(spark, out)
    files = _files_per_day(out)
    assert set(files) == set(days[:3]) and max(files.values()) == 2  # split days
    lineage = {r["warc_day"]: r.asDict() for r in C.read_lineage(spark, out).collect()}
    assert sorted(lineage) == days
    assert lineage[days[3]]["n_docs"] == 0
    assert sum(r["n_docs"] for r in lineage.values()) == s.n_docs == len(got)


def test_layout_does_not_depend_on_earlier_jobs(spark, corpus_1000, tmp_path):
    """The committed bytes are a function of the input and the task
    count: two commits of one corpus in one session, with unrelated jobs
    between them, write byte-identical files per day (equal md5; a
    sampled range partitioning split some days at different urls), and
    each file holds its rows sorted by url."""
    import hashlib

    import pyarrow.parquet as pq

    def digests(out):
        root = os.path.join(out, "extracted")
        got = {}
        for f in glob.glob(os.path.join(root, "warc_day=*", "*.parquet")):
            urls = pq.read_table(f, columns=["url"]).column("url").to_pylist()
            assert urls == sorted(urls), f
            with open(f, "rb") as fh:
                md5 = hashlib.md5(fh.read()).hexdigest()
            got.setdefault(os.path.dirname(os.path.relpath(f, root)), []).append(md5)
        return {d: sorted(v) for d, v in got.items()}

    first, second = str(tmp_path / "a"), str(tmp_path / "b")
    C.run_checkpointed(spark, corpus_1000, first)
    spark.sparkContext.parallelize(range(100), 3).count()
    spark.sparkContext.parallelize(range(10)).count()
    C.run_checkpointed(spark, corpus_1000, second)
    assert len(digests(first)) == 30
    assert digests(first) == digests(second)


def _md5s(root):
    """{day directory: md5 of its one data file} under ``root``."""
    import hashlib

    got = {}
    for f in glob.glob(os.path.join(root, "warc_day=*", "*.parquet")):
        d = os.path.basename(os.path.dirname(f))
        assert d not in got, d
        with open(f, "rb") as fh:
            got[d] = hashlib.md5(fh.read()).hexdigest()
    return got


def _large_html_pages(root, days, docs_per_day):
    """A pages table written by pyarrow, one file a day, of html
    documents whose canonical text takes ~100 KB each, so a day's text
    columns outgrow one parquet data page. Returns the days."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = []
    for d in range(days):
        day = datetime.date(2026, 1, 1 + d)
        names.append(day.isoformat())
        html = [
            (
                "<html><body>"
                + "".join(
                    f"<p>day {d} doc {i} paragraph {j} lorem ipsum dolor sit amet "
                    "consectetur adipiscing elit sed do eiusmod tempor</p>"
                    for j in range(1000)
                )
                + "</body></html>"
            ).encode()
            for i in range(docs_per_day)
        ]
        noon = datetime.datetime(day.year, day.month, day.day, 12)
        urls = [f"https://ex.com/{d}/{i * 7 % docs_per_day}" for i in range(docs_per_day)]
        table = pa.table(
            {
                "url": urls,
                "warc_ts": pa.array([noon] * docs_per_day, pa.timestamp("us", "UTC")),
                "html": pa.array(html, pa.binary()),
                "text": pa.array([None] * docs_per_day, pa.string()),
                "lang": ["eng"] * docs_per_day,
            }
        )
        os.makedirs(os.path.join(root, f"warc_day={names[-1]}"))
        pq.write_table(table, os.path.join(root, f"warc_day={names[-1]}", "part-0.pq"))
    return names


def test_file_feed_writes_the_frame_feeds_bytes(spark, tmp_path):
    """The file feed cuts its input into batches as Spark's
    ``maxRecordsPerBatch`` cuts a (day, url)-sorted partition, across
    day bounds, so each day file is byte-identical to the one the same
    write tasks make behind a JVM scan: ``X.read_pages`` placed by day
    (day i of 4 in task i·2 // 4), sorted within each task by (day,
    url), staged by ``C._write_task`` and published by ``C._publish``.
    The cuts reach the bytes once a column of a day outgrows one
    parquet data page (1 MiB): the writer's pages follow the chunks of
    the rows it gets, and a day cut on its own (here 16 rows at 7 a
    batch, 2 days a task) is chunked otherwise."""
    import functools

    from pyarrow import fs as pafs

    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.sources import warc as W

    pages = str(tmp_path / "pages")
    days = _large_html_pages(pages, 4, 16)
    uri = W.spark_uri(spark, pages)
    files = C.day_files(uri)
    assert list(files) == days
    frame, stage = str(tmp_path / "frame"), str(tmp_path / "frame" / "_staging")
    os.makedirs(stage)
    day = F.col("warc_day").cast("string")
    behind_a_scan = (
        X.kernel_input(X.read_pages(spark, pages), None, day.alias(C._DAY))
        .repartitionById(2, F.when(day.isin(days[:2]), 0).otherwise(1))
        .sortWithinPartitions(C._DAY, "url")
    )
    write = functools.partial(
        C._write_task, cfg=ExtractConfig(), stage_uri=stage, prefix=""
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        with C.staging(spark, str(tmp_path / "file")) as file_stage:
            C.write_day_files(spark, uri, files, file_stage, n=2)
        staged = behind_a_scan.mapInArrow(write, C.STAGED_SCHEMA).collect()
    finally:
        spark.conf.set(key, old)
    C._publish(pafs.LocalFileSystem(), stage, frame, [r["path"] for r in staged])
    got = _md5s(str(tmp_path / "file"))
    assert len(got) == 4
    assert got == _md5s(frame)


def _share(root, n_files, rows_per_file, html_bytes, row_group, seed, n_urls):
    """Pages files of one day under ``root``: urls drawn from ``n_urls``
    with repeats (across files too) and NULLs, in random order,
    ``html`` a row's (file, row) tag padded to ``html_bytes``, every
    other file with a ``content_type`` column. Returns the sorted paths."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(seed)
    os.makedirs(root)
    paths = []
    for k in range(n_files):
        m = rows_per_file
        urls = [
            None if rnd.random() < 0.05 else f"https://ex.com/{rnd.randrange(n_urls)}"
            for _ in range(m)
        ]
        ts = datetime.datetime(2026, 1, 5)
        cols = {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array([ts] * m, pa.timestamp("us", "UTC")),
            "html": [f"{k}:{i}:".encode().ljust(html_bytes, b"x") for i in range(m)],
            "lang": pa.array([rnd.choice(["eng", "de", None]) for _ in range(m)]),
        }
        if k % 2:
            cols["content_type"] = pa.array(["text/html"] * m, pa.string())
        paths.append(os.path.join(root, f"part-{k:03d}.parquet"))
        pq.write_table(pa.table(cols), paths[-1], row_group_size=row_group)
    return paths


@pytest.mark.parametrize("languages", [None, ["eng"]])
def test_file_feed_sort_spills_and_merges_as_one_stable_sort(
    tmp_path, monkeypatch, languages
):
    """A day share larger than ``_SORT_BYTES`` is sorted in runs, spilled
    and merged: its batches equal those of the share sorted in memory,
    rows and cuts, and the rows are those of one stable url sort of the
    files' concatenation (equal urls in file and row order, NULL last),
    under a ``languages`` filter too. The spill files are removed."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    paths = _share(str(tmp_path / "day"), 6, 40, 300, 7, seed=5, n_urls=9)
    fs = pafs.LocalFileSystem()
    spilled = []
    spill_run = C._spill
    monkeypatch.setattr(C, "_spill", lambda *a: spilled.append(1) or spill_run(*a))

    def feed(sort_bytes, rows):
        monkeypatch.setattr(C, "_SORT_BYTES", sort_bytes)
        spill = tmp_path / f"spill-{sort_bytes}-{rows}"
        spill.mkdir()
        spilled.clear()
        pieces = C._day_pieces(fs, "2026-01-05", paths, languages, rows, str(spill))
        got = list(C._batches(pieces, rows))
        assert not os.listdir(spill)
        return got

    want = feed(1 << 40, 16)
    assert not spilled
    for sort_bytes, rows in ((4000, 16), (1, 16), (1, 3)):
        got = feed(sort_bytes, rows)
        assert len(spilled) > 2
        if rows == 16:
            assert [b.num_rows for b in got] == [b.num_rows for b in want]
        got, expect = pa.Table.from_batches(got), pa.Table.from_batches(want)
        assert got.to_pylist() == expect.to_pylist()

    ref = pa.concat_tables(
        [pq.read_table(p, columns=["url", "html", "lang"]) for p in paths]
    ).sort_by("url")
    if languages:
        ref = ref.filter(pc.is_in(ref.column("lang"), value_set=pa.array(languages)))
    table = pa.Table.from_batches(want)
    assert table.column("html").to_pylist() == ref.column("html").to_pylist()
    assert table.column("url").null_count > 0
    assert len(set(table.column("url").to_pylist())) < table.num_rows
    assert set(table.column(C._DAY).to_pylist()) == {"2026-01-05"}


def test_file_feed_reads_a_large_day_in_bounded_memory(tmp_path):
    """A 36 MiB day share (144 rows of 256 KiB html, in 2 MiB row
    groups) runs through one write task's file feed in a fresh
    interpreter with a 2 MiB sort budget: the Arrow pool's peak stays
    under 16 MiB (one row group being decoded, one sort run and its
    sorted copy, one merged batch), where reading and sorting the day
    whole took 108 MiB; every row reaches the kernel, url-sorted, in
    batches of 4."""
    paths = _share(str(tmp_path / "day"), 3, 48, 256 << 10, 8, seed=9, n_urls=144)
    probe = f"""
import pyarrow as pa
from tesseract_ocr_service_spark.plans import commit as C
C._SORT_BYTES = 2 << 20
pool = pa.default_memory_pool()
base = pool.max_memory()
seen = []
def write(batches):
    for b in batches:
        seen.append((b.num_rows, b.column("url").to_pylist()))
    return iter(())
ids = iter([pa.record_batch({{"id": pa.array([0], pa.int64())}})])
plan = [[("2026-01-05", {paths!r})]]
list(C._file_task(ids, plan, {str(tmp_path)!r}, None, 4, write))
urls = [u for _, us in seen for u in us]
key = lambda u: (u is None, u or "")
assert urls == sorted(urls, key=key), "not url-sorted"
assert {{n for n, _ in seen}} == {{4}}, "batch sizes"
print(len(urls), (pool.max_memory() - base) / 2**20)
"""
    done = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True
    )
    assert done.returncode == 0, done.stderr
    rows, peak_mib = done.stdout.split()
    assert int(rows) == 144
    assert float(peak_mib) < 16, peak_mib


@pytest.mark.parametrize("flush_each_slice", [False, True])
def test_write_task_stages_one_url_sorted_file_per_day(
    tmp_path, monkeypatch, flush_each_slice
):
    """The write task, fed day- and url-sorted input batches as the
    commit feeds them, in batches that cross day boundaries: one file
    per day holding exactly the kernel's rows of that day in input
    order, a staged row per file whose counters equal
    ``X.lineage_view``'s sums over those rows, and the rows buffered
    into row groups of ``_ROW_GROUP_BYTES`` at most (one row group per
    file by default, one per batch slice at 1 byte)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.functions import kernel

    if flush_each_slice:
        monkeypatch.setattr(C, "_ROW_GROUP_BYTES", 1)
    pages = pa.Table.from_pandas(
        gen.gen_batch(list(range(200)), seed=SEED), preserve_index=False
    )
    pages = pages.append_column(C._DAY, pc.strftime(pages.column("warc_ts"), "%Y-%m-%d"))
    days = sorted(set(pages.column(C._DAY).to_pylist()))[:3]
    pages = pages.filter(pc.is_in(pages.column(C._DAY), pa.array(days)))
    pages = pages.sort_by([(C._DAY, "ascending"), ("url", "ascending")])
    batches = pages.to_batches(max_chunksize=5)
    staged = pa.Table.from_batches(
        C._write_task(
            batches, cfg=ExtractConfig(), stage_uri=str(tmp_path), prefix="epoch_id=3/"
        )
    ).to_pylist()

    slices = Counter(d for b in batches for d in set(b.column(C._DAY).to_pylist()))
    assert max(slices.values()) > 1 and sum(slices.values()) > len(batches)
    assert [r["warc_day"] for r in staged] == days
    for r in staged:
        assert r["path"].startswith(f"epoch_id=3/warc_day={r['warc_day']}/part-")
        f = pq.ParquetFile(os.path.join(str(tmp_path), r["path"]))
        assert f.num_row_groups == (slices[r["warc_day"]] if flush_each_slice else 1)
        got = f.read().to_pylist()
        mine = pages.filter(pc.equal(pages.column(C._DAY), r["warc_day"]))
        (mine,) = mine.drop_columns([C._DAY]).combine_chunks().to_batches()
        assert got == kernel.extract_batch(mine, ExtractConfig()).to_pylist()
        assert [row["url"] for row in got] == sorted(row["url"] for row in got)
        status = Counter(row["status"] for row in got)
        assert r["n_docs"] == len(got) and r["n_ok"] == status["ok"]
        assert r["n_error"] == status["error"] and r["n_empty"] == status["empty"]
        assert r["n_rejected"] == status["rejected"]
        assert r["n_pages"] == sum(row["total_pages"] for row in got)
        for c in ("n_blocks_kept", "n_blocks_dropped", "n_words", "n_chars"):
            assert r[c] == sum(row[c] for row in got), c
        assert r["kernel_ms"] > 0


def test_fresh_run_makes_one_job(spark, paths):
    """A fresh parquet-source run is one Spark job: the kernel and data
    write, whose tasks read their own page files (no schema job, no
    scan or placement exchange, no sampling job, no counter aggregate,
    no index; the pages table is listed and the commit log read and
    appended on the driver)."""
    pages, out = paths
    sc = spark.sparkContext
    sc.setJobGroup("fresh-commit", "fresh commit")
    try:
        s = C.run_checkpointed(spark, pages, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s.n_docs == N_DOCS
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-commit")) == 1


def _archives(root, n_docs=N_DOCS, seed=SEED, k=2):
    """``n_docs`` generated documents written as ``k`` WARC archives
    under ``root``; returns ``root``."""
    from tesseract_ocr_service_spark.sources import warc as W

    os.makedirs(root)
    recs = [
        (d["url"], d["warc_ts"], bytes(d["html"]))
        for d in (gen.doc(i, seed) for i in range(n_docs))
    ]
    for j in range(k):
        W.write_warc(os.path.join(root, f"cc-{j}.warc.gz"), recs[j::k])
    return root


def test_fresh_warc_run_makes_two_jobs(spark, tmp_path):
    """A fresh WARC run is two Spark jobs: one stage parses every
    archive once and stages its pages by day with pyarrow, whose rows
    are the driver's day plan, and one is the file feed's write (no day
    ``distinct``, no persist, no placement exchange)."""
    archives = _archives(str(tmp_path / "archives"))
    sc = spark.sparkContext
    sc.setJobGroup("fresh-warc", "fresh WARC run")
    try:
        s = C.run_checkpointed(spark, archives, str(tmp_path / "out"), source_format="warc")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s.n_docs == N_DOCS
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-warc")) == 2


def test_noop_resume_makes_no_job(spark, paths):
    """A resume with every day committed starts no Spark job: the input
    days come from the driver's listing and the committed days from
    the driver's read of the log."""
    pages, out = paths
    C.run_checkpointed(spark, pages, out)
    sc = spark.sparkContext
    sc.setJobGroup("noop-resume", "no-op resume")
    try:
        s = C.run_checkpointed(spark, pages, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not s.pending_days and len(s.skipped_days) == 30
    assert sc.statusTracker().getJobIdsForGroup("noop-resume") == []


def test_non_utc_session_writes_rows_under_their_input_day(spark, paths):
    """Pages written in UTC, committed from an America/Los_Angeles
    session in two runs (through 01-05, then 01-06..01-10): every row
    lies under the day directory it was read from, so the second run
    neither empties a day the first committed nor takes rows of another
    day into it, and no directory step 1 did not enumerate (2025-12-31)
    is written."""
    pages, out = paths
    expect = {
        r["url"]: r["day"]
        for r in X.read_pages(spark, pages, "2026-01-01", "2026-01-10")
        .select("url", F.col("warc_day").cast("string").alias("day"))
        .collect()
    }
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        s1 = C.run_checkpointed(spark, pages, out, ts_to="2026-01-05")
        s2 = C.run_checkpointed(
            spark, pages, out, ts_from="2026-01-06", ts_to="2026-01-10"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert s1.pending_days == [f"2026-01-{d:02d}" for d in range(1, 6)]
    assert s2.pending_days == [f"2026-01-{d:02d}" for d in range(6, 11)]
    assert sorted(os.listdir(os.path.join(out, "extracted"))) == [
        f"warc_day=2026-01-{d:02d}" for d in range(1, 11)
    ]
    assert _days(spark, out) == expect
    lineage = {r["warc_day"]: r["n_docs"] for r in C.read_lineage(spark, out).collect()}
    assert lineage == dict(Counter(expect.values()))
    assert s1.n_docs + s2.n_docs == len(expect)


def test_day_files_names_a_scheme_pyarrow_cannot_open():
    """A pages table on a scheme pyarrow does not recognize fails the
    listing on the driver, before any task, with an error that names
    the pages table and ``--pages``."""
    names = r"pages table 'nosuchfs://b/pages' \(the job's --pages\)"
    with pytest.raises(ValueError, match=names):
        C.day_files("nosuchfs://b/pages")


def test_committed_days_runs_no_job(spark, paths):
    """Reading the commit log starts no Spark job: pyarrow reads
    ``lineage/`` on the driver."""
    pages, out = paths
    s = C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-10")
    sc = spark.sparkContext
    sc.setJobGroup("log-read", "commit log read")
    try:
        done = C.committed_days(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done == set(s.pending_days) and len(done) == 10
    assert sc.statusTracker().getJobIdsForGroup("log-read") == []


def test_commit_log_reads_spark_written_markers(spark, paths):
    """A log whose marker Spark wrote (``_SUCCESS`` and ``.crc`` files
    beside it), plus an unpublished ``_part-x.parquet`` left by a crash:
    the committed days are exactly the Spark-written ones, the next run
    appends one file, and Spark reads both markers."""
    import shutil

    import pandas as pd
    import pyarrow.parquet as pq

    from tesseract_ocr_service_spark.schema import LINEAGE_SCHEMA

    pages, out = paths
    s1 = C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-10")
    log = os.path.join(out, "lineage")
    (marker,) = _lineage_files(out)
    rows = pq.read_table(marker).to_pylist()
    shutil.rmtree(log)
    spark.createDataFrame(
        pd.DataFrame(rows, columns=LINEAGE_SCHEMA.fieldNames()), LINEAGE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(log)
    assert os.path.exists(os.path.join(log, "_SUCCESS"))
    assert any(n.endswith(".crc") for n in os.listdir(log))
    with open(os.path.join(log, "_part-x.parquet"), "wb") as f:
        f.write(b"half-written")
    assert len(glob.glob(os.path.join(log, "part-*.parquet"))) == 1

    assert C.committed_days(spark, out) == set(s1.pending_days)
    s2 = C.run_checkpointed(spark, pages, out)
    assert s2.skipped_days == s1.pending_days and len(s2.pending_days) == 20
    assert len(glob.glob(os.path.join(log, "part-*.parquet"))) == 2

    lineage = C.read_lineage(spark, out)
    assert sorted(r["warc_day"] for r in lineage.collect()) == sorted(
        s1.pending_days + s2.pending_days
    )
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == N_DOCS
    assert C.committed_days(spark, out) == set(s1.pending_days + s2.pending_days)



def test_commit_log_is_where_spark_resolves_the_root(
    spark, paths, tmp_path, monkeypatch
):
    """A root given without a scheme lies where Spark's Hadoop resolves
    it (``fs.defaultFS`` and its working directory), not where the
    driver's own cwd would put it. Here the two differ, as on a cluster
    whose default filesystem is HDFS: the data and the marker land in
    one root, ``committed_days`` and ``read_lineage`` agree on it, a
    resume skips every day, and a point read finds a url."""
    pages, _ = paths
    hadoop_dir, driver_dir = tmp_path / "hadoop", tmp_path / "driver"
    hadoop_dir.mkdir()
    driver_dir.mkdir()
    monkeypatch.chdir(driver_dir)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    cwd = local.getWorkingDirectory()
    local.setWorkingDirectory(hpath(str(hadoop_dir)))
    try:
        s1 = C.run_checkpointed(
            spark, pages, "out", ts_from="2026-01-01", ts_to="2026-01-10"
        )
        assert os.listdir(driver_dir) == []
        assert len(_lineage_files(str(hadoop_dir / "out"))) == 1
        assert C.committed_days(spark, "out") == set(s1.pending_days)
        lineage = C.read_lineage(spark, "out").collect()
        assert {r["warc_day"] for r in lineage} == set(s1.pending_days)
        s2 = C.run_checkpointed(
            spark, pages, "out", ts_from="2026-01-01", ts_to="2026-01-10"
        )
        assert s2.pending_days == [] and s2.skipped_days == s1.pending_days
        url = C.read_extracted(spark, "out").select("url").first()["url"]
        assert X.document_json(spark, "out/extracted", url).count() == 1
    finally:
        local.setWorkingDirectory(cwd)

#: a run whose driver dies after the write tasks staged every day file
#: and before the first move publishes one (no ``finally`` runs)
_CRASH_SCRIPT = r"""
import os, sys
from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C

pages, out, source = sys.argv[1:]


def crash(*args):
    os._exit(3)


C._publish = crash
spark = (
    X.session_builder(master="local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
C.run_checkpointed(spark, pages, out, source_format=source)
"""


def _crash_before_publish(tmp_path, pages, out, source):
    """Run ``_CRASH_SCRIPT`` over ``pages`` into ``out``; returns the
    staging directory the dead driver left (it must be the only one)."""
    script = tmp_path / "crash.py"
    script.write_text(_CRASH_SCRIPT)
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, str(script), pages, out, source],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert r.returncode == 3, r.stderr[-3000:]
    (stage,) = glob.glob(os.path.join(out, "extracted", "_staging-*"))
    return stage


@pytest.mark.slow
def test_crash_between_staging_and_publish_then_resume(spark, paths, tmp_path):
    """A driver that dies after the write staged its day files and
    before it moved them leaves ``extracted/_staging-<uuid>/``: readers
    (``read_extracted``, ``lookup_spans``, ``committed_days``) see none
    of it, and a resume converges to a fresh run's rows with lineage
    summing to ``n_docs``."""
    pages, out = paths
    s1 = C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-05")
    committed = C.committed_days(spark, out)
    before = _texts(spark, out)

    stage = _crash_before_publish(tmp_path, pages, out, "parquet")
    staged = glob.glob(os.path.join(stage, "warc_day=*", "*.parquet"))
    assert len(staged) == 30 - len(committed)

    assert C.committed_days(spark, out) == committed
    assert _texts(spark, out) == before
    late = (
        X.read_pages(spark, pages, "2026-01-06")
        .select("url").orderBy("url").first()["url"]
    )
    assert X.lookup_spans(spark, f"{out}/extracted", late).collect() == []
    early = sorted(before)[0]
    assert [r["doc_id"] for r in _lookup(spark, out, early)] == [early]

    s2 = C.run_checkpointed(spark, pages, out)
    assert s2.skipped_days == s1.pending_days
    assert s1.n_docs + s2.n_docs == N_DOCS
    lineage = C.read_lineage(spark, out)
    assert lineage.count() == 30
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == N_DOCS
    ref = str(tmp_path / "ref")
    C.run_checkpointed(spark, pages, ref)
    assert _texts(spark, out) == _texts(spark, ref)
    assert C.read_extracted(spark, out).exceptAll(C.read_extracted(spark, ref)).count() == 0


@pytest.mark.slow
def test_crash_between_staging_and_publish_of_a_warc_run_then_resume(spark, tmp_path):
    """A WARC run whose driver dies after the write staged its day files
    leaves one directory behind, ``extracted/_staging-<uuid>/``,
    holding both the staged pages (``_pages/``) and the staged output:
    readers see none of it, and a resume converges to a fresh run's
    rows with lineage summing to ``n_docs``."""
    from tesseract_ocr_service_spark.sources import warc as W

    archives = _archives(str(tmp_path / "archives"))
    out = str(tmp_path / "out")
    window = dict(ts_from="2026-01-01", ts_to="2026-01-05")
    s1 = C.run_checkpointed(spark, archives, out, source_format="warc", **window)
    committed = C.committed_days(spark, out)
    before = _texts(spark, out)

    stage = _crash_before_publish(tmp_path, archives, out, "warc")
    left = sorted(os.listdir(os.path.join(out, "extracted")))
    assert left == sorted([os.path.basename(stage), *(f"warc_day={d}" for d in committed)])
    assert len(glob.glob(os.path.join(stage, "_pages", "warc_day=*"))) == 30
    staged = glob.glob(os.path.join(stage, "warc_day=*", "*.parquet"))
    assert len(staged) == 30 - len(committed)

    assert C.committed_days(spark, out) == committed
    assert _texts(spark, out) == before
    late = (
        W.read_warc(spark, archives).where(F.col("warc_day") >= "2026-01-06")
        .select("url").orderBy("url").first()["url"]
    )
    assert X.lookup_spans(spark, f"{out}/extracted", late).collect() == []

    s2 = C.run_checkpointed(spark, archives, out, source_format="warc")
    assert s2.skipped_days == s1.pending_days
    assert s1.n_docs + s2.n_docs == N_DOCS
    lineage = C.read_lineage(spark, out)
    assert lineage.count() == 30
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == N_DOCS
    ref = str(tmp_path / "ref")
    C.run_checkpointed(spark, archives, ref, source_format="warc")
    assert _md5s(f"{out}/extracted") == _md5s(f"{ref}/extracted")
    mine, clean = C.read_extracted(spark, out), C.read_extracted(spark, ref)
    assert mine.exceptAll(clean).count() == 0 and clean.exceptAll(mine).count() == 0


class _FailingMove:
    """A pyarrow filesystem whose ``k``-th ``move`` raises; every other
    call passes through."""

    def __init__(self, fs, k):
        self._fs, self._left = fs, k

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def move(self, src, dest):
        self._left -= 1
        if self._left == 0:
            raise OSError("injected failure between the moves")
        return self._fs.move(src, dest)


@pytest.mark.parametrize("k", [1, 13])
def test_crash_between_the_moves_then_resume(spark, paths, tmp_path, monkeypatch, k):
    """A run that fails at the ``k``-th move of its publish (k - 1 day
    files moved, every pending day directory already emptied) leaves
    the days an earlier run committed byte for byte as they were and
    its own days pending; a resume writes the rows a clean run writes,
    with lineage summing to ``n_docs``."""
    pages, out = paths
    s1 = C.run_checkpointed(spark, pages, out, ts_from="2026-01-01", ts_to="2026-01-05")
    committed = C.committed_days(spark, out)
    before = _md5s(f"{out}/extracted")
    assert len(before) == len(committed) == 5

    publish = C._publish
    monkeypatch.setattr(
        C, "_publish", lambda fs, *args: publish(_FailingMove(fs, k), *args)
    )
    with pytest.raises(OSError, match="injected failure between the moves"):
        C.run_checkpointed(spark, pages, out)
    monkeypatch.setattr(C, "_publish", publish)

    assert C.committed_days(spark, out) == committed
    assert not glob.glob(os.path.join(out, "extracted", "_staging-*"))
    left = _md5s(f"{out}/extracted")
    assert {d: left[d] for d in before} == before
    assert len(left) == len(before) + k - 1  # the files moved before the failure

    s2 = C.run_checkpointed(spark, pages, out)
    assert s2.skipped_days == s1.pending_days
    assert s1.n_docs + s2.n_docs == N_DOCS
    assert {d: m for d, m in _md5s(f"{out}/extracted").items() if d in before} == before
    lineage = C.read_lineage(spark, out)
    assert lineage.count() == 30
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == N_DOCS
    ref = str(tmp_path / "ref")
    C.run_checkpointed(spark, pages, ref)
    mine, clean = C.read_extracted(spark, out), C.read_extracted(spark, ref)
    assert mine.exceptAll(clean).count() == 0 and clean.exceptAll(mine).count() == 0


def _spark_commit(spark, pages, out, lo, hi):
    """Commit the days [lo, hi] as the Spark writer the engine used
    before wrote them: ``X.extract``'s rows written by Spark with
    dynamic partition overwrite under ``warc_day`` (``warc_ts`` as
    INT96), and a lineage marker of ``X.lineage_view`` over them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tesseract_ocr_service_spark.schema import LINEAGE_ARROW

    (
        X.extract(X.read_pages(spark, pages, lo, hi))
        .withColumn("warc_day", X.warc_day())
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("warc_day")
        .parquet(f"{out}/extracted")
    )
    days = [F.lit(d) for d in (lo, hi)]
    rows = [
        {**r.asDict(), "kernel_ms": 0, "wall_ms": 0, "attempt": 1}
        for r in X.lineage_view(
            spark.read.parquet(f"{out}/extracted").where(
                F.col("warc_day").cast("string").between(*days)
            )
        ).collect()
    ]
    os.makedirs(f"{out}/lineage")
    pq.write_table(
        pa.Table.from_pylist(rows, LINEAGE_ARROW), f"{out}/lineage/part-spark.parquet"
    )
    return sorted(r["warc_day"] for r in rows)


@pytest.mark.parametrize(
    "spark_days, first_ts",
    [
        (("2026-01-01", "2026-01-10"), "timestamp[ns]"),
        (("2026-01-21", "2026-01-30"), "timestamp[us, tz=UTC]"),
    ],
)
def test_root_written_by_both_writers_reads(spark, paths, tmp_path, spark_days, first_ts):
    """A root whose days Spark wrote before (``warc_ts`` INT96) and whose
    other days the pyarrow writer wrote (``warc_ts`` INT64 UTC micros)
    reads whole: a resume skips the Spark-written days, every row is
    read, and a point read of a url on each kind of day equals a Spark
    read, in UTC and in America/Los_Angeles. The pyarrow dataset takes
    ``warc_ts``'s type from the first file it finds: Spark's (naive) in
    one case, pyarrow's (UTC) in the other."""
    import pyarrow.parquet as pq

    pages, out = paths
    old_days = _spark_commit(spark, pages, out, *spark_days)
    s = C.run_checkpointed(spark, pages, out)
    assert s.skipped_days == old_days and len(s.pending_days) == 20

    root = f"{out}/extracted"
    physical = {
        _dir_day(os.path.basename(os.path.dirname(f))): pq.ParquetFile(f)
        .schema.column(1).physical_type
        for f in glob.glob(os.path.join(root, "warc_day=*", "*.parquet"))
    }
    assert {d for d, t in physical.items() if t == "INT96"} == set(old_days)
    assert {d for d, t in physical.items() if t == "INT64"} == set(s.pending_days)
    assert str(X.spans_table(root).schema.field("warc_ts").type) == first_ts

    ref = str(tmp_path / "ref")
    C.run_checkpointed(spark, pages, ref)
    got, want = C.read_extracted(spark, out), C.read_extracted(spark, ref)
    assert got.count() == N_DOCS
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    days = _days(spark, out)
    urls = [min(u for u, d in days.items() if d == old_days[0])]
    urls.append(min(u for u, d in days.items() if d == s.pending_days[0]))
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            table = spark.read.parquet(root).drop("warc_day")
            for url in urls:
                expect = table.where(F.col("url") == url)
                got = X.lookup_spans(spark, root, url).select(*table.columns)
                assert got.collect() == expect.collect(), (zone, url)
                as_json = expect.select(
                    F.col("url").alias("doc_id"),
                    F.to_json(
                        F.struct(
                            F.col("url").alias("doc_id"),
                            F.size("spans").alias("total_pages"),
                            F.col("spans").alias("pages"),
                        )
                    ).alias("coordinates_json"),
                )
                assert X.document_json(spark, root, url).collect() == as_json.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


#: one commit on local[2,2] (a task may fail once) whose write task
#: fails attempt 0 of partition 0 at its fourth input batch, after it
#: staged the files of the days it had finished; their paths go to
#: ``fired``
_RETRY_SCRIPT = r"""
import json, sys
from pyspark import TaskContext
from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C

pages, out, fired = sys.argv[1:]
write_task = C._write_task


def failing_write_task(batches, **kw):
    ctx = TaskContext.get()
    first = ctx.partitionId() == 0 and ctx.attemptNumber() == 0
    staged = []

    def fed():
        for i, batch in enumerate(batches):
            if i == 3 and first:
                with open(fired, "w") as f:
                    json.dump(staged, f)
                raise RuntimeError("injected task failure")
            yield batch

    for row in write_task(fed(), **kw):
        staged.extend(row.column("path").to_pylist())
        yield row


C._write_task = failing_write_task
spark = (
    X.session_builder(master="local[2,2]", arrow_batch_rows=16)
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
print(json.dumps({"n_docs": C.run_checkpointed(spark, pages, out).n_docs}))
spark.stop()
"""


@pytest.mark.slow
def test_lineage_counters_survive_a_task_retry(spark, paths, tmp_path):
    """The lineage counters count each written row once although a write
    task failed at its fourth input batch, after staging files, and was
    retried: the driver collects each partition's file rows once, from
    the attempt that succeeded (commit.write_days). No file of the
    failed attempt is published: each day is one file, none of them
    staged by the failed attempt, and no staging directory is left."""
    pages, out = paths
    fired = str(tmp_path / "fired")
    script = tmp_path / "retry.py"
    script.write_text(_RETRY_SCRIPT)
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, str(script), pages, out, fired],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert os.path.exists(fired)  # the injected failure happened
    summary = next(json.loads(l) for l in r.stdout.splitlines() if l.startswith("{"))
    assert summary["n_docs"] == N_DOCS

    lineage = {r["warc_day"]: r.asDict() for r in C.read_lineage(spark, out).collect()}
    view = {
        r["warc_day"]: r.asDict()
        for r in X.lineage_view(C.read_extracted(spark, out)).collect()
    }
    assert set(lineage) == set(view)
    for day, counters in view.items():
        assert {k: lineage[day][k] for k in counters} == counters, day
    assert sum(r["n_docs"] for r in lineage.values()) == N_DOCS

    with open(fired) as f:
        failed = {os.path.basename(p) for p in json.load(f)}
    assert failed  # the failed attempt had staged files
    assert _files_per_day(out) == dict.fromkeys(lineage, 1)
    published = glob.glob(os.path.join(out, "extracted", "warc_day=*", "*.parquet"))
    assert not failed & {os.path.basename(p) for p in published}
    assert sorted(os.listdir(os.path.join(out, "extracted"))) == sorted(
        f"warc_day={d}" for d in lineage
    )


#: fails attempt 0 of the WARC run's staging task 0 after it wrote and
#: closed its page files, whose paths go to ``fired``
_STAGE_RETRY_SCRIPT = r"""
import json, sys
from pyspark import TaskContext
from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C

archives, out, fired = sys.argv[1:]
page_task = C._page_task


def failing_page_task(batches, **kw):
    ctx = TaskContext.get()
    first = ctx.partitionId() == 0 and ctx.attemptNumber() == 0
    for row in page_task(batches, **kw):
        if first:
            with open(fired, "w") as f:
                json.dump(row.column("path").to_pylist(), f)
            raise RuntimeError("injected task failure")
        yield row


C._page_task = failing_page_task
spark = (
    X.session_builder(master="local[2,2]", arrow_batch_rows=16)
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
summary = C.run_checkpointed(spark, archives, out, source_format="warc")
print(json.dumps({"n_docs": summary.n_docs}))
spark.stop()
"""


@pytest.mark.slow
def test_staged_pages_survive_a_staging_task_retry(spark, tmp_path):
    """A WARC run's staging task that failed after it wrote its page
    files, and was retried, adds no row: the day plan is built from the
    rows the driver collects, which come from the attempt that
    succeeded, so the failed attempt's files (left in the staging
    directory) are never read. ``n_docs`` is the input's, lineage
    equals ``X.lineage_view`` over the output, each url is written once,
    and no staging directory is left."""
    archives = _archives(str(tmp_path / "archives"))
    out, fired = str(tmp_path / "out"), str(tmp_path / "fired")
    script = tmp_path / "retry.py"
    script.write_text(_STAGE_RETRY_SCRIPT)
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, str(script), archives, out, fired],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    with open(fired) as f:
        assert json.load(f)  # the failed attempt had written page files
    summary = next(json.loads(l) for l in r.stdout.splitlines() if l.startswith("{"))
    assert summary["n_docs"] == N_DOCS

    lineage = {r["warc_day"]: r.asDict() for r in C.read_lineage(spark, out).collect()}
    view = {
        r["warc_day"]: r.asDict()
        for r in X.lineage_view(C.read_extracted(spark, out)).collect()
    }
    assert set(lineage) == set(view)
    for day, counters in view.items():
        assert {k: lineage[day][k] for k in counters} == counters, day
    ext = C.read_extracted(spark, out)
    assert ext.count() == ext.select("url").distinct().count() == N_DOCS
    assert not glob.glob(os.path.join(out, "extracted", "_staging-*"))
