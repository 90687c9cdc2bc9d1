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
    its file listing, windowed as read_pages windows the rows: the same
    days a distinct() over the rows finds, and no Spark job starts."""
    pages, _ = paths
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
        got = C.listed_days(df, ts_from, ts_to)
        assert max(tracker.getJobIdsForGroup()) == last_job
        assert got == expect, (ts_from, ts_to)
        assert expect


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
    return dict(Counter(X.dir_day(os.path.basename(os.path.dirname(f))) for f in files))


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
    """With D < n days, each day spans n / D of the n tasks (split by
    url hash): one day at n = 4 is 4 files, two days 2 + 2."""
    out = str(tmp_path / "out")
    s = C.run_checkpointed(
        spark, corpus_1000, out, ts_from=window[0], ts_to=window[1], salt_partitions=4
    )
    assert s.pending_days == sorted(files)
    assert _files_per_day(out) == files


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


def test_fresh_run_makes_three_jobs(spark, paths):
    """A fresh parquet-source run is three Spark jobs: the pages schema
    read, the placement exchange, and the kernel and data write (no
    sampling job, no counter aggregate, no index; the commit log is
    read and appended on the driver)."""
    pages, out = paths
    sc = spark.sparkContext
    sc.setJobGroup("fresh-commit", "fresh commit")
    try:
        s = C.run_checkpointed(spark, pages, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s.n_docs == N_DOCS
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-commit")) == 3


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

pages, out = sys.argv[1:]


def crash(*args):
    os._exit(3)


C._publish = crash
spark = (
    X.session_builder(master="local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
C.run_checkpointed(spark, pages, out)
"""


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

    script = tmp_path / "crash.py"
    script.write_text(_CRASH_SCRIPT)
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, str(script), pages, out],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert r.returncode == 3, r.stderr[-3000:]
    (stage,) = glob.glob(os.path.join(out, "extracted", "_staging-*"))
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
        X.dir_day(os.path.basename(os.path.dirname(f))): pq.ParquetFile(f)
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
