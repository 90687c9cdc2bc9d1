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
    """The file layout is a function of the input and the task count:
    two commits of one corpus in one session, with unrelated jobs
    between them, write the same files per day with the same sizes (a
    sampled range partitioning split some days at different urls)."""
    def sizes(out):
        root = os.path.join(out, "extracted")
        got = {}
        for f in glob.glob(os.path.join(root, "warc_day=*", "*.parquet")):
            got.setdefault(os.path.dirname(os.path.relpath(f, root)), []).append(
                os.path.getsize(f)
            )
        return {d: sorted(v) for d, v in got.items()}

    first, second = str(tmp_path / "a"), str(tmp_path / "b")
    C.run_checkpointed(spark, corpus_1000, first)
    spark.sparkContext.parallelize(range(100), 3).count()
    spark.sparkContext.parallelize(range(10)).count()
    C.run_checkpointed(spark, corpus_1000, second)
    assert len(sizes(first)) == 30
    assert sizes(first) == sizes(second)


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

#: one commit on local[2,2] (a task may fail once) whose kernel fails
#: attempt 0 of partition 0 after two batches
_RETRY_SCRIPT = r"""
import json, sys
from pyspark import TaskContext
from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C

pages, out, fired = sys.argv[1:]
kernel_iter = X.kernel_iter


def failing_kernel_iter(batches, **kw):
    ctx = TaskContext.get()
    for i, batch in enumerate(kernel_iter(batches, **kw)):
        if i == 2 and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(fired, "w").close()
            raise RuntimeError("injected task failure")
        yield batch


X.kernel_iter = failing_kernel_iter
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
    """The lineage counters count each written row once although a task
    of the write failed after extracting three batches and was retried:
    the kernel's accumulator is merged from result tasks only, once per
    partition (kernel.kernel_iter)."""
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
