"""Incremental streaming ingest: backlog drain + exactly-once on new files."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.sources import gen
from tesseract_ocr_service_spark.streaming import ingest


@pytest.mark.slow
def test_streaming_incremental_extract(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # wave 1: 100 docs land
    gen.write_pages(spark, landing, 100, seed=21, partitions=2)
    q = ingest.start_incremental_extract(spark, landing, out, ckpt)
    q.awaitTermination(300)
    ext = spark.read.parquet(f"{out}/extracted")
    assert ext.count() == 100

    # wave 2: 60 MORE docs land in a side dir of the same landing root
    more = (
        gen.generate_pages(spark, 160, seed=21, partitions=2)
        .where(F.col("url").isin(
            [gen.doc(i, 21)["url"] for i in range(100, 160)]
        ))
        .withColumn("warc_day", F.to_date("warc_ts"))
    )
    more.write.mode("append").partitionBy("warc_day").parquet(landing)

    q = ingest.start_incremental_extract(spark, landing, out, ckpt)
    q.awaitTermination(300)
    ext = spark.read.parquet(f"{out}/extracted")
    # wave-1 files are NOT reprocessed (checkpoint), wave-2 flows once
    assert ext.count() == 160
    assert ext.select("url").distinct().count() == 160
    ok = ext.where(F.col("status") == "ok").count()
    assert ok > 100


@pytest.mark.slow
def test_epoch_sink_replay_is_idempotent(spark, tmp_path):
    """A replayed foreachBatch epoch (same epoch_id, same rows) must
    overwrite its own partitions, not append duplicates."""
    out = str(tmp_path / "out")
    batch = gen.generate_pages(spark, 40, seed=3, partitions=2)
    sink = ingest.epoch_sink(out)

    def epoch_files():
        pattern = os.path.join(out, "extracted", "epoch_id=7", "warc_day=*", "*.parquet")
        return sorted(glob.glob(pattern))

    sink(batch, 7)
    first = spark.read.parquet(f"{out}/extracted").count()
    # the epoch is written clustered by (day, url): about one file per day
    files = epoch_files()
    days = {os.path.dirname(f) for f in files}
    n = spark.sparkContext.defaultParallelism
    assert len(files) <= len(days) + n - 1, (len(files), len(days), n)
    sink(batch, 7)  # crash-retry replay of the same epoch
    assert len(epoch_files()) == len(files)
    ext = spark.read.parquet(f"{out}/extracted")
    assert ext.count() == first == 40
    assert ext.select("url").distinct().count() == 40
    # a different epoch's output lands beside it untouched
    sink(gen.generate_pages(spark, 10, seed=4, partitions=1), 8)
    assert spark.read.parquet(f"{out}/extracted").count() == 50


def test_epoch_makes_two_jobs(spark, tmp_path):
    """One epoch of the sink is two Spark jobs for either source: one
    stage writes the epoch's pages by day into the staging directory
    and one is the file feed's write (no day ``distinct``, no persist,
    no placement exchange)."""
    from tesseract_ocr_service_spark.sources import warc as W

    archives = str(tmp_path / "archives")
    os.makedirs(archives)
    docs = [gen.doc(i, 3) for i in range(40)]
    W.write_warc(
        f"{archives}/cc-0.warc.gz", [(d["url"], d["warc_ts"], bytes(d["html"])) for d in docs]
    )
    sink = ingest.epoch_sink(str(tmp_path / "out"))
    sc = spark.sparkContext
    for epoch, batch in enumerate(
        [W.read_warc(spark, archives), gen.generate_pages(spark, 40, seed=3, partitions=2)]
    ):
        sc.setJobGroup(f"epoch-{epoch}", "one epoch")
        try:
            sink(batch, epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(f"epoch-{epoch}")) == 2, epoch
    assert spark.read.parquet(f"{tmp_path}/out/extracted").count() == 80


def test_epoch_sink_writes_undated_rows_under_the_undated_day(spark, tmp_path):
    """A parquet epoch's rows whose ``warc_ts`` is NULL go under
    ``warc_day=1970-01-01`` (``sources.warc.UNDATED_DAY``, where the
    WARC source puts undated records), in an epoch that mixes them
    with dated rows and in one that holds nothing else; no row is
    lost."""
    import pyarrow.dataset as ds

    out = str(tmp_path / "out")
    sink = ingest.epoch_sink(out)
    pages = gen.generate_pages(spark, 40, seed=3, partitions=2)
    undated = F.xxhash64("url") % 3 == 0
    mixed = pages.withColumn("warc_ts", F.when(undated, None).otherwise(F.col("warc_ts")))
    n_undated = pages.where(undated).count()
    assert 0 < n_undated < 40
    sink(mixed, 1)
    sink(pages.withColumn("warc_ts", F.lit(None).cast("timestamp")), 2)

    def rows(epoch, day=None):
        root = f"{out}/extracted/epoch_id={epoch}"
        if day is not None:
            root += f"/warc_day={day}"
        return ds.dataset(root, format="parquet").count_rows()

    assert rows(1) == 40 and rows(1, "1970-01-01") == n_undated
    assert rows(2) == rows(2, "1970-01-01") == 40
    assert len(os.listdir(f"{out}/extracted/epoch_id=2")) == 1


@pytest.mark.slow
def test_streaming_first_seen_dedups_across_epochs(spark, tmp_path):
    """applyInPandasWithState: a url that reappears in a later wave is
    suppressed by the checkpointed state — first occurrence only."""
    from tesseract_ocr_service_spark.streaming import ingest, stateful

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    wave1 = gen.generate_pages(spark, 50, seed=11, partitions=1)
    wave1.withColumn("warc_day", F.to_date("warc_ts")).write.mode(
        "append"
    ).partitionBy("warc_day").parquet(landing)

    def drain():
        q = (
            stateful.streaming_first_seen(ingest.stream_pages(spark, landing))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    first = spark.read.parquet(out)
    assert first.count() == 50
    assert first.select("url").distinct().count() == 50

    # wave 2: 20 REPEAT urls + 10 new ones
    repeats = gen.generate_pages(spark, 20, seed=11, partitions=1)
    news = (
        gen.generate_pages(spark, 60, seed=11, partitions=1)
        .where(F.col("url").isin(
            [gen.doc(i, 11)["url"] for i in range(50, 60)]
        ))
    )
    for df in (repeats, news):
        df.withColumn("warc_day", F.to_date("warc_ts")).write.mode(
            "append"
        ).partitionBy("warc_day").parquet(landing)
    drain()
    after = spark.read.parquet(out)
    # only the 10 genuinely-new urls were emitted by wave 2
    assert after.count() == 60
    assert after.select("url").distinct().count() == 60


@pytest.mark.slow
def test_streaming_first_seen_ttl_evicts_and_readmits(spark, tmp_path):
    """With a state TTL, a url idle past the TTL is evicted and
    RE-EMITTED if it reappears — the documented recall trade that
    bounds the state store at 10^12 urls."""
    import time

    from tesseract_ocr_service_spark.streaming import ingest, stateful

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(lo, hi, seed=11):
        df = (
            gen.generate_pages(spark, hi, seed=seed, partitions=1)
            .where(F.col("url").isin(
                [gen.doc(i, seed)["url"] for i in range(lo, hi)]
            ))
        )
        df.withColumn("warc_day", F.to_date("warc_ts")).write.mode(
            "append"
        ).partitionBy("warc_day").parquet(landing)

    def drain(expect: int):
        """A query with ProcessingTimeTimeout keeps scheduling batches
        to honor pending state timeouts, so availableNow never
        self-terminates — poll the sink for the expected row count and
        stop explicitly (timeouts for already-expired keys fire within
        the first couple of batches)."""
        q = (
            stateful.streaming_first_seen(
                ingest.stream_pages(spark, landing), ttl_ms=1000
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            q.awaitTermination(2)
            if not q.isActive:
                break
            try:
                if spark.read.parquet(out).count() >= expect:
                    # give the in-flight batch a beat, then cut it off
                    q.awaitTermination(3)
                    break
            except Exception:
                pass  # sink not created yet
        q.stop()
        q.awaitTermination(60)

    land(0, 5)  # urls 0-4
    drain(expect=5)
    assert spark.read.parquet(out).count() == 5

    time.sleep(2.5)  # idle past the 1s TTL
    land(5, 6)  # one unrelated url — its trigger fires the timeouts
    drain(expect=6)
    assert spark.read.parquet(out).count() == 6

    land(0, 2)  # urls 0-1 REAPPEAR after eviction
    drain(expect=8)
    got = spark.read.parquet(out)
    # re-admitted: 8 rows total, urls 0 and 1 emitted twice
    assert got.count() == 8
    twice = (
        got.groupBy("url").count().where(F.col("count") == 2).count()
    )
    assert twice == 2


@pytest.mark.slow
def test_windowed_lang_counts_stream_equals_batch_replay(spark, tmp_path):
    """Batch-equivalence harness (VERDICT r2 #6): replay the stream in
    TWO waves and assert the union of emitted windows equals a batch
    groupBy over exactly the rows the watermark finalized. Converts the
    windowed-agg oracle exemption into a checked op."""
    from tesseract_ocr_service_spark.streaming import ingest, stateful

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            stateful.windowed_lang_counts(
                ingest.stream_pages(spark, landing), late="0 seconds"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # split the corpus on a MIDNIGHT-ALIGNED event-time cutoff: streams
    # arrive roughly event-time ordered; rows later than wave-1's
    # watermark in wave 2 would be dropped as late (correctly), which
    # would make full-batch equality unprovable.
    corpus = gen.generate_pages(spark, 200, seed=17, partitions=2)
    cutoff = "2026-01-16"
    for wave in (
        corpus.where(F.to_date("warc_ts") < F.lit(cutoff)),
        corpus.where(F.to_date("warc_ts") >= F.lit(cutoff)),
    ):
        wave.withColumn("warc_day", F.to_date("warc_ts")).write.mode(
            "append"
        ).partitionBy("warc_day").parquet(landing)
        drain()
    assert spark.read.parquet(out).count() > 0

    emitted = spark.read.parquet(out)
    batch = (
        spark.read.parquet(landing)
        .groupBy(F.date_trunc("day", "warc_ts").alias("day_start"), "lang")
        .agg(F.count("*").alias("n"))
    )
    exp = {
        (str(r["day_start"]), r["lang"]): r["n"] for r in batch.collect()
    }
    got = {
        (str(r["day_start"]), r["lang"]): r["n_pages"]
        for r in emitted.collect()
    }
    # append mode emits each finalized window EXACTLY once across both
    # waves (no duplicate keys), and every emitted count matches the
    # batch rollup of the full landing dir. With a 0s watermark every
    # window except the stream-max day's is finalized by the final
    # drain — at most one day (x up to 5 langs) stays pending.
    assert len(got) == emitted.count()  # no window emitted twice
    for k, v in got.items():
        assert exp.get(k) == v, (k, v, exp.get(k))
    assert len(got) >= len(exp) - 5  # at most the tail-day windows pend


@pytest.mark.slow
def test_windowed_lang_counts_with_watermark(spark, tmp_path):
    """Watermarked windowed aggregation totals match the batch rollup
    for on-time data once the stream drains."""
    from tesseract_ocr_service_spark.streaming import ingest, stateful

    landing = str(tmp_path / "landing")
    gen.write_pages(spark, landing, 200, seed=13, partitions=2)

    q = (
        stateful.windowed_lang_counts(ingest.stream_pages(spark, landing))
        .writeStream.format("memory")
        .queryName("wlc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (str(r["day_start"]), r["lang"]): r["n_pages"]
        for r in spark.sql("SELECT * FROM wlc").collect()
    }
    exp = {
        (str(r["day_start"]), r["lang"]): r["n"]
        for r in (
            spark.read.parquet(landing)
            .groupBy(
                F.date_trunc("day", "warc_ts").alias("day_start"), "lang"
            )
            .agg(F.count("*").alias("n"))
        ).collect()
    }
    # append mode only finalizes windows the watermark has passed; every
    # emitted window must match the batch truth, and most must emit
    assert got
    for k, v in got.items():
        assert exp.get(k) == v, (k, v, exp.get(k))


@pytest.mark.slow
def test_rate_limited_backlog_drains_in_multiple_isolated_epochs(
    spark, tmp_path
):
    """maxFilesPerTrigger=1 over a multi-file backlog: availableNow must
    drain in >= 2 micro-batch epochs (rate limiting honored), each
    epoch's partition holding only its own files' rows, the union
    exactly the corpus (per-epoch isolation + no loss/duplication)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    gen.write_pages(spark, landing, 60, seed=5, partitions=3)

    q = ingest.start_incremental_extract(
        spark, landing, out, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    ext = spark.read.parquet(f"{out}/extracted")
    epochs = [r["epoch_id"] for r in ext.select("epoch_id").distinct().collect()]
    assert len(epochs) >= 2, epochs
    # no row is in two epochs; the union is the whole corpus exactly
    assert ext.count() == 60
    assert ext.select("url").distinct().count() == 60
    per_epoch = {
        r["epoch_id"]: r["n"]
        for r in ext.groupBy("epoch_id").agg(F.count("*").alias("n")).collect()
    }
    assert sum(per_epoch.values()) == 60
    assert all(n > 0 for n in per_epoch.values())


def test_streaming_warc_equals_batch_extract(spark, tmp_path):
    """Stream-vs-batch equivalence for the WARC source (the parquet
    path's equivalence test, mirrored): a 2-archive backlog drained
    under maxFilesPerTrigger=1 must (a) honor the rate limit (>= 2
    epochs, one archive each) and (b) extract EXACTLY the rows the
    batch path (extract(read_warc(...))) produces — the streaming
    wrapper must not perturb the contract."""
    import os

    from tesseract_ocr_service_spark.operators import extract as X
    from tesseract_ocr_service_spark.sources import warc as W

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    recs = [
        (r["url"], r["warc_ts"], bytes(r["html"]))
        for r in (gen.doc(i, 31) for i in range(60))
    ]
    W.write_warc(f"{landing}/cc-0.warc.gz", recs[:30])
    W.write_warc(f"{landing}/cc-1.warc.gz", recs[30:], per_record_gzip=False)

    q = ingest.start_incremental_extract(
        spark, landing, out, ckpt,
        source_format="warc", max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    ext = spark.read.parquet(f"{out}/extracted")
    epochs = {
        r["epoch_id"]: r["n"]
        for r in ext.groupBy("epoch_id").agg(F.count("*").alias("n")).collect()
    }
    assert len(epochs) >= 2, epochs  # one archive per micro-batch
    assert all(n == 30 for n in epochs.values()), epochs

    via_stream = {
        (r["url"], r["status"], r["canonical_text"])
        for r in ext.select("url", "status", "canonical_text").collect()
    }
    via_batch = {
        (r["url"], r["status"], r["canonical_text"])
        for r in X.extract(W.read_warc(spark, landing))
        .select("url", "status", "canonical_text")
        .collect()
    }
    assert via_stream == via_batch
    assert len(via_stream) == 60


def test_warc_epoch_parses_each_archive_once(spark, tmp_path, monkeypatch):
    """A WARC epoch parses each archive once: the sink's one stage over
    the parsed pages writes them by day into its staging directory, and
    the write reads them back from there. A counting wrapper around the
    parse (defined here, so it is pickled by value with its
    accumulator) sees each archive parsed exactly once."""
    from pyspark.accumulators import AccumulatorParam

    from tesseract_ocr_service_spark.sources import warc as W

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    recs = [
        (r["url"], r["warc_ts"], bytes(r["html"]))
        for r in (gen.doc(i, 37) for i in range(40))
    ]
    W.write_warc(f"{landing}/cc-0.warc.gz", recs[:20])
    W.write_warc(f"{landing}/cc-1.warc.gz", recs[20:], per_record_gzip=False)

    class Parses(AccumulatorParam):  # {archive: [1] per parse}
        def zero(self, value):
            return {}

        def addInPlace(self, a, b):
            return {k: a.get(k, []) + b.get(k, []) for k in a.keys() | b.keys()}

    parsed = spark.sparkContext.accumulator({}, Parses())
    parse = W._parse_paths

    def counting_parse(it):
        for pdf in it:
            for path in pdf["path"]:
                parsed.add({os.path.basename(path): [1]})
            yield from parse(iter([pdf]))

    monkeypatch.setattr(W, "_parse_paths", counting_parse)
    q = ingest.start_incremental_extract(
        spark, landing, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        source_format="warc", max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert q.exception() is None
    assert parsed.value == {"cc-0.warc.gz": [1], "cc-1.warc.gz": [1]}
    ext = spark.read.parquet(f"{tmp_path}/out/extracted")
    assert ext.select("epoch_id").distinct().count() == 2
    assert ext.count() == 40


def test_streaming_warc_incremental_extract(spark, tmp_path):
    """WARC landing dir: archives stream through the same kernel +
    epoch sink; a second wave processes only the newly landed archive
    (checkpointed source offsets), exactly-once story unchanged."""
    from tesseract_ocr_service_spark.sources import warc as W

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(landing)
    recs = [
        (r["url"], r["warc_ts"], bytes(r["html"]))
        for r in (gen.doc(i, 29) for i in range(80))
    ]
    W.write_warc(f"{landing}/cc-0.warc.gz", recs[:50])
    q = ingest.start_incremental_extract(
        spark, landing, out, ckpt, source_format="warc"
    )
    q.awaitTermination(300)
    ext = spark.read.parquet(f"{out}/extracted")
    assert ext.count() == 50

    W.write_warc(
        f"{landing}/cc-1.warc.gz", recs[50:], per_record_gzip=False
    )
    q = ingest.start_incremental_extract(
        spark, landing, out, ckpt, source_format="warc"
    )
    q.awaitTermination(300)
    ext = spark.read.parquet(f"{out}/extracted")
    assert ext.count() == 80
    assert ext.select("url").distinct().count() == 80


def test_stream_pages_carries_optional_columns(spark, tmp_path):
    """The streaming source must see the SAME columns the batch path
    reads: a landing table staged with content_type must have the gate
    fire identically in batch and streaming (schema is probed from the
    landed files, not pinned to the canonical PAGES_SCHEMA — a pinned
    schema silently dropped the column and turned the gate off on one
    path only)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = gen.generate_pages(spark, 40, seed=5, partitions=2)
    staged = pages.withColumn(
        "content_type",
        F.when(F.xxhash64("url") % 4 == 0, "image/png").otherwise(
            F.lit("text/html; charset=UTF-8")
        ),
    ).withColumn("warc_day", F.to_date("warc_ts"))
    staged.write.partitionBy("warc_day").parquet(landing)

    # streaming source surfaces the extra column
    assert "content_type" in ingest.stream_pages(spark, landing).columns

    q = ingest.start_incremental_extract(spark, landing, out, ckpt)
    q.awaitTermination(300)
    got_stream = {
        r["url"]: (r["status"], r["error"])
        for r in spark.read.parquet(f"{out}/extracted")
        .select("url", "status", "error")
        .collect()
    }
    got_batch = {
        r["url"]: (r["status"], r["error"])
        for r in X.extract(spark.read.parquet(landing))
        .select("url", "status", "error")
        .collect()
    }
    assert got_stream == got_batch
    rejected = [u for u, (s, e) in got_batch.items() if e == "invalid_file_type"]
    assert rejected, "planted disallowed types must reject on both paths"


def test_stream_pages_empty_landing_warns_and_falls_back(spark, tmp_path):
    """A stream started before anything lands cannot probe: it pins the
    canonical PAGES_SCHEMA for its whole lifetime, so the fallback must
    WARN (later-landing optional columns would be dropped silently
    otherwise) — and an explicit schema= skips both probe and warning."""
    import warnings as W

    from tesseract_ocr_service_spark.schema import PAGES_SCHEMA

    empty = str(tmp_path / "nothing_landed")
    os.makedirs(empty)  # the dir exists (deployed), no files landed yet
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        df = ingest.stream_pages(spark, empty)
        assert [f.name for f in df.schema.fields] == [
            f.name for f in PAGES_SCHEMA.fields
        ]
    assert any("PAGES_SCHEMA" in str(w.message) for w in caught)
    # explicit schema: no probe, no warning, schema honored verbatim
    with W.catch_warnings(record=True) as caught2:
        W.simplefilter("always")
        df2 = ingest.stream_pages(spark, empty, schema=PAGES_SCHEMA)
    assert not caught2
    # (field-name compare: the stream source normalizes nullability)
    assert [f.name for f in df2.schema.fields] == [
        f.name for f in PAGES_SCHEMA.fields
    ]


def test_schema_probe_skips_crashed_write_leftovers(spark, tmp_path):
    """_first_data_file must not probe a _temporary/... leftover from a
    crashed write: hidden path SEGMENTS are skipped
    (ingest.hidden_rel_path), so the probed schema comes from a real
    data file even when junk sorts first in the listing."""
    landing = str(tmp_path / "landing")
    staged = (
        gen.generate_pages(spark, 10, seed=9, partitions=1)
        .withColumn("content_type", F.lit("text/html"))
        .withColumn("warc_day", F.to_date("warc_ts"))
    )
    staged.write.partitionBy("warc_day").parquet(landing)
    junk = os.path.join(landing, "_temporary", "0", "task_1")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-0000.parquet"), "wb") as f:
        f.write(b"not parquet at all" * 100)
    probed = ingest._first_data_file(spark, landing)
    assert "_temporary" not in probed
    assert "content_type" in ingest.stream_pages(spark, landing).columns
