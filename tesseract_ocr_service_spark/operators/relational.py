"""Relational analogs of the reference operators (SURVEY.md §2) over the
driver's TPC-H-ish tables — each is SQL-expressible so DuckDB can oracle-
check it (``__spark_entry__.oracle_sql``).

Float-hash discipline: every aggregate that the driver value-hashes is
either integral (cents via round(x*100)->bigint), a string, or a double
rounded identically on both sides — so cross-engine summation order
cannot flip a hash bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_par(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Deterministically spread a single-row-group driver table before
    per-row-heavy work: the driver's parquet tables are ONE file with
    ONE row group, so every scan is one split and everything before the
    first exchange (tokenize/explode/regex) ran on ONE core. Same
    rationale and shape as queries._par (guide §2.5: hash of the key,
    never rand/round-robin)."""
    from .queries import _par

    return _par(_t(spark, sf_dir, name), key)


# --- A1 (relational form): canonical assembly over a synthesized word
# table. Tokens of each document become word records with block =
# (rn-1)//24 + 1 and line = ((rn-1) % 24)//6 + 1 (4 lines of 6 per
# block); lines join " ", blocks' lines join "\n", blocks join "\n\n" —
# exactly the contract of ocr_processor.py:116-168, expressed as
# cascaded groupBy + sort_array (O2: explicit sorts, never rely on
# collect_list order).
def assembly_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_par(spark, sf_dir, "documents", "doc_id")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "tok")
    ).where(F.col("tok") != "")
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    words = toks.select(
        "doc_id",
        "tok",
        rn.alias("rn"),
    ).select(
        "doc_id",
        "tok",
        "rn",
        (((F.col("rn") - 1) / 24).cast("int") + 1).alias("block_num"),
        ((((F.col("rn") - 1) % 24) / 6).cast("int") + 1).alias("line_num"),
    )
    lines = words.groupBy("doc_id", "block_num", "line_num").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("line_text")
    )
    blocks = lines.groupBy("doc_id", "block_num").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_num", "line_text"))),
                lambda x: x["line_text"],
            ),
            "\n",
        ).alias("block_text")
    )
    return blocks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("block_num", "block_text"))),
                lambda x: x["block_text"],
            ),
            "\n\n",
        ).alias("assembled_text")
    )


# --- A2/F2: confidence mean over conf >= 0 only (ocr_processor.py:87-93),
# with (value - 10) as the conf analog so negatives exist.
def confidence_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    conf = F.col("value") - F.lit(10.0)
    return ev.groupBy("event_type").agg(
        F.coalesce(
            F.round(F.avg(F.when(conf >= 0, conf)), 4), F.lit(0.0)
        ).alias("avg_conf"),
        F.count(F.when(conf >= 0, 1)).alias("n_conf"),
        F.count("*").alias("n_total"),
    )


# --- A4/A5: envelope bbox roll-up (min/max aggregation cascade,
# ocr_processor.py:283-322) with lineitem ints as coordinates.
def bbox_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").alias("left"),
        F.col("l_quantity").cast("bigint").alias("top"),
        (F.col("l_linenumber") + F.col("l_quantity").cast("bigint")).alias(
            "right_edge"
        ),
        (F.col("l_quantity").cast("bigint") * 2).alias("bottom_edge"),
    )
    return li.groupBy("l_orderkey").agg(
        F.min("left").alias("bb_left"),
        F.min("top").alias("bb_top"),
        F.max("right_edge").alias("bb_right"),
        F.max("bottom_edge").alias("bb_bottom"),
    )


# --- S10: store stats — count + oldest/newest (coordinates_store.py:81-110).
def store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return ev.agg(
        F.count("*").alias("total_documents"),
        F.date_format(F.min("ts"), fmt).alias("oldest_ts"),
        F.date_format(F.max("ts"), fmt).alias("newest_ts"),
        F.min_by("event_id", "ts").alias("oldest_id"),
        F.max_by("event_id", "ts").alias("newest_id"),
    )


# --- O1/O2: deterministic ordered traversal — page sort analog
# (ocr_processor.py:507; sorted(keys) :157-160).
def sorted_order_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_list("o_orderkey"))
        ).alias("orders_csv"),
        F.count("*").alias("n_orders"),
    )


# --- F1: empty-word filter (ocr_processor.py:137-138).
def nonempty_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_par(spark, sf_dir, "documents", "doc_id")
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("bigint")  # duckdb len() is BIGINT — keep schemas aligned
        .alias("n_words"),
    )


# --- S1/partition-pruning analog: time-window scan + daily rollup
# (warc_ts pruning; sums kept integral as cents).
def ts_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(
            (F.col("ts") >= F.lit("2024-01-10"))
            & (F.col("ts") < F.lit("2024-01-20"))
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "sum_cents"
            ),
        )
    )


# --- S3: validation routing — size/magic gates become status columns
# (ocr/main.py:335-390), emulated over documents.
def validation_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    status = (
        F.when(
            F.col("text").isNull() | (F.length("text") == 0), "rejected"
        )
        .when(F.col("n_chars") > 380, "oversize")
        .otherwise("ok")
    )
    return docs.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n_docs")
    )


# --- S3 (Content-Type leg): the reference's declared-type gate
# (ocr/main.py:354-363) through the ENGINE's real expression
# (extract.content_type_ok — equal value for value to the Arrow gate
# the kernel applies, kernel.content_type_allowed). The documents table
# carries no MIME column, so the declared types are PLANTED
# deterministically from doc_id (identical derivation in the SQL
# oracle — same planted-data pattern as
# pii_redaction: a hash match proves the normalization + allow-list
# decision, not an identity pass). Covers: exact allowed, uppercase +
# parameters, octet-stream tolerance, html with charset, a disallowed
# type, empty string, and NULL (absent header).
def content_type_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extract import content_type_ok

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    planted = (
        F.when(m == 0, "application/pdf")
        .when(m == 1, "Application/PDF; charset=binary")
        .when(m == 2, "application/octet-stream")
        .when(m == 3, "text/html; charset=UTF-8")
        .when(m == 4, "image/png")
        .when(m == 5, "")
        .otherwise(F.lit(None).cast("string"))
    )
    sel = docs.select(planted.alias("content_type"))
    c = F.col("content_type")
    # explicit absent/empty label: duckdb's split_part(NULL) returns ''
    # (non-standard), so a coalesce-after-split diverges across engines
    base = F.when(
        c.isNull() | (F.trim(c) == ""), "(absent)"
    ).otherwise(F.lower(F.trim(F.substring_index(c, ";", 1))))
    return (
        sel.select(
            base.alias("base_type"),
            F.when(content_type_ok(F.col("content_type")), "ok")
            .otherwise("rejected")
            .alias("status"),
        )
        .groupBy("base_type", "status")
        .agg(F.count("*").alias("n_docs"))
    )


# --- Showcase joins/aggs the engine inherits from Catalyst: TPC-H Q1
# shape (cents-integral) and a broadcast join top-k.
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(
                (
                    cents("l_extendedprice")
                    * (F.lit(100) - cents("l_discount"))
                )
            ).alias("sum_disc_units"),
            F.count("*").alias("count_order"),
        )
    )


# --- S11: unicode-preserving JSON render (UnicodeJSONResponse,
# ocr/main.py:41-51) — the export view of a result row. Spark's to_json
# is compact and does not ASCII-escape (ensure_ascii=False parity).
def json_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.col("lang"),
                F.col("n_chars"),
            )
        ).alias("payload_json"),
    )


# --- training-data op: corpus token frequency (top-k tokens) — the
# explode/aggregate/top-k shape every vocabulary build uses.
def top_tokens(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # ordered limit -> TakeOrderedAndProject: per-partition top-k merged
    # on the driver, NEVER a global single-partition window (the
    # distinct-token table is billions of rows at web scale; an
    # unpartitioned WindowExec moves all of it to one task). The rank is
    # assigned AFTER the limit over the k-row result: coalesce(1) of k
    # rows + a sorted single partition makes monotonically_increasing_id
    # the 0-based rank.
    limited = counts.orderBy(F.desc("n"), F.asc("tok")).limit(k)
    return (
        limited.coalesce(1)
        .sortWithinPartitions(F.desc("n"), F.asc("tok"))
        .withColumn(
            "rank", (F.monotonically_increasing_id() + 1).cast("int")
        )
        .select("tok", "n", "rank")
    )


# --- training-data op: per-language corpus stats (the slice-and-count
# every multilingual pipeline reports).
def lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_par(spark, sf_dir, "documents", "doc_id")
    n_tok = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tok.cast("bigint")).alias("n_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- sessionization (window lag + cumulative gap-count): the standard
# event-stream op the engine inherits from Spark windows.
def sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ: no direct numeric cast in Spark 4 —
    # hop through timestamp_ltz (identity under the UTC session TZ).
    # double, not long: DuckDB's epoch() keeps fractional seconds, and a
    # floor-seconds gap flips session boundaries within 1s of the
    # threshold (cross-engine hash divergence).
    epoch = F.col("ts").cast("timestamp_ltz").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), 1
    ).otherwise(0)
    sessions = ev.select(
        "user_id",
        "ts",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("longest_session"),
        F.sum("n_events").alias("n_events_total"),
    )


# --- as-of join: for each click, the latest error of the same user at
# or before it (operators/asof.py; DuckDB's native ASOF JOIN is the
# oracle).
def asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(clicks, errors, on="ts", by="user_id", right_cols=["event_id"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return j.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_right").alias("last_error_id"),
        F.date_format(F.col("ts_right"), fmt).alias("last_error_ts"),
    )


# --- range join via time-bucketization (Spark lacks a native range
# join; bucketing the range key turns it into an equi-join + residual
# filter — the standard scale pattern, pyspark_guide "as-of/range join").
def range_join_purchases_near_errors(
    spark: SparkSession, sf_dir: str, window_s: int = 300
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp_ltz").cast("double")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", epoch.alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", epoch.alias("e_ts"), F.col("event_id").alias("error_id")
    )
    # bucket width = window: a match |p-e| <= w lies in the same or an
    # adjacent bucket, so each error probes 3 buckets (explode) and the
    # join is a plain equi-join on (user_id, bucket).
    p_b = purchases.withColumn(
        "bucket", (F.col("p_ts") / window_s).cast("bigint")
    )
    e_b = errors.withColumn(
        "bucket",
        F.explode(
            F.array(
                *[
                    (F.col("e_ts") / window_s).cast("bigint") + d
                    for d in (-1, 0, 1)
                ]
            )
        ),
    )
    return (
        p_b.join(e_b, ["user_id", "bucket"])
        .where(F.abs(F.col("p_ts") - F.col("e_ts")) <= window_s)
        .select("purchase_id", "error_id")
        .distinct()
    )


# --- pivot: per-day event-type counts as columns (guide OLAP pattern;
# expressed as conditional aggregation so the oracle SQL is identical).
def daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cnt = lambda t: F.count(F.when(F.col("event_type") == t, 1)).alias(
        f"n_{t}"
    )
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        cnt("click"), cnt("view"), cnt("purchase"), cnt("error"),
        F.count("*").alias("n_total"),
    )


# --- exact percentiles (continuous interpolation) per group.
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (oracle-checked). Scale note: exact
    percentile() buffers/sorts every group's values — correct default
    only while groups fit an executor; the 10^12-row path is
    :func:`value_percentiles_approx`."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for percentiles: approx_percentile aggregates a
    bounded quantile sketch with map-side partial merge — no per-group
    value buffering/sort, so group size no longer bounds executor
    memory. accuracy=10000 -> rank error <= n_group/10000 (Spark's
    documented bound). No SQL oracle (DuckDB's approx_quantile is a
    different sketch; cross-engine hash equality is not defined for
    approximate answers) — the driver records the rows/schema check,
    and the pytest tolerance test pins approx-vs-exact agreement."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(
            F.expr("approx_percentile(value, 0.5, 10000)"), 4
        ).alias("p50"),
        F.round(
            F.expr("approx_percentile(value, 0.9, 10000)"), 4
        ).alias("p90"),
        F.round(
            F.expr("approx_percentile(value, 0.99, 10000)"), 4
        ).alias("p99"),
    )


def top_customers_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim join chain: region ⋈ nation ⋈ customer ⋈ orders,
    top-5 customers per region by order count (window top-k)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    counts = joined.groupBy("r_name", "c_custkey").agg(
        F.count("*").alias("n_orders")
    )
    w = Window.partitionBy("r_name").orderBy(
        F.desc("n_orders"), F.asc("c_custkey")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("r_name", "c_custkey", "n_orders", "rank")
    )


# --- training-data op: per-domain quota sampling (cap documents per
# source/domain — the standard crawl-mix step before training). The
# window is PARTITIONED by the quota key: each domain ranks its own
# docs, no global sort anywhere.
def domain_quota_sample(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
    )


# --- training-data op: deterministic hash split (train/val/test) — the
# reproducible-split pattern: membership is a pure function of the
# document id (md5 bucket), so any engine/rerun/backfill assigns
# identically; no sampling state, no shuffle at all (narrow projection).
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- training-data op: temperature-balanced language sampling — the
# multilingual-corpus rebalance (sample language l with probability
# proportional to p_l^alpha; alpha < 1 flattens the head so
# low-resource languages are not drowned — the XLM-R/mT5 recipe).
# Deterministic, downsample-only form: keep rate
# r_l = (n_l / n_min)^(alpha - 1) — the rarest language keeps all its
# docs, a language 4x its size keeps sqrt(1/4) = 1/2 at alpha = 0.5.
# Membership is an md5 bucket (rerun- and engine-stable, same idiom as
# train_val_test_split). alpha is PINNED to 0.5: the rate becomes
# sqrt(n_min/n_l), and IEEE-754 sqrt is correctly rounded, so every
# engine computes the identical threshold where a pow() would differ
# in the last ulp and flip boundary buckets.
#
# Shape at 10^12 rows: per-lang counts are a groupBy partial agg
# (tiny shuffle) broadcast-joined back — NOT a count window over lang,
# which would shuffle the whole corpus onto ~100 reducers with the
# head language (easily 40% of web text) landing on ONE. The corpus is
# scanned twice (once for counts, once for marking); scans are cheap,
# skewed shuffles are not.
def lang_temperature_sample(
    spark: SparkSession, sf_dir: str, alpha: float = 0.5
) -> DataFrame:
    if alpha != 0.5:
        raise ValueError("alpha is pinned to 0.5 (sqrt threshold rule)")
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("_n"))
    n_min = counts.agg(F.min("_n").alias("_n_min"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 65536
    )
    thresh = F.floor(
        F.lit(65536.0)
        * F.sqrt(F.col("_n_min").cast("double") / F.col("_n").cast("double"))
    )
    return (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(n_min))
        .select(
            "doc_id",
            "lang",
            thresh.cast("int").alias("keep_per_64k"),
            (bucket < thresh).cast("int").alias("keep"),
        )
    )


# --- training-data op: sequence packing — group documents into fixed
# token budgets (the batch-construction step before tokenizer sharding:
# each pack becomes one ~seq_len training sequence). Next-fit by
# cumulative token count within a SHARD: the window is partitioned by a
# deterministic hash shard, never global — each shard packs its own
# docs independently (exactly how a real pipeline parallelizes packing)
# and pack ids are (shard, bin) pairs, reproducible run to run.
def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    from ..functions import textstats as T

    docs = _t(spark, sf_dir, "documents")
    # coalesce: NULL text must count 0 tokens in both engines
    n_tok = T.token_count(F.coalesce(F.col("text"), F.lit(""))).cast(
        "bigint"
    )
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("int"),
        F.lit(n_shards),
    ).cast("int")
    base = docs.select(
        "doc_id", n_tok.alias("n_tok"), shard.alias("shard")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # a doc starts in the bin its PRECEDING cumulative count fills:
    # next-fit semantics, deterministic, engine-agnostic
    return base.withColumn("_cum", F.sum("n_tok").over(w)).select(
        "doc_id",
        "shard",
        "n_tok",
        F.floor((F.col("_cum") - F.col("n_tok")) / seq_len)
        .cast("int")
        .alias("pack_id"),
    )
