#!/usr/bin/env python
"""Cluster job entrypoint: export a curated corpus as sharded JSONL.

The delivery format most training stacks ingest: one gzipped
JSON-lines file per shard directory, plus a per-shard manifest
(docs / tokens / order-insensitive id digest) the consumer can verify
transfers against. Shard assignment is the same md5-bucket rule as
jobs/build_corpus.py and relational.train_val_test_split — a pure
function of the id, so re-exports land every document in the same
shard and re-runs are reproducible end to end (rows are ordered by id
within each shard for line-stable files).

    spark-submit --master <cluster> --py-files dist/engine.zip \\
        jobs/export_jsonl.py --in s3://.../corpus/data \\
        --out s3://.../export --shards 1024 --id-col doc_id

Each shard value hashes to exactly one shuffle partition, so every
shard directory holds exactly one data file — no small-file cleanup
pass needed after export.

Local smoke:

    python jobs/export_jsonl.py --in /tmp/corpus --out /tmp/export \\
        --shards 8 --id-col doc_id --master "local[8]"
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:  # plain-python smoke; no-op under --py-files
    sys.path.insert(0, _REPO)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--in", dest="in_root", required=True)
    p.add_argument("--out", dest="out_root", required=True)
    p.add_argument("--shards", type=int, default=128)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--columns",
        default=None,
        help="comma-separated columns to export (default: all)",
    )
    p.add_argument(
        "--no-gzip", action="store_true", help="write plain .json files"
    )
    p.add_argument("--master", default=None, help="override (local runs)")
    return p.parse_args(argv)


def export(spark, args) -> dict:
    from pyspark.sql import functions as F

    from tesseract_ocr_service_spark.functions import textstats as T

    df = spark.read.parquet(args.in_root)
    if args.columns:
        df = df.select(*args.columns.split(","))
    id_c, text_c = args.id_col, args.text_col
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_c).cast("string")), 1, 4), 16, 10
        ).cast("int"),
        F.lit(args.shards),
    ).cast("int")
    n_tok = (
        T.token_count(F.coalesce(F.col(text_c), F.lit("")))
        if text_c in df.columns
        else F.lit(0)
    ).cast("bigint")
    staged = df.withColumn("shard", shard).withColumn("_n_tok", n_tok)
    manifest = staged.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("_n_tok").alias("n_tokens"),
        F.expr(f"bit_xor(xxhash64(cast({id_c} as string)))").alias(
            "id_digest"
        ),
    )
    writer = (
        staged.repartition(args.shards, F.col("shard"))
        # sort by BOTH keys: shards hash-collide into shared shuffle
        # partitions and partitionBy('shard') makes the file writer
        # inject its own sort-by-shard when the data isn't already
        # sorted by it — whether that injected sort keeps the id order
        # within each shard is non-contractual. Satisfying the writer's
        # required ordering here makes within-shard id order guaranteed.
        .sortWithinPartitions("shard", id_c)
        .drop("_n_tok")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if not args.no_gzip:
        writer = writer.option("compression", "gzip")
    writer.json(f"{args.out_root}/data")
    # manifest from the staged plan (counted before the write action is
    # fine — both consume the same deterministic lineage), written LAST
    # so a complete manifest implies a complete export
    manifest.coalesce(1).write.mode("overwrite").parquet(
        f"{args.out_root}/_manifest"
    )
    # totals from the just-written (tiny) manifest — summing the lazy
    # `manifest` would re-run the whole source scan + token count a
    # third time (CLAUDE.md extra-consumer rule)
    m = (
        spark.read.parquet(f"{args.out_root}/_manifest")
        .agg(F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t"))
        .first()
    )
    return {
        "n_docs": int(m["d"] or 0),
        "n_tokens": int(m["t"] or 0),
        "n_shards": args.shards,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from tesseract_ocr_service_spark.operators.extract import session_builder

    owns_session = SparkSession.getActiveSession() is None
    spark = session_builder(
        app="export-jsonl", master=args.master
    ).getOrCreate()
    stats = export(spark, args)
    print(json.dumps({**stats, "out": args.out_root}))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
