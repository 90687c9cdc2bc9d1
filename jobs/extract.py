#!/usr/bin/env python
"""Cluster job entrypoint: checkpointed extraction run.

Packaging (north_rule: spark-submit --py-files on a multi-executor
cluster):

    python jobs/package.py                        # -> dist/engine.zip
    spark-submit --master <cluster> \\
        --py-files dist/engine.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=256 \\
        jobs/extract.py --pages s3://.../pages --out s3://.../out \\
        --ts-from 2026-01-01 --ts-to 2026-01-31 --salt 4096

Local smoke:

    python jobs/extract.py --pages /tmp/p --out /tmp/o --master "local[8]"

The run is idempotent and resumable: re-submitting the same command
after any failure processes only the un-committed warc_day partitions
(see plans/commit.py).

The driver lists the pages table (--pages) and reads and appends the
commit log (--out/lineage) with its own pyarrow, at the paths Spark
resolves them to (a path without a scheme lies on fs.defaultFS); the
executors read their days' page files under --pages and write the day
files under --out/extracted with their own pyarrow, as the WARC reader
opens archives. pyarrow does not see Hadoop's fs.* settings: an s3a://
root needs the AWS environment or profile on the driver and every
executor (an endpoint or keys set only as spark.hadoop.fs.s3a.* do not
carry over), an hdfs:// root needs libhdfs on each of them, and a
scheme pyarrow cannot open (which ones depends on its build) fails the
run on the driver, before any task (on --pages, with an error that
names it).
"""

from __future__ import annotations

import argparse
import json
import sys

# plain `python jobs/extract.py` local smoke: the script dir (jobs/) is
# on sys.path but the repo root is not; under spark-submit --py-files
# the zip already provides the package and this is a no-op
import os as _os

_REPO = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--pages",
        required=True,
        help="pages table root (warc_day= directories); the driver lists it "
        "and the executors open its files with their own pyarrow",
    )
    p.add_argument(
        "--out",
        required=True,
        help="output root; the driver's and the executors' pyarrow must reach it too",
    )
    p.add_argument("--ts-from", default=None, help="warc_day lower bound")
    p.add_argument("--ts-to", default=None, help="warc_day upper bound")
    p.add_argument(
        "--salt",
        type=int,
        default=0,
        help="extraction tasks: the input's days are placed into this "
        "many tasks, one file per day when there are at least as many "
        "days (0 = the default parallelism)",
    )
    p.add_argument("--langs", default=None, help="comma list: lang gate")
    p.add_argument("--pages-list", default=None, help="comma page numbers")
    p.add_argument("--page-start", type=int, default=None)
    p.add_argument("--page-end", type=int, default=None)
    p.add_argument("--no-spans", action="store_true")
    p.add_argument(
        "--allow-content-types",
        default=None,
        help="comma list overriding the declared-Content-Type allow-"
        "list (gate fires only when the pages table has a content_type"
        " column); 'none' disables the gate",
    )
    p.add_argument(
        "--format",
        dest="source_format",
        choices=("parquet", "warc"),
        default="parquet",
        help="pages input: partitioned parquet table (default) or"
        " .warc.gz archives read directly (sources/warc.py)",
    )
    p.add_argument("--master", default=None, help="override (local runs)")
    args = p.parse_args(argv)
    if args.allow_content_types is not None:
        raw = args.allow_content_types.strip()
        if raw.lower() == "none":
            args.allow_content_types = "none"
        else:
            # normalize tokens with the SAME rule the gate applies to
            # the data side (parameter-strip + case-fold) — a pasted
            # real header value like 'text/html; charset=utf-8' must
            # match, and an empty list (unset env var in a wrapper
            # script) must error, not silently reject every declared
            # type.
            toks = tuple(
                t.split(";", 1)[0].strip().lower()
                for t in raw.split(",")
                if t.split(";", 1)[0].strip()
            )
            if not toks:
                p.error(
                    "--allow-content-types: empty list (use 'none' to "
                    "disable the gate)"
                )
            args.allow_content_types = ",".join(toks)
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.operators.extract import session_builder
    from tesseract_ocr_service_spark.plans import commit

    langs = tuple(args.langs.split(",")) if args.langs else None
    cfg = ExtractConfig(
        pages=(
            tuple(int(x) for x in args.pages_list.split(","))
            if args.pages_list
            else None
        ),
        page_start=args.page_start,
        page_end=args.page_end,
        emit_spans=not args.no_spans,
        # --langs drives BOTH the relational gate below and the config,
        # so cfg.lang_string reports the languages this run actually
        # accepted (it previously stayed at the default on gated runs).
        **({"languages": langs} if langs else {}),
        **(
            {
                "allowed_content_types": (
                    None
                    if args.allow_content_types == "none"
                    # already normalized + validated by parse_args
                    else tuple(args.allow_content_types.split(","))
                )
            }
            if args.allow_content_types is not None
            else {}
        ),
    )
    spark = session_builder(app="extract-job", master=args.master).getOrCreate()
    from tesseract_ocr_service_spark.introspect import job_banner

    print(json.dumps({"banner": job_banner(spark, cfg)}))
    summary = commit.run_checkpointed(
        spark,
        args.pages,
        args.out,
        cfg,
        ts_from=args.ts_from,
        ts_to=args.ts_to,
        salt_partitions=args.salt,
        languages=langs,
        source_format=args.source_format,
    )
    print(
        json.dumps(
            {
                "pending_days": summary.pending_days,
                "skipped_days": summary.skipped_days,
                "n_docs": summary.n_docs,
                "wall_ms": summary.wall_ms,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
