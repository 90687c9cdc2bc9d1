"""Per-layer measurements of a traced run.

Driver-side layers are timed around the public call the benchmark makes
(or that the engine makes through a module attribute, see
``tracing.Tracer.patched``). The executor-side layers (kernel, htmlx,
pdfstream, assembly) run inside Spark's Python workers, out of reach of
a driver-side wrapper, so they are measured in this process on one core
over a fixed sample of generated documents.
"""

from __future__ import annotations

import statistics
import time

from tesseract_ocr_service_spark.config import ExtractConfig
from tesseract_ocr_service_spark.functions import assembly, htmlx, kernel, pdfstream
from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C
from tesseract_ocr_service_spark.sources import gen
from tesseract_ocr_service_spark.sources import warc as W

import workloads as WL
from tracing import Tracer

#: documents in the in-process kernel sample, and rows per batch (the
#: engine's default Arrow batch size)
KERNEL_DOCS = 768
BATCH_ROWS = 256
#: untraced/traced pass pairs over the kernel sample
KERNEL_PASSES = 3
LOOKUP_PROBES = 3


def scan_files_read(df) -> int:
    """Files the executed plan's parquet scans opened (the scan node's
    driver-side ``numFiles`` metric, after partition pruning)."""
    plan = df._jdf.queryExecution().executedPlan()
    total = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name == "FileSourceScanExec":
            total += int(node.metrics().apply("numFiles").value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def _count_html(tr: Tracer, args, result) -> None:
    _, kept, dropped, _ = result
    tr.count("htmlx.blocks_kept", kept)
    tr.count("htmlx.blocks_dropped", dropped)


def _count_pages(tr: Tracer, args, result) -> None:
    tr.count("pdfstream.pages", len(result))


def _count_words(tr: Tracer, args, result) -> None:
    tr.count("assembly.words", len(args[5]))


def kernel_probe(seed: int) -> tuple[dict, Tracer]:
    """extract_batch over a fixed sample, alternating untraced and
    traced passes; the traced passes wrap the four layer functions the
    kernel calls through their modules."""
    cfg = ExtractConfig()
    ids = list(range(KERNEL_DOCS))
    batches = [
        gen.gen_batch(ids[i : i + BATCH_ROWS], seed)
        for i in range(0, KERNEL_DOCS, BATCH_ROWS)
    ]
    plain, traced, self_kernel = [], [], []
    layer_s: dict[str, list[float]] = {"htmlx": [], "pdfstream": [], "assembly": []}
    tr = None
    for _ in range(KERNEL_PASSES):
        t = time.perf_counter()
        for b in batches:
            kernel.extract_batch(b, cfg)
        plain.append(time.perf_counter() - t)

        tr = Tracer(True)
        targets = [
            (htmlx, "extract_words_columnar", "htmlx", _count_html),
            (pdfstream, "decode", "pdfstream", _count_pages),
            (pdfstream, "page_word_records", "pdfstream", None),
            (assembly, "assemble_pages_arrays", "assembly", _count_words),
        ]
        with tr.patched(targets):
            t = time.perf_counter()
            for b in batches:
                with tr.span("kernel"):
                    kernel.extract_batch(b, cfg)
            traced.append(time.perf_counter() - t)
        self_kernel.append(tr.self_s()["kernel"])
        for name in layer_s:
            layer_s[name].append(tr.total_s(name))

    med = statistics.median
    kernel_s = med(plain)
    m = {
        "kernel.s": kernel_s,
        "kernel.docs_per_s_1core": KERNEL_DOCS / kernel_s,
        "kernel.self_s": med(self_kernel),
        "trace.overhead_frac": med(traced) / kernel_s - 1.0,
    }
    for name, vals in layer_s.items():
        m[f"{name}.s"] = med(vals)
    for name in ("htmlx.blocks_kept", "htmlx.blocks_dropped", "pdfstream.pages",
                 "assembly.words"):
        m[name] = tr.counts[name]
    return m, tr


def warc_probe(ctx: "WL.Ctx", wl: "WL.Workload") -> dict:
    archives = getattr(wl, "archives", None)
    if archives is None:
        archives = WL.write_archives(ctx, wl.pages)
    with ctx.tracer.span("warc.read_warc"):
        t = time.perf_counter()
        records = W.read_warc(ctx.spark, archives).count()
        parse_s = time.perf_counter() - t
    return {
        "warc.parse_s": parse_s,
        "warc.records": records,
        "warc.bytes_in": WL.files_bytes(archives, ".warc.gz"),
    }


def scan_probe(ctx: "WL.Ctx", wl: "WL.Workload") -> dict:
    """One-day window over the partitioned pages table: files the scan
    opened against files present."""
    with ctx.tracer.span("scan.read_pages"):
        t = time.perf_counter()
        df = X.read_pages(ctx.spark, wl.pages, WL.NEW_DAY, WL.NEW_DAY).select("url")
        df.collect()
        scan_s = time.perf_counter() - t
    return {
        "scan.files_total": len(WL.parquet_files(wl.pages)),
        "scan.files_read": scan_files_read(df),
        "scan.s": scan_s,
    }


def extract_probe(ctx: "WL.Ctx", wl: "WL.Workload", kernel_dps: float) -> dict:
    """The workload's pages table extracted into the ``noop`` sink: the
    input of its commit runs, through the kernel stage without the
    commit path."""
    df = X.read_pages(ctx.spark, wl.pages)
    with ctx.tracer.span("extract.noop"):
        t = time.perf_counter()
        X.extract(df, salt_partitions=wl.salt).write.format("noop").mode(
            "overwrite"
        ).save()
        noop_s = time.perf_counter() - t
    return {
        "extract.noop_s": noop_s,
        "extract.parallel_eff": wl.n_docs / noop_s / (ctx.cores * kernel_dps),
    }


def commit_probe(ctx: "WL.Ctx", wl: "WL.Workload", noop_s: float) -> dict:
    runs = wl.commit_runs
    med = statistics.median
    wall = med(r.wall_s for r in runs)
    with ctx.tracer.span("commit.resume"):
        t = time.perf_counter()
        C.run_checkpointed(ctx.spark, wl.pages, wl.out, salt_partitions=wl.salt)
        resume_s = time.perf_counter() - t
    self_s = ctx.tracer.self_s()
    per_run = max(len(runs), 1)
    return {
        "commit.wall_s": wall,
        "commit.overhead_s": wall - noop_s,
        "commit.self_s": self_s.get("run_checkpointed", 0.0) / per_run,
        "commit.log_read_s": ctx.tracer.total_s("commit.committed_days") / per_run,
        "commit.files_written": med(r.files_written for r in runs),
        "commit.bytes_written": med(r.bytes_written for r in runs),
        "commit.lineage_rows": med(r.lineage_rows for r in runs),
        "commit.resume_noop_s": resume_s,
    }


def lookup_probe(ctx: "WL.Ctx", wl: "WL.Workload") -> dict:
    spans_path = f"{wl.out}/extracted"
    urls = sorted(
        r["url"] for r in ctx.spark.read.parquet(spans_path).select("url").limit(64).collect()
    )[:LOOKUP_PROBES]
    walls, rows, files = [], 0, 0
    for url in urls:
        with ctx.tracer.span("lookup.document_json"):
            t = time.perf_counter()
            df = X.document_json(ctx.spark, spans_path, url)
            rows += len(df.collect())
            walls.append(time.perf_counter() - t)
        files = scan_files_read(df)
    return {
        "lookup.s": statistics.median(walls),
        "lookup.files_listed": files,
        "lookup.rows_returned": rows / len(urls),
    }
