"""Benchmark of the extraction engine: one workload per invocation.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Work files go under ``.bench_work/`` and are removed at
the end; a traced run leaves its spans in ``.bench_out/``. The
workloads, metrics and bounds are described in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()


def _engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("tesseract_ocr_service_spark/__init__.py", "tests/golden.py")
    )


def start_session(work: str, cores: int, mem_mb: int):
    from tesseract_ocr_service_spark.operators.extract import session_builder

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    spark = (
        session_builder(
            app="perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _engine_present():
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    import checks
    import sysmon
    import workloads as WL
    from tracing import Tracer

    if args.workload not in WL.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = sysmon.cores()
    mem_mb = max(1024, min(2048, sysmon.mem_available_mb() // 4))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "spark-local")
    tracer = Tracer(bool(args.trace))
    tally = checks.Tally()
    spark = None
    try:
        with sysmon.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, cores, mem_mb)
            session_s = time.perf_counter() - t0
            ctx = WL.Ctx(spark, work, args.seed, cores, tracer)
            wl = WL.WORKLOADS[args.workload](ctx)
            t0 = time.perf_counter()
            wl.setup()
            setup_s = session_s + time.perf_counter() - t0
            wl.warmup()

            ops: list = []
            cpu0 = sysmon.cpu_times()
            t0 = time.perf_counter()
            while not ops or time.perf_counter() - t0 < args.seconds:
                try:
                    op = wl.op(len(ops))
                except Exception:
                    traceback.print_exc()
                    tally.add(False, f"operation {len(ops)} raised")
                    ops.append(None)
                    continue
                tally.add(op.ok, op.what)
                ops.append(op)
            steal = sysmon.steal_frac(cpu0, sysmon.cpu_times())
            done = [o for o in ops if o is not None]
            if not done:
                print("perfbench: every operation failed", file=sys.stderr)
                return 1
            wl.check(tally)

            if args.trace:
                metrics = layer_metrics(ctx, wl, steal)
                metrics.update(op_metrics(done, rss))
                metrics = {k: _m(v, UNITS[k]) for k, v in sorted(metrics.items())}
            else:
                metrics = end_to_end(done, setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(done)} "
        f"steal={steal:.4f} failed={tally.failed}/{tally.attempted} "
        f"op_ms={[round(o.wall_s * 1000) for o in done]}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(ops: list, setup_s: float) -> dict:
    return {
        "op_p50_ms": _m(statistics.median(o.wall_s * 1000 for o in ops), "ms"),
        "setup_s": _m(setup_s, "s"),
    }


def op_metrics(ops: list, rss) -> dict:
    """The timed loop's own figures in a traced run: operation latency
    tail (the 11th-largest sample, so that ten samples lie beyond it;
    the largest when there are ten or fewer), sample count, document
    throughput, and peak memory."""
    walls_ms = sorted(o.wall_s * 1000 for o in ops)
    n = len(walls_ms)
    return {
        "op.p50_ms": statistics.median(walls_ms),
        "op.tail_ms": walls_ms[n - 11] if n > 10 else walls_ms[-1],
        "op.tail_pct": 100.0 * (n - 10) / n if n > 10 else 100.0,
        "op.samples": n,
        "op.docs_per_s": statistics.median(o.docs / o.wall_s for o in ops),
        "env.peak_rss_mb": rss.peak_mb,
    }


def layer_metrics(ctx, wl, steal: float) -> dict:
    import probes

    m, kernel_tracer = probes.kernel_probe(ctx.seed)
    m.update(probes.warc_probe(ctx, wl))
    m.update(probes.scan_probe(ctx, wl))
    m.update(probes.extract_probe(ctx, wl, m["kernel.docs_per_s_1core"]))
    m.update(probes.commit_probe(ctx, wl, m["extract.noop_s"]))
    m.update(probes.lookup_probe(ctx, wl))
    m["env.steal_frac"] = steal

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"trace-{wl.name}-s{ctx.seed}")
    ctx.tracer.dump(stem + "-driver.json")
    kernel_tracer.dump(stem + "-kernel.json")
    return m


UNITS = {
    "warc.parse_s": "s", "warc.records": "count", "warc.bytes_in": "bytes",
    "scan.files_total": "count", "scan.files_read": "count", "scan.s": "s",
    "kernel.docs_per_s_1core": "docs/s", "kernel.s": "s", "kernel.self_s": "s",
    "htmlx.s": "s", "htmlx.blocks_kept": "count", "htmlx.blocks_dropped": "count",
    "pdfstream.s": "s", "pdfstream.pages": "count",
    "assembly.s": "s", "assembly.words": "count",
    "extract.noop_s": "s", "extract.parallel_eff": "ratio",
    "commit.wall_s": "s", "commit.overhead_s": "s", "commit.self_s": "s",
    "commit.log_read_s": "s", "commit.files_written": "count",
    "commit.bytes_written": "bytes", "commit.lineage_rows": "count",
    "commit.resume_noop_s": "s",
    "lookup.s": "s", "lookup.files_listed": "count", "lookup.rows_returned": "count",
    "env.steal_frac": "ratio", "trace.overhead_frac": "ratio",
    "env.peak_rss_mb": "MB", "op.p50_ms": "ms", "op.tail_ms": "ms",
    "op.tail_pct": "%", "op.samples": "count", "op.docs_per_s": "docs/s",
}


if __name__ == "__main__":
    sys.exit(main())
