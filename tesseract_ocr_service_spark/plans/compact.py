"""Small-file compaction for parquet datasets.

A long-running extraction pipeline (daily dynamic-overwrite commits,
`plans/commit.py`) accretes many small files per partition — the #1
operational tax on a 100-TB lake: every downstream scan pays one task
+ one FS open per file, and the namenode/listing cost grows without
bound. This plan rewrites a dataset to ~``target_bytes`` files while
PRESERVING the partition layout, so readers' partition pruning is
untouched.

Shape (Spark-first, scales to any partition count):

- per-partition byte sizes come from ONE recursive FS listing (at real
  lake scale the table format's metadata — Iceberg manifests — serves
  this; the FS walk is the filesystem-parquet stand-in, same as
  plans/commit.py's marker protocol).
- files-per-partition ``k_i = ceil(bytes_i / target)`` rides a TINY
  (one row per partition) DataFrame broadcast-joined onto the data —
  never a per-partition literal `when` chain (unbounded plan at 10^5
  partitions) and never a driver loop over partitions (one job per
  partition = one scheduler round-trip per directory).
- each row gets ``salt = pmod(xxhash64(id), k_i)``; repartitioning by
  (partition cols, salt) spreads a partition's rows over ~k_i output
  tasks, so `partitionBy` emits ~k_i files of ~target size per
  partition directory. AQE partition coalescing is disabled for this
  one write (it would re-merge the deliberately-sized slices into one
  oversized file — the opposite of the job's purpose) and the shuffle
  partition count is over-provisioned to 2x the target file count so
  hash collisions between (partition, salt) slices stay rare; file
  counts are therefore approximate-by-design, like any size-targeted
  compactor.
- rows are deterministically placed (salt is a pure function of the id
  column), so a crashed-and-retried compaction produces byte-stable
  file contents; the write goes to a NEW root (swap is the caller's
  atomic rename/metastore repoint) — compaction must never destroy
  the only copy in place.

A compacted root carries no url index: compaction reads the dataset
through Spark, which never lists ``extracted/_urls`` (plans/commit.py),
so ``operators.extract.lookup_spans`` on it falls back to the full,
schema-inferred read.

Reference parity: the reference service has no storage layer (it
returns extraction results over HTTP, `ocr/main.py`); compaction is
part of the batch engine's own sink contract (SURVEY.md §2 S8/S10
store operators at lake scale).
"""

from __future__ import annotations

import math
import posixpath
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _root_key(p: str) -> tuple[str, str]:
    """(scheme+authority, normalized path) for nesting comparison.
    Relative local paths normalize the same way on both sides, so
    equality/prefix checks stay meaningful without touching the FS."""
    u = urlparse(p)
    path = u.path if u.scheme else p
    return (
        f"{u.scheme}://{u.netloc}" if u.scheme else "",
        posixpath.normpath(path).rstrip("/"),
    )


def _qualified_root_key(spark: SparkSession, p: str) -> tuple[str, str]:
    """_root_key over the Hadoop-QUALIFIED path: makeQualified resolves
    relative paths (against the FS working dir), fills in the default
    scheme/authority, and normalizes separators — so '/data/x' and
    'file:/data/x' (or 'hdfs:///a' and 'hdfs://namenode/a') compare
    EQUAL instead of bypassing the guard at the scheme early-exit.
    Falls back to the raw-string key when the scheme has no loadable
    Hadoop FS (the write itself would fail on such a root anyway)."""
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        hp = jvm.org.apache.hadoop.fs.Path(p)
        q = hp.getFileSystem(conf).makeQualified(hp).toUri()
        return (
            f"{(q.getScheme() or '').lower()}://{q.getAuthority() or ''}",
            posixpath.normpath(q.getPath() or "/").rstrip("/"),
        )
    except Exception:
        return _root_key(p)


def _check_disjoint_roots(
    in_root: str, out_root: str, spark: SparkSession | None = None
) -> None:
    """compact() writes out_root with mode('overwrite') and must never
    destroy the only copy: refuse when out_root equals, contains, or is
    nested under in_root. Spark's read-path overwrite check does not
    reliably catch a NESTED out_root (the scan lists in_root before the
    write, then the overwrite both corrupts the source and poisons the
    next listing). Roots are Hadoop-qualified first (when a session is
    given) so equivalent spellings — scheme-qualified vs bare, relative
    vs absolute, default-FS vs explicit authority — cannot slip past
    the comparison."""
    if spark is not None:
        (s_in, p_in) = _qualified_root_key(spark, in_root)
        (s_out, p_out) = _qualified_root_key(spark, out_root)
    else:
        (s_in, p_in), (s_out, p_out) = _root_key(in_root), _root_key(out_root)
    if s_in != s_out:
        return
    if p_in == p_out or p_out.startswith(p_in + "/") or p_in.startswith(
        p_out + "/"
    ):
        raise ValueError(
            f"compaction out_root {out_root!r} overlaps in_root "
            f"{in_root!r}: the overwrite would destroy the only copy. "
            "Write to a disjoint root and swap atomically."
        )


@dataclass(frozen=True)
class CompactionLayout:
    """Planned output layout (telemetry; returned, also printed by the
    CLI): current vs target file counts and bytes."""

    n_partitions: int
    n_files_in: int
    bytes_in: int
    n_files_target: int


def hidden_rel_path(rel: str) -> bool:
    """True when any SEGMENT of the relative path is hidden/marker
    (leading '_' or '.'): crashed-write leftovers like
    _temporary/.../part-*.parquet carry plain FILE names under a
    hidden DIRECTORY, so a file-name-only check misses them. Shared by
    the compaction listing and streaming.ingest's schema probe — one
    definition of 'not data'."""
    return any(s.startswith(("_", ".")) for s in rel.split("/"))


def _list_leaf_files(spark: SparkSession, root: str):
    """(dir_relpath, bytes) for every data file under root — one
    recursive listing via the Hadoop FS API (no per-partition calls)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(conf)
    base = fs.getFileStatus(path).getPath().toUri().getPath()
    it = fs.listFiles(path, True)
    out = []
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        # skip hidden/marker SEGMENTS anywhere in the relative path,
        # not just the file name: leftovers from a crashed write (e.g.
        # _temporary/.../day=X/part-*.parquet) live under a hidden
        # DIRECTORY with a plain file name — counting them would
        # inflate bytes_in/k or raise a spurious layout ValueError for
        # data spark.read.parquet will never scan.
        relfile = p.toUri().getPath()[len(base):].strip("/")
        if hidden_rel_path(relfile):
            continue  # markers / hidden metadata, not data
        segs = relfile.split("/")
        rel = "/".join(segs[:-1])
        out.append((rel, int(st.getLen())))
    return out


#: hive's directory name for a NULL partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_values(rel: str) -> dict[str, str | None]:
    """hive-style dir path 'a=1/b=x%20y' -> {'a': '1', 'b': 'x y'},
    in DIRECTORY ORDER (dicts preserve insertion order — the layout
    nesting must survive the rewrite). Percent-escapes are decoded and
    the hive NULL sentinel maps to None so the join below can be
    null-safe."""
    from urllib.parse import unquote

    vals: dict[str, str | None] = {}
    for seg in rel.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[k] = None if v == _HIVE_NULL else unquote(v)
    return vals


def plan_compaction(
    spark: SparkSession,
    in_root: str,
    target_bytes: int = 512 * 1024 * 1024,
) -> tuple[DataFrame, CompactionLayout]:
    """Per-partition target file counts as a tiny broadcastable
    DataFrame ``(partition cols..., k)`` plus layout telemetry."""
    files = _list_leaf_files(spark, in_root)
    sizes: dict[str, int] = {}
    counts: dict[str, int] = {}
    for rel, n in files:
        sizes[rel] = sizes.get(rel, 0) + n
        counts[rel] = counts.get(rel, 0) + 1
    parsed = {rel: _partition_values(rel) for rel in sizes}
    # partition-column order = DIRECTORY order (year=/month= must not
    # come back month=/year= after the rewrite); every leaf dir must
    # agree — a stray data file at another depth/layout would silently
    # get the wrong k, so refuse loudly instead
    layouts = {tuple(v) for v in parsed.values()}
    if len(layouts) > 1:
        a, b = sorted(layouts, key=len)[:2]
        raise ValueError(
            f"inconsistent partition layout under {in_root}: "
            f"{list(a) or '(root)'} vs {list(b) or '(root)'}"
        )
    pcols: list[str] = list(next(iter(layouts))) if layouts else []
    rows = []
    for rel, b in sorted(sizes.items()):
        vals = parsed[rel]
        k = max(1, math.ceil(b / target_bytes))
        rows.append((*[vals[c] for c in pcols], k))
    layout = CompactionLayout(
        n_partitions=len(sizes),
        n_files_in=sum(counts.values()),
        bytes_in=sum(sizes.values()),
        n_files_target=sum(r[-1] for r in rows),
    )
    schema = ", ".join([f"`{c}` string" for c in pcols] + ["k int"])
    plan = spark.createDataFrame(rows or [(1,)], schema)
    return plan, layout


def _with_plan(df: DataFrame, plan: DataFrame, pcols: list[str]):
    """Broadcast-join the per-partition k table onto the data. The
    plan carries DIRECTORY strings while the scan reads partition
    values back TYPED (month=01 dirs become int 1), so the join casts
    the plan's string to the data column's own type — comparing
    re-stringified data ('1') to raw dir tokens ('01') would silently
    miss and collapse the partition to one file. eqNullSafe covers the
    hive NULL partition."""
    keys = [
        df[c].eqNullSafe(plan[c].cast(df.schema[c].dataType))
        for c in pcols
    ]
    return df.join(F.broadcast(plan), keys, "left").drop(
        *[plan[c] for c in pcols]
    )


def compact(
    spark: SparkSession,
    in_root: str,
    out_root: str,
    id_col: str,
    target_bytes: int = 512 * 1024 * 1024,
    sort_within: list[str] | None = None,
) -> CompactionLayout:
    """Rewrite ``in_root`` under ``out_root`` at ~target_bytes files
    per partition, preserving the hive partition layout. ``sort_within``
    orders rows inside each output file (clustering for downstream
    range scans + better column encodings)."""
    _check_disjoint_roots(in_root, out_root, spark)
    plan, layout = plan_compaction(spark, in_root, target_bytes)
    df = spark.read.parquet(in_root)
    pcols = [c for c in plan.columns if c != "k"]
    writer_opts = {"compression": "zstd"}
    if not pcols:
        k = int(plan.agg(F.max("k")).first()[0] or 1)
        out = df.repartition(k, F.pmod(F.xxhash64(id_col), F.lit(k)))
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        out.write.mode("overwrite").options(**writer_opts).parquet(
            out_root
        )
        return layout
    joined = _with_plan(df, plan, pcols)
    salted = joined.withColumn(
        "_salt",
        F.pmod(F.xxhash64(id_col), F.coalesce(F.col("k"), F.lit(1))),
    ).drop("k")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_coalesce = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true"
    )
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(int(prev_shuffle), 2 * layout.n_files_target)),
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        out = salted.repartition(*pcols, "_salt").drop("_salt")
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        (
            out.write.mode("overwrite")
            .options(**writer_opts)
            .partitionBy(*pcols)
            .parquet(out_root)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce
        )
    return layout
