"""Deduplication operators for web-scale training-data pipelines.

All variants are pure DataFrame plans (shuffle-conscious, no Python in
the hot path):

- exact:        hash-groupBy on a normalized-text fingerprint. One
                shuffle on the digest; map-side partial agg applies.
- minhash+LSH:  shingle -> K minhashes -> B bands; docs sharing a band
                bucket are candidate near-dups (classic MRS ch.3
                banding). Joins happen per-band on the band digest —
                each is a narrow equi-join on a short string key.
- simhash:      64-bit token-vote hash; near-dups collide in >= one of
                4 16-bit bands (hamming <= 3 within 64 bits is caught
                by banding w.h.p.); verify by popcount on candidates.
- n-gram jaccard: exact verification join over distinct shingles with a
                hot-shingle cap (drop shingles shared by > cap docs —
                stopword-like shingles otherwise quadratically explode
                the candidate space at 10^12 docs).
- embedding cosine: near-dup by cosine >= threshold within sign-LSH
                buckets (see operators/similarity.py for the LSH).

Scale notes: every join key here is a digest/bucket id, so AQE's skew
join splitting handles pathological buckets; the hot-shingle cap bounds
worst-case candidate fan-out.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textstats as T

log = logging.getLogger(__name__)


#: byte budget for broadcasting checkpointed/stat-less small frames,
#: as rows of the (long, long) id pair most of them are: 1M rows x 16 B
#: (~tens of MB hashed — comfortably inside any executor). A frame is
#: measured at Spark's per-type default sizes, so frames keyed by
#: strings (20 B per id) broadcast fewer rows.
_BCAST_ROWS_CAP = 1_000_000
_BCAST_ROW_BYTES = 16


def _bcast_fits(df: DataFrame, rows: int | None) -> bool:
    """True when ``rows`` rows of ``df``'s schema fit the broadcast
    byte budget (``rows`` None = unknown = never)."""
    if rows is None:
        return False
    row_bytes = df._jdf.schema().defaultSize()  # sum of field defaults
    return rows * row_bytes <= _BCAST_ROWS_CAP * _BCAST_ROW_BYTES


def _bcast_if_small(df: DataFrame, rows: int | None) -> DataFrame:
    """Broadcast hint for a checkpointed (LogicalRDD) frame with a
    KNOWN small row count. Checkpointed frames carry no stats (the
    Long.MaxValue default), so neither the static planner nor AQE ever
    broadcasts them — a 1k-row labels/losers table then forces a full
    shuffle + sort of the corpus-sized side of its join (observed:
    SortMergeJoin of 50k vertices against 1.1k checkpointed labels).
    ``rows`` must be an ALREADY-KNOWN count (the caller materialized
    the frame — counting here would add an eager consumer); None, or
    a count over the byte budget (:func:`_bcast_fits`), keeps the
    shuffled join (the scale-safe default)."""
    return F.broadcast(df) if _bcast_fits(df, rows) else df


def _truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut an iterative plan's lineage. If the session has a RELIABLE
    checkpoint dir configured (``spark.sparkContext.setCheckpointDir``)
    use ``.checkpoint()`` — blocks live in fault-tolerant storage, so a
    lost executor mid-iteration recovers instead of killing the job.
    Otherwise fall back to ``localCheckpoint`` (executor-local blocks:
    fine on local[n]/tests, NOT for thousand-executor clusters — set a
    checkpoint dir there)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cap_buckets(
    rows: DataFrame,
    key_cols: list[str],
    cap: int,
    op: str,
    log_drops: bool = False,
) -> DataFrame:
    """Degenerate-bucket guard shared by every LSH-style self-join
    (same discipline as ngram_jaccard_pairs's hot_shingle_cap): drop
    ALL rows of buckets holding > ``cap`` members before the
    within-bucket self-join. A bucket of m rows costs m^2/2 candidate
    pairs — one degenerate corpus (10k identical texts/vectors) makes
    one bucket quadratic, and AQE skew-split only shares that work, it
    doesn't bound it.

    No silent caps: ``log_drops=True`` runs ONE extra count aggregate
    and logs how many buckets/rows were dropped (an eager driver
    action, so operators default it off; bench/telemetry paths turn it
    on and report the numbers). Recall note: members of a capped
    bucket can still pair through their OTHER bands; a corpus that is
    degenerate in every band (all-identical docs) should be
    exact-deduped first — that's the documented pipeline order.

    Plan shape: a window count over ``key_cols``, NOT a groupBy +
    left_anti — the anti-join form makes the counts side a SECOND
    consumer of the (expensive) upstream plan, and there is no
    ReusedExchange under AQE here (CLAUDE.md), so e.g. simhash_pairs'
    full tokenize+64-bit-sum stage ran 4x per action. The window's
    shuffle lands on the exact keys the downstream bucket groupBy /
    self-join needs, so it adds no exchange of its own. NULL-keyed
    rows can now be window-capped where the anti-join always kept
    them — identical pair output either way, since NULL keys never
    match a bucket equi-join.
    """
    if log_drops:
        s = (
            rows.groupBy(*key_cols)
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > cap)
            .agg(F.count("*").alias("nb"), F.sum("_n").alias("nr"))
            .collect()[0]
        )
        if s["nb"]:
            log.warning(
                "%s: capped %d bucket(s) with > %d members "
                "(%d candidate rows dropped)",
                op,
                s["nb"],
                cap,
                s["nr"],
            )
    w = Window.partitionBy(*key_cols)
    return (
        rows.withColumn("_bucket_n", F.count("*").over(w))
        .where(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )


def bucket_cap_stats(
    rows: DataFrame, key_cols: list[str], cap: int
) -> dict[str, int]:
    """Telemetry for a prospective cap: {n_buckets, n_capped_buckets,
    n_dropped_rows, max_bucket} — ONE aggregate job; bench reports
    these alongside candidate-pair counts so capped coverage is
    visible, never silent."""
    row = (
        rows.groupBy(*key_cols)
        .agg(F.count("*").alias("_n"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(F.col("_n") > cap, 1).otherwise(0)).alias(
                "n_capped_buckets"
            ),
            F.sum(F.when(F.col("_n") > cap, F.col("_n")).otherwise(0)).alias(
                "n_dropped_rows"
            ),
            F.max("_n").alias("max_bucket"),
        )
        .collect()[0]
    )
    return {k: int(row[k] or 0) for k in row.asDict()}


def exact_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_group: int = 2,
) -> DataFrame:
    """Exact near-identity (normalized) duplicate groups.
    -> (fingerprint, n_dups, keeper, member_ids) for groups of
    >= min_group members (1 = every fingerprint, for oracle checks)."""
    fp = T.fingerprint_md5(F.col(text_col)).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("n_dups") >= min_group)
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one representative (min id) per normalized-text group."""
    w = F.row_number().over(
        Window.partitionBy(T.fingerprint_md5(F.col(text_col))).orderBy(
            F.col(id_col)
        )
    )
    return df.withColumn("_rn", w).where(F.col("_rn") == 1).drop("_rn")


# ----------------------------------------------------------- shingles


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingle array over normalized text; docs
    shorter than n words get their whole text as one shingle. NULL text
    behaves like '' (one empty shingle) — same rule as shingle_rows."""
    toks = T.tokens(T.normalized(F.coalesce(text_col, F.lit(""))))
    cnt = F.size(toks)
    return F.array_distinct(
        F.when(
            cnt >= n,
            F.transform(
                F.sequence(F.lit(0), cnt - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
    impl: str = "auto",
) -> DataFrame:
    """Word n-gram shingles as ROWS: (id, shingle), the corpus-scale
    twin of :func:`word_shingles`.

    impl='auto' (default, round 6): 'pandas' when the source is big
    enough to amortize an Arrow stage (>= 4 MB, same size-adaptive
    rule as queries._par), else 'window'. impl='pandas': tokenization
    stays a JVM
    expression (normalize + split — charset/locale semantics identical
    to every other consumer of T.tokens), and ONLY the adjacent-token
    join runs in an Arrow batch (guide §4.2: hand whole batches to
    native code): per batch one python pass builds every shingle by
    slicing the already-tokenized lists — byte-identical strings, since
    joining JVM-produced tokens with ' ' is charset-neutral. This
    removes the lead()-window's exchange + sort of the full token
    stream AND (for distinct=True) the (id, shingle) dedup shuffle —
    per-doc sets fold into the same pass, exactly equivalent because
    duplicate shingles only exist within a document. Measured: the
    minhash signature stage 4.5 s -> 2.5 s at sf1.0, hash-identical.

    impl='window' keeps the previous pure-plan shape (explode +
    codegen'd lead window; the union small-doc branch): tokens with
    positions -> shingle_i = tok_i..tok_{i+n-1} via lead(); useful when
    a zero-Python plan is required. Both impls: docs shorter than n
    tokens contribute their whole text as one shingle (matching
    word_shingles, including '' for empty/NULL text).

    Set distinct=False when the consumer is min-aggregation (min over a
    multiset equals min over the set — skips the per-doc set build /
    dedup shuffle).
    """
    # NULL text must behave like '' (one empty shingle), not vanish:
    # under ANSI NULL semantics both ntok<n and ntok>=n filters are NULL
    # for NULL text and the document would silently drop out.
    norm = T.normalized(F.coalesce(F.col(text_col), F.lit("")))
    toks_arr = T.tokens(norm)
    if impl == "auto":
        # size-adaptive (same rule/threshold as queries._par): the
        # Arrow pass pays a fixed JVM<->Python round-trip per stage
        # (~0.3 s) that only amortizes once the source is more than a
        # few MB; tiny/oracle corpora keep the pure-plan window shape.
        from .queries import _input_bytes

        impl = "pandas" if _input_bytes(df) >= 4 * 1024 * 1024 else "window"
    if impl == "pandas":
        import pandas as pd

        id_ddl = df.schema[id_col].dataType.simpleString()
        base = df.select(F.col(id_col).alias("id"), toks_arr.alias("toks"))

        def _build(batches):
            for b in batches:
                ids: list = []
                outs: list = []
                for i, toks in zip(b["id"], b["toks"]):
                    toks = list(toks)
                    if len(toks) >= n:
                        sh = [
                            " ".join(toks[j : j + n])
                            for j in range(len(toks) - n + 1)
                        ]
                        if distinct:
                            sh = list(dict.fromkeys(sh))
                    else:
                        sh = [" ".join(toks)]
                    ids.extend([i] * len(sh))
                    outs.extend(sh)
                yield pd.DataFrame({"id": ids, "shingle": outs})

        # one wave of maximal tasks (shuffle-free; no-op when the
        # input is not over-spread) — Arrow stages carry fixed
        # per-task setup, and a second wave measured 0.2-0.35 s
        # slower per stage at the 50k tier (same rule as the
        # signature stage)
        base = base.coalesce(
            df.sparkSession.sparkContext.defaultParallelism
        )
        return base.mapInPandas(_build, schema=f"id {id_ddl}, shingle string")
    if impl != "window":
        raise ValueError(f"unknown shingle impl {impl!r}")
    base = df.select(
        F.col(id_col).alias("id"),
        toks_arr.alias("toks"),
        F.size(toks_arr).alias("ntok"),
    )
    small = base.where(F.col("ntok") < n).select(
        "id", F.array_join("toks", " ").alias("shingle")
    )
    pos_toks = (
        base.where(F.col("ntok") >= n)
        .select("id", F.posexplode("toks").alias("pos", "tok"))
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("tok")] + [
        F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, n)
    ]
    big = (
        pos_toks.select("id", *leads)
        .where(F.col(f"t{n-1}").isNotNull())
        .select(
            "id",
            F.concat_ws(
                " ", "tok", *[f"t{j}" for j in range(1, n)]
            ).alias("shingle"),
        )
    )
    out = big.unionByName(small)
    return out.dropDuplicates(["id", "shingle"]) if distinct else out


def _jaccard_pairs_blocked(
    per_doc: DataFrame, n: int, id_ddl: str, threshold: float, n_blocks: int
) -> DataFrame:
    """Exact all-pairs shingle-Jaccard >= threshold, as a blocked
    self-comparison: docs hash into ``n_blocks`` deterministic blocks
    (retry-safe, guide §2.5); one Arrow task per unordered block pair
    enumerates every shingle co-occurrence between its two blocks in
    numpy (the same candidate multiset the shingle self-join emits,
    Σ_g occ_i(g)·occ_j(g) rows in C instead of a corpus-wide shuffle),
    counts pairs with a sort + run-length pass, and applies the rounded
    threshold INSIDE the task — only surviving pairs (plus their
    exactly-replicated ``round(j, 4)`` value, similarity._round4_spark
    semantics) ever reach Spark. This removes the two heaviest
    operators of the join shape at sf1.0: the ~127M-candidate-row
    exchange and the ~114M-group hash aggregate (the measured 13 s
    floor). ``per_doc`` carries (id, _tk): the JVM-tokenized token
    array — 3x fewer replicated bytes than the shingle set, and no
    collect_set shuffle; each task builds its docs' DISTINCT shingle
    sets with the same adjacent-token join as shingle_rows' pandas
    impl (byte-identical strings — joining JVM tokens with ' ' is
    charset-neutral), short docs contributing their whole text as one
    shingle."""
    from .similarity import _round4_ge_boundary, _round4_spark

    bound = _round4_ge_boundary(threshold)
    B = n_blocks

    def _task(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype=object), "id_b": pd.Series(dtype=object),
             "jaccard": pd.Series(dtype=np.float64)}
        )
        if len(pdf) == 0:
            return empty
        ti = int(pdf["_ti"].iloc[0])
        tj = int(pdf["_tj"].iloc[0])
        ids = pdf["id"].to_numpy()
        flat: list = []
        lens = np.empty(len(ids), np.int64)
        for k, toks in enumerate(pdf["_tk"]):
            toks = list(toks)
            if len(toks) >= n:
                ss = dict.fromkeys(
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                )
                flat.extend(ss)
                lens[k] = len(ss)
            else:
                flat.append(" ".join(toks))
                lens[k] = 1
        codes, _ = pd.factorize(np.asarray(flat, dtype=object))
        row_doc = np.repeat(np.arange(len(ids)), lens)
        blk = pdf["_b"].to_numpy()
        if ti == tj:
            lm = rm = slice(None)
        else:
            row_blk = np.repeat(blk, lens)
            lm, rm = row_blk == ti, row_blk == tj
        dl, cl = row_doc[lm], codes[lm]
        dr, cr = row_doc[rm], codes[rm]
        if len(dl) == 0 or len(dr) == 0:
            return empty
        ol = np.argsort(cl, kind="stable")
        dl, cl = dl[ol], cl[ol]
        orr = np.argsort(cr, kind="stable")
        dr, cr = dr[orr], cr[orr]
        s = np.searchsorted(cr, cl, side="left")
        e = np.searchsorted(cr, cl, side="right")
        ln = e - s
        tot = int(ln.sum())
        if tot == 0:
            return empty
        offs = np.zeros(len(ln) + 1, np.int64)
        np.cumsum(ln, out=offs[1:])
        idx = np.arange(tot, dtype=np.int64) - np.repeat(offs[:-1], ln) + np.repeat(s, ln)
        L = np.repeat(dl, ln)
        R = dr[idx]
        key = L * np.int64(len(ids)) + R
        uk, inter = np.unique(key, return_counts=True)
        L, R = uk // len(ids), uk % len(ids)
        if ti == tj:
            # diagonal task: each unordered pair was emitted both ways
            keep = L < R  # local ordinals; dedup only, order fixed below
            L, R, inter = L[keep], R[keep], inter[keep]
            if len(L) == 0:
                return empty
        q = inter.astype(np.float64) / (lens[L] + lens[R] - inter).astype(np.float64)
        m = q >= bound
        if not m.any():
            return empty
        ia, ib, q = ids[L[m]], ids[R[m]], q[m]
        swap = ib < ia
        ia2 = np.where(swap, ib, ia)
        ib2 = np.where(swap, ia, ib)
        return pd.DataFrame(
            {"id_a": ia2, "id_b": ib2,
             "jaccard": np.array([_round4_spark(v) for v in q], np.float64)}
        )

    fan = (
        per_doc.select(
            "id",
            "_tk",
            F.pmod(F.xxhash64("id"), F.lit(B)).cast("int").alias("_b"),
        )
        .select(
            "id",
            "_tk",
            "_b",
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("_p"),
        )
        .select(
            "id",
            "_tk",
            "_b",
            F.least("_b", "_p").alias("_ti"),
            F.greatest("_b", "_p").alias("_tj"),
        )
    )
    return fan.groupBy("_ti", "_tj").applyInPandas(
        _task, schema=f"id_a {id_ddl}, id_b {id_ddl}, jaccard double"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    hot_shingle_cap: int | None = 1000,
    pair_impl: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Plan: explode distinct shingles -> drop shingles hotter than
    `hot_shingle_cap` docs (quadratic-blowup guard; None = exact mode,
    no filter — takes a cheaper plan shape, see below) -> self-join on
    the shingle -> per-pair intersection count -> |A∪B| = |A|+|B|-|A∩B|.
    -> (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded 4.

    The hot-shingle drop is a window count over the shingle (one pass,
    shuffled on the key the self-join needs anyway), not a counts
    anti-join that would make the shingle explode a 4th consumer of
    itself; pair counting stays a streaming sort-merge self-join —
    shingles are non-null by construction (token concat), so the
    window form drops exactly what the anti-join did.
    """
    if hot_shingle_cap is None:
        # EXACT mode (the oracle-checked query): no hot-shingle filter,
        # so the `_df <= cap` window would be a tautology — skip it
        # (2 exchanges + sorts of the full shingle stream, per join
        # side) and fuse the (id, shingle) distinct + per-doc size into
        # ONE collect_set aggregate keyed on id, which rides the id
        # partitioning shingle_rows' lead-window already established
        # (the dropDuplicates + size-window form paid two more
        # exchanges because the short-doc union branch breaks the
        # window's partitioning). The result is then EAGERLY
        # lineage-truncated: the self-join consumes it twice, and with
        # no ReusedExchange under AQE each lazy consumer re-ran the
        # whole tokenize+explode+lead pipeline (CLAUDE.md rule) — the
        # checkpoint also gives the planner REAL size stats, which
        # stops AQE broadcast-hashing a multi-million-row shingle
        # table (observed at sf1.0: the whole 2.6M-row side was
        # broadcast on string-column size estimates).
        # Checkpoint the per-doc shingle SETS (50k compact array rows),
        # explode per consumer: the self-join sides then carry ONLY
        # (id, shingle) — the per-doc size does NOT ride the
        # candidate fan-out (16 fewer bytes on every one of the ~127M
        # candidate rows at sf1.0) and is instead broadcast-joined onto
        # the aggregated pair table from the same checkpoint.
        if pair_impl == "auto":
            # same size-adaptive rule as queries._par / shingle impl:
            # the blocked shape pays a B× replication of the compact
            # per-doc sets, which only amortizes once the join shape's
            # candidate explosion is the dominant cost.
            from .queries import _input_bytes

            pair_impl = (
                "blocked"
                if _input_bytes(df) >= 4 * 1024 * 1024
                else "join"
            )
        if pair_impl == "blocked":
            import math

            from .queries import _input_bytes

            par = df.sparkSession.sparkContext.defaultParallelism
            # replication bytes scale with B (every doc ships to B
            # tasks), so the SMALLEST B that still fills the cluster
            # wins: ~1.5-2 waves of block-pair tasks (B(B+1)/2 ≈
            # 3·par). Measured at 50k docs on local[32]: B=10 3.83 s
            # vs B=14 4.1-4.6 s vs B=28 4.3-4.8 s — each step up pays
            # more replication than the smoother scheduling buys. The
            # size term still dominates at scale: blocks no bigger
            # than ~16 MB of source text keeps the per-task candidate
            # count (Σ_g occ_i·occ_j ≈ block_rows² / vocab) FLAT as
            # the corpus grows — B ∝ N bounds every task while the
            # task count absorbs the quadratic total.
            B = max(
                math.ceil(math.sqrt(3 * par)),
                math.ceil(_input_bytes(df) / (16 * 1024 * 1024)),
            )
            B = min(B, 256)
            toks = df.select(
                F.col(id_col).alias("id"),
                T.tokens(
                    T.normalized(F.coalesce(F.col(text_col), F.lit("")))
                ).alias("_tk"),
            )
            id_ddl = df.schema[id_col].dataType.simpleString()
            return _jaccard_pairs_blocked(toks, n, id_ddl, threshold, B)
        if pair_impl != "join":
            raise ValueError(f"unknown pair_impl {pair_impl!r}")
        sh = shingle_rows(df, id_col, text_col, n, distinct=False)
        per_doc = _truncate_lineage(
            sh.groupBy("id").agg(F.collect_set("shingle").alias("_ss"))
        )
        sizes = per_doc.select(
            "id", F.size("_ss").cast("bigint").alias("sz")
        )
        rows = per_doc.select("id", F.explode("_ss").alias("shingle"))
        a, b = rows.alias("a"), rows.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .agg(F.count("*").alias("inter"))
        )
        sa = F.broadcast(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
        )
        sb = F.broadcast(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
        )
        return (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                    4,
                ),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    else:
        sh = shingle_rows(df, id_col, text_col, n, distinct=True)
        # sizes over the SAME filtered shingle space as the
        # intersections — mixing unfiltered |A| with filtered |A∩B|
        # would systematically underestimate jaccard whenever the cap
        # is active. The size is a second window count CARRIED THROUGH
        # the self-join (constant per id, so first() per pair recovers
        # it) rather than a separate sizes table joined twice: the
        # shingle pipeline (tokenize + explode + lead-window) is the
        # expensive stage, and each extra consumer re-evaluates it.
        cool = (
            sh.withColumn(
                "_df",
                F.count("*").over(Window.partitionBy("shingle")),
            )
            .where(F.col("_df") <= hot_shingle_cap)
            .withColumn("sz", F.count("*").over(Window.partitionBy("id")))
            .select("id", "shingle", "sz")
        )
    a = cool.alias("a")
    b = cool.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count("*").alias("inter"),
            F.first(F.col("a.sz")).alias("sz_a"),
            F.first(F.col("b.sz")).alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 2,
    scope_col: str | None = None,
) -> DataFrame:
    """Corpus-level line/paragraph dedup (the C4-style pass published
    training corpora run after document dedup): split each document on
    ``sep``, drop EVERY occurrence of a segment that occurs >=
    ``min_df`` times across the corpus (boilerplate lines, repeated
    navigation, licence blocks), and reassemble the survivors in
    original order. -> (id, text_dedup, n_lines_kept, n_lines_dropped);
    documents whose every line is dropped stay present with ''.
    ``sep`` is a LITERAL separator (regex-escaped for the split side —
    F.split takes a pattern; sep='.' or '|' must not split everywhere)
    and is used verbatim to rejoin survivors.

    ``scope_col`` narrows the frequency count to a grouping key —
    scope_col='host' is the RefinedWeb/CCNet per-SITE boilerplate rule:
    a line repeated across one host's pages is template chrome and is
    removed even when globally rare, while a line that is globally
    common but unique within each host (a licence sentence quoted once
    per site) survives. At web scale the scoped window is also the
    SAFER shuffle: hot global lines ('Home', '') are split across
    hosts instead of landing on one task.

    Plan shape: explode is narrow; the corpus-wide occurrence count is
    ONE window over the line (the unavoidable global-frequency shuffle
    of any line-dedup), and the reassembly groupBy(id) is the second —
    no join of the line table back to itself, no second scan of the
    source. collect_list skips the NULL entries the keep-filter
    produces, so counting and reassembly ride one aggregation."""
    import re as _re

    lines = df.select(
        F.col(id_col).alias("id"),
        *([F.col(scope_col)] if scope_col else []),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("pos", "line"),
    )
    occ_keys = ([scope_col] if scope_col else []) + ["line"]
    occ = lines.withColumn(
        "_occ", F.count("*").over(Window.partitionBy(*occ_keys))
    )
    keep = F.col("_occ") < min_df
    agg = occ.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.when(keep, F.struct("pos", "line")))
        ).alias("_keep"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias(
            "n_lines_kept"
        ),
        F.sum(F.when(keep, 0).otherwise(1)).cast("bigint").alias(
            "n_lines_dropped"
        ),
    )
    return agg.select(
        "id",
        F.array_join(
            F.transform("_keep", lambda s: s["line"]), sep
        ).alias("text_dedup"),
        "n_lines_kept",
        "n_lines_dropped",
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": remove
    every substring that appears verbatim more than once in the
    corpus, at token granularity): any k-token window of normalized
    text whose exact token sequence occurs >= ``min_df`` times
    corpus-wide (ALL occurrences counted — a phrase repeated inside
    one document duplicates itself) marks its k token positions as
    duplicated; duplicated tokens are removed and the survivors
    reassembled in original order.
    -> (id, text_dedup, n_tokens_kept, n_tokens_dropped); empty/NULL
    documents stay present with ''.

    Plan shape (1 scan, 3 exchanges — each one irreducible):
    posexplode tokens (narrow) -> per-doc lead() window builds the
    k-gram starting at each position [exchange 1: id] -> corpus-wide
    occurrence count is ONE window over the gram key [exchange 2:
    gram] -> covered(p) = max(dup-start flag) over the trailing k-1
    positions, then reassembly groupBy(id) shares the partitioning
    [exchange 3: id]. No self-join, no pair enumeration — a gram
    occurring a million times costs one window count, so there is no
    hot-key quadratic to cap (contrast ngram_jaccard_pairs).

    Tail positions (start > ntok-k) have no k-gram; they get a
    per-row unique sentinel key instead of NULL so the gram exchange
    never builds one giant NULL partition (a skew wall at 10^9 docs).
    ``min_df`` must be >= 2 (at 1 the sentinel rows self-match and
    everything drops). ``hashed=True`` keys the frequency window on
    xxhash64(gram) — 8-byte shuffle keys instead of whole phrases for
    the production path; identical decisions modulo 2^-64 collisions
    (the oracle-checked query uses raw grams).
    """
    if min_df < 2:
        raise ValueError("min_df must be >= 2 (see sentinel-key note)")
    norm = T.normalized(F.coalesce(F.col(text_col), F.lit("")))
    toks_arr = T.tokens(norm)
    base = df.select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
    # posexplode_outer: zero-token docs keep a (null, null) row so they
    # survive to the reassembly with '' instead of vanishing.
    pos_toks = base.select(
        "id", F.posexplode_outer("toks").alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("tok")] + [
        F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, k)
    ]
    grammed = pos_toks.select("id", "pos", "tok", *leads[1:])
    last = F.col(f"t{k-1}") if k > 1 else F.col("tok")
    gram = F.when(
        last.isNotNull(),
        F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, k)]),
    )
    # NULL-ness must be reasserted around the hash: Spark hash
    # functions SKIP null children and return the seed (xxhash64(NULL)
    # = 42), which would silently key every tail row to '42' — the
    # exact single-partition skew wall the sentinel exists to prevent.
    keyed = (
        F.when(gram.isNotNull(), F.xxhash64(gram).cast("string"))
        if hashed
        else gram
    )
    key = F.coalesce(
        keyed,
        # sentinel: unique per row, occ == 1, never a dup start
        F.concat_ws("\x00", F.lit("\x00"), F.col("id"), F.col("pos")),
    )
    occ = grammed.select(
        "id", "pos", "tok", gram.isNotNull().alias("_real"), key.alias("_key")
    ).withColumn("_occ", F.count("*").over(Window.partitionBy("_key")))
    dup_start = (F.col("_occ") >= min_df) & F.col("_real")
    covered = (
        F.max(dup_start.cast("int"))
        .over(w.rowsBetween(-(k - 1), 0))
        .alias("_cov")
    )
    marked = occ.select("id", "pos", "tok", covered)
    keep = (F.col("_cov") == 0) & F.col("tok").isNotNull()
    agg = marked.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.when(keep, F.struct("pos", "tok")))
        ).alias("_keep"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias(
            "n_tokens_kept"
        ),
        F.sum(
            F.when((F.col("_cov") == 1) & F.col("tok").isNotNull(), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_tokens_dropped"),
    )
    return agg.select(
        "id",
        F.array_join(
            F.transform("_keep", lambda s: s["tok"]), " "
        ).alias("text_dedup"),
        "n_tokens_kept",
        "n_tokens_dropped",
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination signal: for every corpus document, the
    count of DISTINCT word n-grams it shares with the benchmark/eval
    set (the standard training-data hygiene pass — published corpora
    drop documents overlapping eval benchmarks by long-n-gram
    collision). -> (id, n_hits), n_hits = 0 for clean docs.

    Scale shape: the benchmark side reduces to a distinct-shingle set
    and is BROADCAST (eval suites are ~10^5-10^6 docs against a 10^12
    corpus — the asymmetry is the point); the corpus-side shingle pass
    is the same codegen'd explode+lead shape as dedup, and the per-id
    hit count groups on the id-partitioning shingle_rows already
    produced, so the corpus is never shuffled by this operator."""
    # distinct=False skips a corpus-wide (id, shingle) dedup shuffle:
    # the per-id DISTINCT matched-shingle count in the aggregation
    # gives the same number, and the groupBy reuses shingle_rows' id
    # partitioning (no extra exchange on the corpus side).
    sc = shingle_rows(corpus, id_col, text_col, n, distinct=False)
    sb = (
        shingle_rows(benchmark, id_col, text_col, n, distinct=True)
        .select("shingle")
        .distinct()
    )
    hits = (
        sc.join(F.broadcast(sb), "shingle")
        .groupBy("id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias(
                "n_hits"
            ),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Drop corpus documents sharing >= ``min_hits`` distinct n-grams
    with the benchmark set; returns the surviving corpus rows."""
    bad = contamination_hits(corpus, benchmark, id_col, text_col, n).where(
        F.col("n_hits") >= min_hits
    )
    return corpus.join(
        bad, corpus[id_col] == bad["id"], "left_anti"
    )


# ------------------------------------------------------------ minhash


def minhash_signature(text_col, k: int = 16, n: int = 3):
    """K-wise minhash over n-gram shingles: component i = min over
    shingles of md5(i || ':' || shingle). md5 keeps the signature
    reproducible in any engine (oracle-checkable); mins over hex
    strings are order-isomorphic to mins over the underlying bits."""
    sh = word_shingles(text_col, n)

    def _mh(seed: int):
        # NOTE: a two-parameter lambda in F.transform means
        # (element, index) to Spark — the seed must close over a
        # single-parameter lambda, never ride as a default arg.
        return F.array_min(
            F.transform(
                sh,
                lambda s: F.md5(
                    F.encode(F.concat(F.lit(f"{seed}:"), s), "utf-8")
                ),
            )
        )

    return F.array(*[_mh(i).alias(f"mh{i}") for i in range(k)])


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n: int = 3,
    impl: str = "auto",
    carry: dict | None = None,
) -> DataFrame:
    """Scalable minhash: one pass over the corpus, K minima per doc.
    -> (id, *carry, sig: array<string> length K). ``carry`` maps
    output column name -> per-doc Column expression over ``df`` (e.g.
    the exact-dedup fingerprint): the pandas impl evaluates it JVM-side
    in the SAME projection and passes it through the Arrow stage —
    signature_table then needs no (id ⋈ id) join of two 50k-row
    consumers; the agg impl joins the carry projection back on id
    (its aggregate cannot pass columns through).

    impl='agg': explode shingles ONCE (the expression-only
    :func:`minhash_signature` recomputes the shingle array per
    component — Catalyst does not CSE across lambda functions), then K
    min-aggregates with map-side partial aggregation. Pure-plan, but
    pays K JVM md5 calls per shingle INSTANCE (~42M at sf1.0) plus the
    groupBy exchange.

    impl='pandas' (r6): the whole signature folds into the SAME Arrow
    stage that builds shingles — tokenization stays a JVM expression
    (identical normalize/split semantics), each task md5-hashes every
    DISTINCT shingle it sees once per seed (a per-task memo dict: a
    pure-function cache that dies with the task — repeated shingles
    across a task's docs stop paying K md5s each; on a huge-vocabulary
    corpus it degrades gracefully to the same md5 count the agg does)
    and takes the per-doc minima with a numpy byte-wise min (hex
    digests are ASCII, so bytes order == Spark's UTF8 string min, and
    hashlib.md5 produces the identical lowercase hex as Spark's md5
    over the identical UTF-8 encode of f'{seed}:{shingle}'). NO
    exchange at all — the source is already one row per doc. Measured
    3.1 s -> ~0.8 s for the signature stage at the 50k-doc tier,
    hash-identical.

    impl='auto' (default): 'pandas' when the source is big enough to
    amortize the Arrow stage (>= 4 MB, the shared size-adaptive rule),
    else 'agg'.
    """
    if impl == "auto":
        from .queries import _input_bytes

        impl = "pandas" if _input_bytes(df) >= 4 * 1024 * 1024 else "agg"
    carry = carry or {}
    if impl == "pandas":
        id_ddl = df.schema[id_col].dataType.simpleString()
        # Ship the NORMALIZED text (one string per doc), not the token
        # array: T.tokens is an interpreted higher-order filter over
        # every token (CLAUDE.md rule) and the array crosses Arrow as
        # millions of cells. After T.normalized (JVM-side — lowercase
        # stays locale-exact) the string is trimmed with single ASCII
        # spaces, so python str.split(" ") reproduces
        # tokens(normalized(x)) exactly (empty string -> no tokens).
        base = df.select(
            F.col(id_col).alias("id"),
            *[c.alias(name) for name, c in carry.items()],
            T.normalized(F.coalesce(F.col(text_col), F.lit(""))).alias(
                "_nt"
            ),
        )
        # ONE wave of maximal tasks: per-task cost has a fixed
        # memo-rebuild component (every task re-hashes the distinct
        # shingles IT sees — 16 md5s each), so 2x-parallelism spread
        # inputs pay ~2x the redundant hashing plus a second wave.
        # coalesce is shuffle-free (merges the spread partitions),
        # scale-adaptive via defaultParallelism, and a no-op when the
        # input already has that many partitions or fewer (NEVER probe
        # .rdd.getNumPartitions() here — materializing the RDD of an
        # AQE plan executes its upstream stages eagerly). Measured
        # 1.68 s -> 1.20 s for the signature stage at the 50k-doc tier.
        base = base.coalesce(
            df.sparkSession.sparkContext.defaultParallelism
        )
        carry_ddl = ", ".join(
            f"{name} {base.schema[name].dataType.simpleString()}"
            for name in carry
        )
        prefixes = [f"{i}:".encode() for i in range(k)]

        def _sigs(batches):
            import hashlib

            import pandas as pd

            memo: dict = {}
            md5 = hashlib.md5

            def _vec(s: str) -> list:
                v = memo.get(s)
                if v is None:
                    b = s.encode("utf-8")
                    # BINARY digests: hex is a byte-monotone rendering,
                    # so min over raw 16-byte digests == min over hex —
                    # only the K per-doc WINNERS pay .hex() (16/doc vs
                    # 16/distinct-shingle; hexdigest was ~25% of the
                    # stage's profiled python wall)
                    v = [md5(p + b).digest() for p in prefixes]
                    # bound worker memory on huge-vocabulary tasks
                    # (~200k entries ≈ 150 MB of digests); the
                    # degenerate small-vocab regime the memo targets
                    # never reaches the cap
                    if len(memo) >= 200_000:
                        memo.clear()
                    memo[s] = v
                return v

            for batch in batches:
                sigs: list = []
                for nt in batch["_nt"]:
                    toks = nt.split(" ") if nt else []
                    if len(toks) >= n:
                        ss = dict.fromkeys(
                            " ".join(toks[j : j + n])
                            for j in range(len(toks) - n + 1)
                        )
                    else:
                        ss = (" ".join(toks),)
                    vecs = [_vec(s) for s in ss]
                    mins = (
                        vecs[0]
                        if len(vecs) == 1
                        else [min(col) for col in zip(*vecs)]
                    )
                    sigs.append([m.hex() for m in mins])
                out = batch.drop(columns=["_nt"])
                out["sig"] = sigs
                yield out

        cols = f", {carry_ddl}" if carry_ddl else ""
        return base.mapInPandas(
            _sigs, schema=f"id {id_ddl}{cols}, sig array<string>"
        )
    if impl != "agg":
        raise ValueError(f"unknown minhash impl {impl!r}")
    # min over the shingle multiset == min over the set: distinct=False
    # saves the dedup shuffle. The window inside shingle_rows already
    # hash-partitions by id, which is exactly what the groupBy needs.
    sh = shingle_rows(df, id_col, text_col, n, distinct=False)
    aggs = [
        F.min(
            F.md5(F.encode(F.concat(F.lit(f"{i}:"), F.col("shingle")), "utf-8"))
        ).alias(f"mh{i}")
        for i in range(k)
    ]
    out = sh.groupBy("id").agg(*aggs)
    out = out.select(
        "id", F.array(*[F.col(f"mh{i}") for i in range(k)]).alias("sig")
    )
    if carry:
        proj = df.select(
            F.col(id_col).alias("id"),
            *[c.alias(name) for name, c in carry.items()],
        )
        out = proj.join(out, "id").select("id", *carry, "sig")
    return out


def sig_band_rows(
    sigs: DataFrame, k: int = 16, bands: int = 4, carry: tuple = ()
) -> DataFrame:
    """Explode an (id, sig) table into LSH band rows: (id, *carry,
    band, band_key) where band_key = md5 of the band's signature slice.
    Shared by the one-shot banding (:func:`minhash_lsh_candidates`)
    and the incremental store probe (operators/incremental.py) so both
    paths hash band keys identically. Computing band keys from a
    STORED signature costs 4 md5 calls per row — no re-shingling,
    which is the point of persisting signatures."""
    rows_per_band = k // bands
    return sigs.select(
        "id",
        *carry,
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.array_join(
                            F.slice(
                                F.col("sig"), b * rows_per_band + 1, rows_per_band
                            ),
                            "|",
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_est_jaccard(sig_a, sig_b, k: int):
    """Signature-agreement ratio (estimated jaccard), rounded 4dp —
    the ONE expression every verify path must share so incremental and
    one-shot dedup make bit-identical keep/drop decisions."""
    return F.round(
        F.size(
            F.filter(
                F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
                lambda z: z == 1,
            )
        )
        / F.lit(float(k)),
        4,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    sigs: DataFrame | None = None,
    max_bucket: int | None = 5000,
    log_drops: bool = False,
) -> DataFrame:
    """LSH banding: signature split into `bands` rows of k/bands; docs
    sharing any band digest are candidates.
    -> (band, band_key, n_docs, member_ids) buckets with >= 2 docs.

    ``sigs`` (id, sig) lets the caller reuse an already-computed
    signature DataFrame — the shingle/minhash pass is the expensive
    stage and must not run twice in a compose (dedup_corpus).

    ``max_bucket`` caps per-(band, band_key) membership BEFORE the
    collect_list (see :func:`cap_buckets`) — a degenerate corpus
    otherwise both blows the aggregation buffer (one array of N ids)
    and goes quadratic in the downstream pair explode; None disables.
    Identical docs should be exact-deduped first, which is what
    dedup_corpus does."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} not divisible by bands={bands}: trailing signature "
            "components would be silently ignored"
        )
    with_sig = (
        sigs
        if sigs is not None
        else minhash_signatures_agg(df, id_col, text_col, k, n)
    )
    bands_df = sig_band_rows(with_sig, k, bands)
    if max_bucket is not None:
        bands_df = cap_buckets(
            bands_df, ["band", "band_key"], max_bucket,
            "minhash_lsh_candidates", log_drops,
        )
    return (
        bands_df.groupBy("band", "band_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("id")).alias("member_ids"),
        )
        .where(F.col("n_docs") >= 2)
    )


def bucket_id_pairs(buckets: DataFrame) -> DataFrame:
    """Distinct ordered (id_a, id_b) pairs from LSH bucket rows
    carrying a ``member_ids`` array (:func:`minhash_lsh_candidates`):
    the double explode stays id-only — payloads are joined back by id
    by the caller, never carried through the pair fan-out."""
    return (
        buckets.select(F.explode("member_ids").alias("id_a"), "member_ids")
        .select("id_a", F.explode("member_ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.7,
    sigs: DataFrame | None = None,
    max_bucket: int | None = 5000,
    log_drops: bool = False,
) -> DataFrame:
    """Candidate pairs from LSH buckets, verified by exact signature
    agreement ratio (estimated jaccard) >= threshold.
    -> (id_a, id_b, est_jaccard). ``sigs`` reuses a precomputed
    (id, sig) DataFrame for BOTH the banding and the verify join.
    ``max_bucket``/``log_drops`` pass through to the banding cap.

    When ``sigs`` is None the signature table is computed once and
    EAGERLY lineage-truncated (one bounded action at construction):
    this plan consumes it three times (banding + both verify sides),
    and each lazy consumer re-runs the whole shingle+min-agg pipeline
    (no ReusedExchange under AQE — CLAUDE.md rule; measured 3x the
    signature wall inside neardup_components' edge materialization).
    Callers composing pipelines (dedup_corpus, incremental) pass their
    own persisted/committed ``sigs`` and skip this."""
    with_sig = (
        sigs
        if sigs is not None
        else _truncate_lineage(
            minhash_signatures_agg(df, id_col, text_col, k, n)
        )
    )
    cands = bucket_id_pairs(
        minhash_lsh_candidates(
            df, id_col, text_col, k, bands, n, sigs=with_sig,
            max_bucket=max_bucket, log_drops=log_drops,
        )
    )
    a = with_sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = with_sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "est_jaccard",
            minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"), k),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def rolling_fingerprint_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    hash_fn: str = "xxhash64",
    impl: str = "auto",
) -> DataFrame:
    """Corpus-scale winnowing fingerprint: min hash over `window`-gram
    shingles (same value as ``functions.textstats.rolling_fingerprint``,
    but via the codegen'd shingle_rows shape instead of interpreted
    array slices). -> (id, rolling_fp).

    hash_fn='xxhash64' (default, bigint — fastest JVM-side) or 'md5'
    (hex string — reproducible in any engine, the oracle-checked form;
    min over hex strings is order-isomorphic to min over the bits).

    r6 fast path (md5 mode, source >= 4 MB): the whole fingerprint
    folds into ONE Arrow stage — tokenization stays JVM, the long
    window-gram strings are built, md5-hashed (hashlib == Spark md5
    over the same UTF-8 bytes) and min-folded INSIDE the task, so
    neither the ~window× inflated shingle strings nor their hex
    digests ever cross a stage boundary, and the min-agg exchange
    disappears (the source is one row per doc). No memo: window-grams
    are effectively unique, and a multiset min needs no dedup."""
    if impl == "auto":
        from .queries import _input_bytes

        impl = (
            "pandas"
            if hash_fn == "md5"
            and _input_bytes(df) >= 4 * 1024 * 1024
            else "plan"
        )
    if impl == "pandas":
        if hash_fn != "md5":
            raise ValueError("pandas impl requires hash_fn='md5'")
        id_ddl = df.schema[id_col].dataType.simpleString()
        base = df.select(
            F.col(id_col).alias("id"),
            T.tokens(
                T.normalized(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("_tk"),
        )
        n = window

        def _fp(batches):
            import hashlib

            for batch in batches:
                fps: list = []
                for toks in batch["_tk"]:
                    toks = list(toks)
                    if len(toks) >= n:
                        it = (
                            " ".join(toks[j : j + n])
                            for j in range(len(toks) - n + 1)
                        )
                    else:
                        it = (" ".join(toks),)
                    fps.append(
                        min(
                            hashlib.md5(s.encode("utf-8")).hexdigest()
                            for s in it
                        )
                    )
                out = batch.drop(columns=["_tk"])
                out["rolling_fp"] = fps
                yield out

        # one wave of maximal tasks (shuffle-free; no-op when the
        # input is not over-spread) — Arrow stages carry fixed
        # per-task setup, and a second wave measured 0.2-0.35 s
        # slower per stage at the 50k tier (same rule as the
        # signature stage)
        base = base.coalesce(
            df.sparkSession.sparkContext.defaultParallelism
        )
        return base.mapInPandas(_fp, schema=f"id {id_ddl}, rolling_fp string")
    if impl != "plan":
        raise ValueError(f"unknown rolling impl {impl!r}")
    sh = shingle_rows(df, id_col, text_col, window, distinct=False)
    h = (
        F.xxhash64("shingle")
        if hash_fn == "xxhash64"
        else F.md5(F.encode(F.col("shingle"), "utf-8"))
    )
    return sh.groupBy("id").agg(F.min(h).alias("rolling_fp"))


def simhash_rolling_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    impl: str = "auto",
) -> DataFrame:
    """Fused (id, sh, rolling_fp) — the md5-mode simhash bit-vote AND
    the window-gram min-md5 winnowing fingerprint computed in ONE
    Arrow stage (r6). The separate tables' join cost more than either
    computation (two exchanges + sort-merge of two one-row-per-doc
    frames); here both per-doc values fall out of the same pass and
    the query plan is scan -> one Python stage, no exchange. Values
    are bit-identical to ``simhash_table(hash_fn='md5_60')`` ⋈
    ``rolling_fingerprint_table(hash_fn='md5')`` (pinned by test):
    the simhash tokenizer replicates Java's ASCII ``\\s+`` split on
    RAW text with empty tokens excluded from votes and n, the rolling
    grams use the shared normalized tokenization, and both hashes are
    hashlib.md5 == Spark md5 over identical UTF-8 bytes. Falls back to
    the join of the two pure-plan tables under the 4 MB size gate."""
    if impl == "auto":
        from .queries import _input_bytes

        impl = (
            "pandas" if _input_bytes(df) >= 4 * 1024 * 1024 else "join"
        )
    if impl == "join":
        sh = simhash_table(df, id_col, text_col, hash_fn="md5_60")
        rolling = rolling_fingerprint_table(
            df, id_col, text_col, window, hash_fn="md5"
        )
        return sh.join(rolling, "id")
    if impl != "pandas":
        raise ValueError(f"unknown simhash_rolling impl {impl!r}")
    id_ddl = df.schema[id_col].dataType.simpleString()
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_tx"),
        T.tokens(
            T.normalized(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("_tk"),
    )
    n = window

    def _both(batches):
        import hashlib
        import re
        from collections import Counter

        import numpy as np

        ws = re.compile(r"[ \t\n\x0B\f\r]+")
        memo: dict = {}

        def _bits(tok: str):
            v = memo.get(tok)
            if v is None:
                h = int(
                    hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16
                )
                v = np.array([(h >> b) & 1 for b in range(60)], np.int64)
                if len(memo) >= 200_000:
                    memo.clear()
                memo[tok] = v
            return v

        for batch in batches:
            shs: list = []
            fps: list = []
            for tx, toks in zip(batch["_tx"], batch["_tk"]):
                raw = [t for t in ws.split(tx) if t]
                if not raw:
                    shs.append(0)
                else:
                    acc = np.zeros(60, np.int64)
                    for tok, c in Counter(raw).items():
                        acc += _bits(tok) * c
                    sh = 0
                    for bit in np.nonzero(acc * 2 > len(raw))[0]:
                        sh |= 1 << int(bit)
                    shs.append(sh)
                toks = list(toks)
                if len(toks) >= n:
                    it = (
                        " ".join(toks[j : j + n])
                        for j in range(len(toks) - n + 1)
                    )
                else:
                    it = (" ".join(toks),)
                fps.append(
                    min(
                        hashlib.md5(s.encode("utf-8")).hexdigest()
                        for s in it
                    )
                )
            out = batch.drop(columns=["_tx", "_tk"])
            out["sh"] = shs
            out["rolling_fp"] = fps
            yield out

    base = base.coalesce(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return base.mapInPandas(
        _both, schema=f"id {id_ddl}, sh bigint, rolling_fp string"
    )


# ------------------------------------------------------------ simhash


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Corpus-scale simhash: explode token hashes -> per-bit
    sum-aggregates (JVM hash-aggregate with map-side combine; no
    higher-order array folds). -> (id, sh). Empty docs get sh = 0.

    hash_fn='xxhash64' (default): 64-bit token hash, fastest JVM path.
    hash_fn='md5_60': the first 15 md5 hex chars parsed as a 60-bit int
    — identical in any engine (DuckDB: ('0x'||substr(md5(t),1,15))::
    BIGINT), the oracle-checked form."""
    # plain explode(split) + relational filter-in-aggregate: stays in
    # whole-stage codegen (the higher-order F.filter form is interpreted
    # and dominated profiles). split() yields [''] for empty text, so
    # every document keeps >= 1 row and empties aggregate to sh = 0.
    toks = df.select(
        F.col(id_col).alias("id"),
        # coalesce: explode(split(NULL)) would drop NULL-text docs
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
        ).alias("tok"),
    )
    if hash_fn == "xxhash64":
        h, n_bits = F.xxhash64("tok"), 64
    elif hash_fn == "md5_60":
        h = F.conv(
            F.substring(F.md5(F.encode(F.col("tok"), "utf-8")), 1, 15), 16, 10
        ).cast("bigint")
        n_bits = 60
    else:  # pragma: no cover - guarded API
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # materialize the hash ONCE per token row before aggregating: each
    # of the n_bits sum-aggregates embeds its own copy of the hash
    # expression, and Catalyst does not CSE across aggregate exprs — an
    # md5-based hash recomputed 60x per row cost 13x wall (measured).
    # NULL hv for the '' structural row: sum() skips NULLs, count(hv)
    # counts words — same votes as the word-predicate form.
    hashed = toks.select(
        "id", F.when(F.col("tok") != "", h).alias("hv")
    )
    # The n_bits sum-aggregates + the n_bits-term majority-vote select
    # are rendered as ONE parameterized spark.sql call: building them
    # column-object-by-column-object costs ~2.5 s of py4j round trips
    # per invocation (profiled; bench times construction inside the
    # query window). The SQL parser produces the identical Catalyst
    # aggregate/CASE/shiftleft operators, so plans and results are
    # unchanged (plan-shape tests and the DuckDB oracle pin this).
    aggs = ",".join(
        f"sum(shiftright(hv,{b}) & CAST(1 AS BIGINT)) AS c{b}"
        for b in range(n_bits)
    )
    vote = "+".join(
        f"shiftleft(CAST(CASE WHEN c{b}*2 > n THEN 1 ELSE 0 END AS BIGINT),{b})"
        for b in range(n_bits)
    )
    return hashed.sparkSession.sql(
        f"SELECT id, CASE WHEN n > 0 THEN ({vote}) "
        "ELSE CAST(0 AS BIGINT) END AS sh "
        f"FROM (SELECT id, count(hv) AS n, {aggs} FROM {{h}} GROUP BY id)",
        h=hashed,
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    minhash_k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """The composed training-data dedup pipeline: exact dedup (keep min
    id per normalized fingerprint), then near-dup removal via
    minhash-LSH candidates verified by signature agreement >= threshold
    (each near-dup cluster keeps its min id). Returns the surviving
    rows of ``df``.

    Scale shape (r6): delegates to the incremental module's store=None
    form — ONE Arrow pass computes fingerprint AND signature together
    (the fingerprint rides the signature projection as a carry
    column), the exact-dedup window runs over the SKINNY
    (id, fingerprint, sig) table instead of full-text rows, the
    exact-survivor signatures are eagerly checkpointed once for every
    consumer (banding + both verify sides + the kept semi-join), and
    the loser set broadcasts into the anti-join. Measured 3.5 s ->
    2.8 s vs the previous two-window shape at the 50k-doc tier; the
    kept set is IDENTICAL by construction (same min-id-per-fingerprint
    + drop-larger-pair-id rules — pinned equal by test_incremental and
    the shared driver oracle SQL).
    """
    from . import incremental as I

    kept, _ = I.dedup_incremental(
        df,
        None,
        id_col,
        text_col,
        k=minhash_k,
        bands=bands,
        n=3,
        threshold=threshold,
        persist="checkpoint",
        check_monotone=False,
    )
    return kept


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 5000,
    log_drops: bool = False,
) -> DataFrame:
    """Near-dup pairs by FIXED-BAND simhash banding: 64 bits -> 4 x
    16-bit bands; pairs sharing any band are verified with an exact
    popcount of the XOR. -> (id_a, id_b, hamming).

    SCALE LIMIT: 16-bit bands are birthday-quadratic — candidates grow
    ~N^2/2^16 (measured 347M at 500k docs). Beyond ~10^6 docs use
    :func:`simhash_pairs_multi_index` (~32-bit keys, same exact
    hamming<=3 guarantee, O(N) candidates); this fixed-band form is
    kept as the simple small-corpus variant and cross-check.

    ``max_bucket`` caps the per-(band, band_key) membership before the
    self-join (see :func:`cap_buckets` — a constant-text corpus
    otherwise makes one bucket quadratic); None disables.

    Plan shape: the window cap means the simhash stage is evaluated
    once per self-join ALIAS (2 scans), not 2x that again for a counts
    anti-join. Pair enumeration deliberately stays a streaming
    sort-merge self-join, NOT a collect_list + double-explode like the
    embedding variant: simhash band collisions are birthday-quadratic
    at fixed 16-bit width (measured 3.5M candidates at 50k docs), and
    exploding a bucket of m members copies the member array m times —
    m^2 struct copies in one task (measured 16.1s vs 4.6s at the 10x
    tier) — where the join streams both sorted sides."""
    sh = simhash_table(df, id_col, text_col)
    banded = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sh", 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "band_key"),
    )
    if max_bucket is not None:
        banded = cap_buckets(
            banded, ["band", "band_key"], max_bucket, "simhash_pairs",
            log_drops,
        )
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _simhash_blocks(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """Partition [0, n_bits) into ``n_blocks`` contiguous (shift, width)
    blocks, widths as even as possible (wider blocks first)."""
    base, extra = divmod(n_bits, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    out, shift = [], 0
    for w in widths:
        out.append((shift, w))
        shift += w
    return out


def simhash_multi_index_keys(
    sht: DataFrame, max_hamming: int = 3, n_bits: int = 64
) -> DataFrame:
    """Multi-index keys for hamming-ball search over simhash
    fingerprints (Manku/Jain/Sarma's near-duplicate multi-table
    construction, re-expressed as one posexplode fan-out): split the
    ``n_bits`` fingerprint into ``max_hamming + 3`` contiguous blocks
    and emit one key per 3-block subset — C(k+3, 3) tables.
    -> (id, sh, table_id, key).

    Exactness: <= k flipped bits touch <= k blocks, leaving >= 3 clean
    blocks, so SOME 3-subset of blocks is identical between any pair
    within hamming k — every true pair shares >= one (table_id, key).

    Scale: each key concatenates 3 blocks, ~3*n_bits/(k+3) bits wide —
    for the default 64-bit/k=3 case ~32-bit keys (20 tables), so bucket
    occupancy is ~N/2^32 + true-duplicate clusters, NOT the N^2/2^16
    birthday growth of fixed 16-bit banding (:func:`simhash_pairs`
    measured 347M candidates at 500k docs; this shape measures
    O(N * occupancy) in bench_scale's deep tier)."""
    n_blocks = max_hamming + 3
    if n_blocks > 8:
        raise ValueError(
            f"max_hamming={max_hamming} needs C({n_blocks},3) tables — "
            "designed for small hamming radii (<= 5)"
        )
    from itertools import combinations

    blocks = _simhash_blocks(n_bits, n_blocks)

    # Rendered as ONE selectExpr string: the C(k+3,3)*3 block
    # extractions cost ~0.7 s of per-call py4j chatter when built as
    # Column objects (profiled; bench times construction). The parsed
    # plan is operator-identical.
    def _block(i: int) -> str:
        shift, width = blocks[i]
        return f"(shiftrightunsigned(sh,{shift}) & CAST({(1 << width) - 1} AS BIGINT))"

    keys = []
    for subset in combinations(range(n_blocks), 3):
        k = "CAST(0 AS BIGINT)"
        for bi in subset:
            k = f"(shiftleft({k},{blocks[bi][1]}) + {_block(bi)})"
        keys.append(k)
    return sht.selectExpr(
        "id", "sh",
        f"posexplode(array({','.join(keys)})) AS (table_id, key)",
    )


def simhash_pairs_multi_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = 512,
    log_drops: bool = False,
    sht: DataFrame | None = None,
) -> DataFrame:
    """Scale-safe near-dup pairs by simhash MULTI-INDEX lookup
    (the production replacement for fixed-band :func:`simhash_pairs`):
    C(max_hamming+3, 3) tables keyed on 3-block concatenations, pairs
    verified by exact popcount. -> (id_a, id_b, hamming), exact — every
    pair within ``max_hamming`` appears (pigeonhole over the blocks)
    and none beyond it, provided no bucket is capped.

    Plan shape: the (expensive) simhash table is scanned ONCE — the
    fingerprint rides through the key fan-out as a struct member, so
    the verify needs no join back. Pair enumeration is the one-bucket-
    aggregation collect_list + double-explode form: with ~32-bit keys
    buckets hold random collisions (~N/2^32) plus true near-dup
    clusters only, which exact-dedup upstream keeps small — the shape
    CLAUDE.md licenses for small-capped buckets. ``max_bucket`` caps
    degenerate clusters (None disables, for oracle-exact behavior on
    corpora known small); the popcount filter runs BEFORE the distinct
    so the dedup shuffle carries only real pairs.

    ``sht`` accepts a precomputed (id, sh) table (e.g. persisted by a
    composed pipeline); ``hash_fn`` passes through to
    :func:`simhash_table` ('md5_60' = the 60-bit oracle-reproducible
    form)."""
    if sht is None:
        sht = simhash_table(df, id_col, text_col, hash_fn)
    n_bits = 60 if hash_fn == "md5_60" else 64
    keys = simhash_multi_index_keys(sht, max_hamming, n_bits)
    if max_bucket is not None:
        keys = cap_buckets(
            keys, ["table_id", "key"], max_bucket,
            "simhash_pairs_multi_index", log_drops,
        )
    buckets = (
        keys.groupBy("table_id", "key")
        .agg(F.collect_list(F.struct("id", "sh")).alias("members"))
        .where(F.size("members") >= 2)
    )
    pairs = (
        buckets.select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.sh").bitwiseXOR(F.col("b.sh"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs.distinct()


def _label_prop_labels(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    on_nonconverged: str = "raise",
) -> tuple[DataFrame, int]:
    """Connected components by iterative min-label propagation:
    every vertex starts labeled with its own id; each round every
    vertex takes the min of its label and its neighbors' labels; stop
    when no label changes (or max_iter). Returns the converged
    EDGE-ENDPOINT ``(id, label)`` frame plus its known row count (the
    broadcast bound); :func:`connected_components` joins the isolated
    vertices back, and score-aware consumers (keep_best) join the
    labels straight onto their one-pass score projection instead of
    paying a comp ⋈ scored shuffle. component_id = min vertex id of
    the component.

    Scale shape: per round ONE equi-join edges⋈labels + ONE min
    aggregate — both key-partitioned shuffles AQE can skew-split;
    lineage is truncated every round (an iterative plan otherwise grows
    unboundedly) via a RELIABLE ``.checkpoint()`` when the session has
    a checkpoint dir configured — on a real cluster localCheckpoint
    blocks die with their executor and kill the job mid-iteration —
    falling back to localCheckpoint otherwise (tests/local mode).
    The per-round convergence probe doubles as lineage-safe `changed`
    count; it IS a driver-blocking action per round — inherent to any
    fixed-point loop (GraphX/GraphFrames block identically), bounded by
    the graph diameter. Rounds needed = diameter in the worst case;
    near-dup clusters are shallow (dups of a common ancestor), so
    convergence is fast. For planet-scale graphs swap in the
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — same driver loop, fewer
    rounds; min-propagation is the right simplicity/scale trade for
    dedup graphs.

    If the loop exits via ``max_iter`` with labels still changing, the
    result is NOT a fixed point (would diverge from a transitive-closure
    oracle on duplicate chains longer than max_iter) — that raises by
    default; ``on_nonconverged='warn'`` downgrades to a logged warning.
    """
    # symmetrize with ONE scan of edges (explode of both orientations),
    # not a union of two selects: the union form consumes the (often
    # expensive — LSH banding + verify) edge plan twice, and Catalyst
    # will not reuse the exchange across the branches (CLAUDE.md rule).
    sym = _truncate_lineage(
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
                    ),
                    F.struct(
                        F.col(dst_col).alias("s"), F.col(src_col).alias("d")
                    ),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
    )
    # The loop runs over EDGE ENDPOINTS only (r6): a vertex with no
    # edge keeps label = id forever, so isolated vertices (the vast
    # majority of a dedup graph) are joined back AFTER convergence
    # instead of riding every round's join + aggregate + checkpoint.
    # Round 1 is fused into the init: against identity labels,
    # min-of-neighbor-labels IS min-of-neighbor-ids, so the seed
    # label = least(id, min neighbor id) — one groupBy instead of the
    # first join round.
    labels = _truncate_lineage(
        sym.groupBy(F.col("s").alias("id"))
        .agg(F.min("d").alias("_m"))
        .select("id", F.least("id", "_m").alias("label"))
    )
    # One row per edge endpoint, CONSTANT across rounds (labels only
    # change value, never cardinality) — count once on the fresh
    # checkpoint. Small endpoint sets (the common dedup-graph case)
    # then broadcast through every round's join AND the final
    # vertices join instead of forcing shuffle+sort of the big sides.
    n_endpoints = labels.count()
    small = _bcast_fits(labels, n_endpoints)
    changed = -1
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(
                _bcast_if_small(labels, n_endpoints),
                sym["d"] == labels["id"],
            )
            .groupBy("s")
            .agg(F.min("label").alias("nlabel"))
        )
        if small:
            # probe convergence BEFORE materializing anything: the
            # common shallow-graph exit (seed already fixed) then
            # costs ONE broadcast-join count and no checkpoint of an
            # unchanged label table. A continuing round recomputes
            # neighbor_min inside the checkpoint — cheap by the same
            # bound that lets it broadcast; the at-scale path below
            # never evaluates twice.
            changed = (
                labels.join(
                    _bcast_if_small(neighbor_min, n_endpoints),
                    labels["id"] == neighbor_min["s"],
                )
                .where(F.col("nlabel") < F.col("label"))
                .count()
            )
            if changed == 0:
                break
            labels = _truncate_lineage(
                labels.join(
                    _bcast_if_small(neighbor_min, n_endpoints),
                    labels["id"] == neighbor_min["s"],
                    "left",
                ).select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("nlabel", "label")
                    ).alias("label"),
                )
            )
            continue
        # carry the per-row change flag INTO the checkpoint (labels
        # only ever decrease, so new < old ⟺ changed): the convergence
        # probe is then one filter+count scan of the checkpoint instead
        # of a join of the new labels back onto the old — that join
        # shuffled both full label sets once more per round.
        new_labels = _truncate_lineage(
            labels.join(
                _bcast_if_small(neighbor_min, n_endpoints),
                labels["id"] == neighbor_min["s"],
                "left",
            )
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", "label")
                ).alias("label"),
                (F.coalesce("nlabel", F.col("label")) < F.col("label")).alias(
                    "_chg"
                ),
            )
        )
        changed = new_labels.where(F.col("_chg")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components: NOT converged after {max_iter} rounds "
            f"({changed} labels still changing) — components are partial; "
            "raise max_iter (diameter bound) or use star-contraction"
        )
        if on_nonconverged == "warn":
            log.warning(msg)
        else:
            raise RuntimeError(msg)
    return labels, n_endpoints


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    on_nonconverged: str = "raise",
) -> DataFrame:
    labels, n_endpoints = _label_prop_labels(
        edges, src_col, dst_col, max_iter, on_nonconverged
    )
    return _attach_labels(vertices, id_col, labels, n_endpoints)


def _attach_labels(
    vertices: DataFrame, id_col: str, labels: DataFrame, n_bound: int
) -> DataFrame:
    """(id, component_id) for EVERY vertex: edge-endpoint labels join
    in (broadcast when the known bound allows), isolated vertices
    label themselves."""
    return (
        vertices.select(F.col(id_col).alias("id"))
        .join(
            _bcast_if_small(
                labels.withColumnRenamed("label", "_lb"), n_bound
            ),
            "id",
            "left",
        )
        .select(
            "id", F.coalesce("_lb", F.col("id")).alias("component_id")
        )
    )


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(big, small) orientation, self-loops dropped, distinct."""
    return (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("a"),
            F.least(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame, n_bound: int | None = None) -> DataFrame:
    """Connect every neighbor LARGER than u to min(Γ⁺(u)). Input/output
    edges canonical (a > b). ``n_bound``: known bound on the CURRENT
    edge count (the convergence probe measures it every cycle) — the
    per-u minimum table has at most 2x that many rows, so small star
    graphs broadcast it instead of shuffle+sorting sym."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # m = min(Γ⁺(u)) = least(u, min over neighbors)
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    if n_bound is not None:
        mins = _bcast_if_small(mins, 2 * n_bound)
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("a"),
            F.least(F.col("u"), F.col("mv")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame, n_bound: int | None = None) -> DataFrame:
    """Connect every neighbor ≤ u (and u itself) to the minimum of u's
    SMALL neighborhood. Canonical in, canonical out. ``n_bound`` as in
    :func:`_large_star`."""
    # e is already oriented big → small: neighbors of u are {b : (u,b)}
    mins = e.groupBy("a").agg(F.min("b").alias("m"))
    if n_bound is not None:
        mins = _bcast_if_small(mins, 2 * n_bound)
    rewired = (
        e.join(mins, "a")
        .where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    centers = mins.select(F.col("a"), F.col("m").alias("b"))
    return rewired.union(centers).distinct()


def _star_labels(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
    on_nonconverged: str = "raise",
) -> tuple[DataFrame, int]:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", the Two-Phase algorithm): each round rewires every node
    toward its neighborhood minimum, halving component depth — O(log n)
    rounds for ANY graph, vs diameter rounds for min-label propagation
    (:func:`connected_components`). Use this variant when duplicate
    chains can be long (transitive near-dup chains through shared
    templates); the label-propagation variant stays the default for
    shallow dedup graphs (fewer shuffles per round).
    -> (id, component_id), component_id = min vertex id of the
    component; singleton vertices label themselves.

    Scale shape per round: two groupBy-mins + two equi-joins on vertex
    ids (AQE-skew-splittable), lineage truncated per round via reliable
    ``.checkpoint()`` when a checkpoint dir is configured (same rule as
    the label variant). Convergence = edge multiset stable across a
    full large+small cycle, checked with one count + order-insensitive
    xxhash64 checksum aggregate (no driver-side edge collection).
    """
    e = _truncate_lineage(_canonical_edges(edges, src_col, dst_col))

    def _sig(df: DataFrame) -> tuple[int, int]:
        # count + order-insensitive XOR of row hashes (bit_xor cannot
        # overflow; a BIGINT sum would under ANSI mode). Rows are
        # distinct, so xor-cancellation needs a hash collision AND an
        # equal count — negligible.
        r = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).collect()[0]
        return int(r["n"] or 0), int(r["h"] or 0)

    sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        e = _truncate_lineage(
            _small_star(_large_star(e, sig[0]), sig[0])
        )
        new_sig = _sig(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged and sig[0] > 0:
        msg = (
            f"connected_components_star: NOT converged after {max_iter} "
            "large+small rounds — components are partial; raise max_iter"
        )
        if on_nonconverged == "warn":
            log.warning(msg)
        else:
            raise RuntimeError(msg)
    # Converged edge set = stars (child, center=component min). The
    # min-aggregate is an identity no-op on a star (one b per a) but
    # guarantees EXACTLY one row per vertex in the warn path, where a
    # mid-contraction edge set can still hold several (a, b) rows —
    # without it the left join below fans out and the "partial labels"
    # contract (one row per vertex) breaks.
    labels = (
        e.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("label"))
    )
    # labels has <= one row per converged canonical edge and sig[0] is
    # that edge COUNT (already measured by the convergence probe) — a
    # known broadcast bound for the downstream joins
    return labels, sig[0]


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
    on_nonconverged: str = "raise",
) -> DataFrame:
    labels, n_bound = _star_labels(
        edges, src_col, dst_col, max_iter, on_nonconverged
    )
    return _attach_labels(vertices, id_col, labels, n_bound)


def neardup_components(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    minhash_k: int = 16,
    bands: int = 4,
    algorithm: str = "label",
) -> DataFrame:
    """Near-duplicate CLUSTERS (not just pairs): connected components
    over the minhash-LSH-verified pair graph. -> (doc_id, component_id).
    Docs with no near-dup edge form singleton components.

    At corpus scale run dedup_exact first so identical docs don't all
    land in every band bucket; here the full graph keeps the oracle
    (a recursive-CTE transitive closure) exact over the same input.

    ``algorithm``: 'label' (min-label propagation — default, fewest
    shuffles/round on the shallow graphs dedup produces) or 'star'
    (:func:`connected_components_star` — O(log n) rounds regardless of
    chain length).
    """
    labels, n_bound = _neardup_labels(
        df, id_col, text_col, threshold, algorithm,
        minhash_k=minhash_k, bands=bands,
    )
    return _attach_labels(
        df.select(F.col(id_col).alias("id")), "id", labels, n_bound
    ).select(F.col("id").alias("doc_id"), "component_id")


def _neardup_labels(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    algorithm: str,
    minhash_k: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, int]:
    """Converged (id, label) over the minhash-LSH pair graph's edge
    ENDPOINTS plus the broadcast bound — shared by the component table
    (vertices join) and keep_best (labels joined straight onto the
    score projection, skipping a comp ⋈ scored shuffle).

    The bound depends on ``algorithm``: for ``label`` it is the
    endpoint row count (every endpoint has exactly one label row, which
    ``queries.neardup_cluster_sizes``' singleton math relies on); for
    ``star`` it is the converged EDGE count (an upper bound on the label
    rows), and the labels omit the component roots (a root has no edge
    to a smaller id). Only the ``label`` form supports per-component
    counting."""
    pairs = minhash_dedup_pairs(
        df, id_col, text_col, k=minhash_k, bands=bands, threshold=threshold
    )
    lab = _star_labels if algorithm == "star" else _label_prop_labels
    return lab(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


def keep_best_per_component(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col=None,
    threshold: float = 0.7,
    algorithm: str = "label",
) -> DataFrame:
    """Quality-aware near-dup survivor selection: ONE doc per connected
    component — the highest-scoring member (ties -> lowest id), the
    FineWeb/Dolma retention rule, vs ``dedup_corpus``'s keep-min-id.

    -> (doc_id, component_id, score): the kept doc per cluster
    (singletons included — every component yields exactly one row).

    ``score_col`` defaults to the nonempty-whitespace-token count
    (keep the longest member); pass any deterministic Column to rank
    by a model score instead (e.g. ``dsir.hashed_linear_score``).

    Plan shape: the component table joins a one-pass per-doc score
    projection on doc_id, then ONE row_number window PARTITIONED by
    component_id — never a global sort, and the window partitions are
    bounded by near-dup cluster size (small by construction: the LSH
    verify threshold caps how many docs can be mutually similar).

    Reference analog: the reference's store keeps whichever upload it
    last saw for a content hash (ocr/main.py result_store put); a
    training pipeline must instead pick the best cluster member.
    """
    score = (
        score_col
        if score_col is not None
        else F.size(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
                lambda x: x != "",
            )
        ).cast("bigint")
    )
    # ONE pass over df computes the score; the (tiny, known-bounded)
    # endpoint labels broadcast straight onto it — the former
    # comp ⋈ scored equi-join shuffled BOTH 1-row-per-doc tables (r6)
    labels, n_bound = _neardup_labels(
        df, id_col, text_col, threshold, algorithm
    )
    scored = df.select(
        F.col(id_col).alias("doc_id"), score.alias("score")
    ).join(
        _bcast_if_small(
            labels.withColumnRenamed("id", "doc_id").withColumnRenamed(
                "label", "_lb"
            ),
            n_bound,
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("_lb", F.col("doc_id")).alias("component_id"),
        "score",
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "component_id", "score")
    )
