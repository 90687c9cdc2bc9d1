"""Driver-harness query wrappers for the training-data operators, with
programmatically-generated DuckDB oracle SQL where the op is
SQL-expressible.

Shared across engines: md5-based fingerprints/minhash (identical hex in
any engine), integral or round(...,4)-stabilized numerics, explicit
deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textstats as T
from . import dedup as D
from . import multimodal as M
from . import pdf_bridge as P
from . import similarity as S

ANN_PLANES = 8
ANN_DIM = 64
ANN_SEED = 42
ANN_K = 10
JACCARD_T = 0.2


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _par(df: DataFrame, key: str, mult: int = 2) -> DataFrame:
    """Spread a SINGLE-row-group driver table across the cluster. The
    driver's parquet tables are one file with one row group, so every
    scan is ONE split and all per-row work before the first exchange
    (tokenize/explode/regex/vector math) ran on ONE core — measured
    9.1 s for gopher_filter's single-task signal stage at sf1.0 vs
    0.9 s spread. A deterministic hash repartition (guide §2.5: never
    rand/round-robin — retried tasks must reproduce the assignment)
    costs one exchange of the few-MB source rows. Only the queries with
    substantial per-row work use this; trivial projections keep the
    exchange-free single-task plan.

    SIZE-ADAPTIVE (guide §2: derive partitioning from input size, not
    a constant): below ~4 MB of source bytes the exchange's fixed cost
    (~0.3 s) exceeds what spreading the per-row work saves — measured
    at sf0.1 (0.6 MB documents) where a blanket repartition cost
    tfidf/dsir/repetition +0.3-0.8 s each while the sf1.0 (5.9 MB)
    wins were 1.3-3x. Reading the file sizes is a driver-side listing
    lookup, no Spark job.

    ``mult``: partitions = defaultParallelism * mult. 2 (default)
    smooths per-row-work stragglers across waves; 1 for stages whose
    per-task cost has a substantial FIXED component (the minhash
    Arrow stage re-hashes the distinct shingles each task sees — a
    per-task memo rebuild), where extra waves pay that fixed cost
    again (sig stage measured 1.68 s at 2x vs 1.20 s at 1x on the
    50k-doc tier)."""
    if _input_bytes(df) < 4 * 1024 * 1024:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism * mult
    return df.repartition(p, F.xxhash64(key))


def _input_bytes(df: DataFrame) -> int:
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        # No file sources in the lineage (eagerly checkpointed or
        # in-memory frames): inputFiles() is empty and the old
        # behavior read as 0 bytes, silently disabling every
        # size-gated fast path downstream of a checkpoint (observed:
        # corpus_funnel's dedup stage fell back to the slow shapes).
        # The optimizer's stats are REAL for eager checkpoints (the
        # materialized size rides the LogicalRDD); frames with no
        # stats at all (pyspark createDataFrame) report the
        # Long.MaxValue default — keep those at 0 (the conservative
        # never-spread behavior for tiny test frames).
        try:
            sz = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            return sz if sz < (1 << 60) else 0
        except Exception:
            return 0
    total = 0
    for f in files:
        u = urlparse(f)
        path = unquote(u.path) if u.scheme in ("", "file") else None
        if path is None:
            return 1 << 60  # non-local storage: always worth spreading
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    return total


def _docs_par(spark: SparkSession, sf_dir: str, mult: int = 2) -> DataFrame:
    return _par(_docs(spark, sf_dir), "doc_id", mult)


def _emb_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _par(_emb(spark, sf_dir), "vec_id")


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    return list(
        _emb(spark, sf_dir).where(F.col("vec_id") == 0).collect()[0]["embedding"]
    )


# ------------------------------------------------------ spark callables


def dedup_exact_groups(spark, sf_dir):
    return D.exact_duplicates(_docs(spark, sf_dir), min_group=1).select(
        "fingerprint", "n_dups", "keeper"
    )


def dedup_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(
        _docs_par(spark, sf_dir),
        threshold=JACCARD_T,
        hot_shingle_cap=None,  # exact mode for the oracle comparison
    )


def dedup_minhash_sig(spark, sf_dir):
    sigs = D.minhash_signatures_agg(
        _docs_par(spark, sf_dir, mult=1), k=16, n=3
    )
    return sigs.select(
        F.col("id").alias("doc_id"),
        F.md5(F.array_join("sig", "|")).alias("sig_digest"),
    )


def text_quality(spark, sf_dir):
    c = F.col("text")
    return _docs_par(spark, sf_dir).select(
        "doc_id",
        *T.quality_features(c),
        T.quality_score(c).alias("quality"),
    )


def token_counts_bpe(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", T.bpe_ish_token_count(F.col("text")).alias("n_bpe")
    )


def text_fingerprints(spark, sf_dir):
    return _docs_par(spark, sf_dir).select(
        "doc_id", T.fingerprint_md5(F.col("text")).alias("fp")
    )


def lang_id_q(spark, sf_dir):
    """Script counts materialized as columns BEFORE the decision chain:
    inlined, each count expression appears twice in lang_id's when-
    chain and Catalyst evaluates every reference (no CSE across the
    branches — CLAUDE.md rule), so each row paid 6 regex passes instead
    of 3. The layered projection survives optimization because
    CollapseProject refuses to inline non-cheap multiply-referenced
    producer expressions. Same values as textstats.lang_id."""
    docs = _docs(spark, sf_dir)
    counts = docs.select(
        "doc_id",
        T._script_count(F.col("text"), T._SCRIPTS["cyrillic"]).alias("_cyr"),
        T._script_count(F.col("text"), T._SCRIPTS["cjk"]).alias("_cjk"),
        T._script_count(F.col("text"), T._SCRIPTS["latin"]).alias("_lat"),
    )
    cyr, cjk, lat = F.col("_cyr"), F.col("_cjk"), F.col("_lat")
    guess = (
        F.when((cyr >= cjk) & (cyr >= lat) & (cyr > 0), "ru")
        .when((cjk >= lat) & (cjk > 0), "zh")
        .when(lat > 0, "latin")
        .otherwise("unknown")
    )
    return counts.select("doc_id", guess.alias("lang_guess"))


def quality_filter(spark, sf_dir):
    """C4/Gopher-style document filter: per-doc keep/drop verdict."""
    return _docs_par(spark, sf_dir).select(
        "doc_id", T.quality_keep(F.col("text")).alias("keep")
    )


TFIDF_K = 3


def tfidf_top_terms(spark, sf_dir):
    """Per-document top-k TF-IDF terms (idf = ln(N/df)) — the
    vocabulary-weighting op every retrieval/training mix uses.

    Scale shape: tf is one (doc, tok) hash-aggregate; df reuses tf's
    rows (one more aggregate on tok); ranking is a PARTITIONED window
    (per doc), never global. The rank orders by the unrounded product
    on both engines (exact ties share identical (tf, df) inputs, so
    they tie identically; tok breaks them), and only the projected
    value is rounded.
    """
    from pyspark.sql import Window

    docs = _docs_par(spark, sf_dir)
    # driver scalar, matches the oracle's count(*) — counted on the
    # UN-repartitioned scan (r6): count-star on a bare parquet frame is
    # answered from file metadata, while counting `docs` would pay the
    # _par exchange once more for a number the exchange cannot change
    n_docs = _docs(spark, sf_dir).count()
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(
                        F.lower(F.coalesce(F.col("text"), F.lit(""))),
                        r"\s+",
                        " ",
                    )
                ),
                " ",
            )
        ).alias("tok"),
    ).where(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # tf feeds BOTH the df aggregate and the scoring join — two
    # consumers, no ReusedExchange under AQE (CLAUDE.md rule): without
    # the truncation the explode+aggregate pipeline ran twice
    # (measured 2.1-4.5 s vs a stable 1.8-2.0 s at the 50k tier)
    tf = D._truncate_lineage(tf)
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("dfreq"))
    scored = tf.join(dfreq, "tok").withColumn(
        "_score", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("dfreq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_score"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= TFIDF_K)
        .select("doc_id", "tok", F.round("_score", 4).alias("tfidf"), "rk")
    )


def _sql_tfidf() -> str:
    return f"""
        WITH norm AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
        toks AS (SELECT doc_id, unnest(toks) AS tok FROM norm),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfq AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
        n AS (SELECT count(*) AS n FROM documents)
        SELECT doc_id, tok, round(score, 4) AS tfidf, rk FROM (
            SELECT doc_id, tok,
                   tf * ln(CAST(n AS DOUBLE) / dfreq) AS score,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY tf * ln(CAST(n AS DOUBLE) / dfreq) DESC, tok
                   ) AS INT) AS rk
            FROM tf JOIN dfq USING (tok), n
        ) WHERE rk <= {TFIDF_K}
    """


def repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals per document: distinct-
    word fraction and top-bigram fraction — the classic pretraining
    filters for degenerate/repetitive text (boilerplate loops, keyword
    stuffing). NULL/empty docs score 0.0 on both (same rule both
    engines).

    Scale shape: word stats are per-row array expressions (no shuffle);
    bigram stats reuse the codegen'd shingle_rows(n=2) shape — one
    explode + two hash aggregates, map-side combined.
    """
    docs = _docs_par(spark, sf_dir)
    toks = T.tokens(T.normalized(F.coalesce(F.col("text"), F.lit(""))))
    w = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("_nd"),
    )
    bi = D.shingle_rows(docs, "doc_id", "text", n=2, distinct=False)
    bt = (
        bi.groupBy("id", "shingle")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("_top"), F.sum("c").alias("_nbi"))
        .withColumnRenamed("id", "doc_id")
    )
    return (
        w.join(bt, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.when(
                F.col("n_words") > 0,
                F.round(F.col("_nd") / F.col("n_words"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("distinct_word_frac"),
            F.when(
                F.col("n_words") >= 2,
                F.round(F.col("_top") / F.col("_nbi"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def _sql_repetition() -> str:
    return f"""
        WITH norm AS (SELECT doc_id, {{toks}} AS toks FROM documents),
        w AS (
            SELECT doc_id, len(toks) AS n_words,
                   len(list_distinct(toks)) AS nd
            FROM norm
        ),
        big AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1]
                   )) AS bg
            FROM norm WHERE len(toks) >= 2
        ),
        bc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
        bt AS (
            SELECT doc_id, max(c) AS top, sum(c) AS nbi FROM bc GROUP BY 1
        )
        SELECT w.doc_id,
               w.n_words,
               CASE WHEN w.n_words > 0
                    THEN round(w.nd / CAST(w.n_words AS DOUBLE), 4)
                    ELSE 0.0 END AS distinct_word_frac,
               CASE WHEN w.n_words >= 2
                    THEN round(bt.top / CAST(bt.nbi AS DOUBLE), 4)
                    ELSE 0.0 END AS top_bigram_frac
        FROM w LEFT JOIN bt USING (doc_id)
    """.replace("{toks}", _TOKS_NORM)


def ann_cosine_topk(spark, sf_dir):
    return S.cosine_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=ANN_K)


def ann_lsh_topk(spark, sf_dir):
    return S.ann_topk_lsh(
        _emb(spark, sf_dir),
        _query_vec(spark, sf_dir),
        k=ANN_K,
        n_planes=ANN_PLANES,
        seed=ANN_SEED,
    )


def simhash_fingerprints(spark, sf_dir):
    """md5-hash variants of simhash + winnowing fingerprint — identical
    bit patterns reproducible in DuckDB (the xxhash64 variants are the
    production default; the algorithm under test is the same)."""
    return D.simhash_rolling_table(
        _docs_par(spark, sf_dir), window=8
    ).withColumnRenamed("id", "doc_id")


def simhash_neardup_pairs(spark, sf_dir):
    """Scale-safe simhash near-dup pairs via the multi-index lookup
    (C(6,3)=20 tables of 3-of-6-block keys, exact for hamming<=3) in
    the md5-60 oracle-reproducible form. max_bucket=None: the oracle
    models no cap, and exactness (the point under test) requires it."""
    return D.simhash_pairs_multi_index(
        _docs_par(spark, sf_dir), hash_fn="md5_60", max_bucket=None
    )


def pii_redaction(spark, sf_dir):
    """Corpus-hygiene PII scrub: every doc gets deterministic planted
    PII (email/IP/phone derived from doc_id — the synthetic corpus has
    none of its own, and an identity transform would prove nothing),
    then textstats.redact_pii replaces each with a typed placeholder.
    Chained JVM regexp_replace; DuckDB replays the identical plant +
    RE2-compatible patterns."""
    docs = _docs_par(spark, sf_dir)
    planted = F.concat_ws(
        " ",
        F.coalesce(F.col("text"), F.lit("")),
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
        F.concat(
            F.lit("ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".17"),
        ),
        F.concat(
            F.lit("tel +1 555 000 "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return docs.select(
        "doc_id", T.redact_pii(planted).alias("text_redacted")
    )


def _sql_pii_redaction() -> str:
    reps = "concat_ws(' ', coalesce(text, ''), " \
        "'contact user' || CAST(doc_id AS VARCHAR) || '@example.com', " \
        "'ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17', " \
        "'tel +1 555 000 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
    for pat, repl in T.PII_PATTERNS:
        reps = f"regexp_replace({reps}, '{pat}', '{repl}', 'g')"
    return f"SELECT doc_id, {reps} AS text_redacted FROM documents"


def unicode_nfc(spark, sf_dir):
    """NFC canonicalization over planted DECOMPOSED text (each doc gets
    ' cafe'+COMBINING-ACUTE+doc_id appended — the corpus's own literals
    are already composed, so an identity pass would prove nothing).
    Output also carries the md5 of the normalized text: the fingerprint
    divergence NFC exists to prevent."""
    docs = _docs(spark, sf_dir)
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        # DECOMPOSED: e + U+0301 combining acute - NFC must compose
        F.lit(" cafe\u0301 "),
        F.col("doc_id").cast("string"),
    )
    normed = T.nfc(planted)
    return docs.select(
        "doc_id",
        normed.alias("text_nfc"),
        F.md5(F.encode(normed, "utf-8")).alias("nfc_md5"),
    )


def _sql_unicode_nfc() -> str:
    return """
        SELECT doc_id,
               nfc_normalize(coalesce(text, '') || ' cafe' || chr(769)
                             || ' ' || CAST(doc_id AS VARCHAR))
                   AS text_nfc,
               md5(nfc_normalize(coalesce(text, '') || ' cafe'
                                 || chr(769) || ' '
                                 || CAST(doc_id AS VARCHAR)))
                   AS nfc_md5
        FROM documents
    """


DECONTAM_N = 8
DECONTAM_MOD = 17  # doc_id % 17 == 0 -> the synthetic "eval benchmark"


def contamination_ngrams(spark, sf_dir):
    """Benchmark decontamination: the corpus (doc_id % 17 != 0) scored
    against a synthetic eval set (doc_id % 17 == 0) by shared distinct
    8-grams. Planted near-dup clusters make the signal non-trivial —
    corpus docs that are templates/dups of eval docs light up."""
    docs = _docs_par(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % DECONTAM_MOD != 0)
    bench = docs.where(F.col("doc_id") % DECONTAM_MOD == 0)
    return D.contamination_hits(
        corpus, bench, n=DECONTAM_N
    ).withColumnRenamed("id", "doc_id")


def _sql_contamination_ngrams() -> str:
    """DuckDB replay: distinct-8-gram intersection counts, corpus vs
    the %17 eval subset."""
    return f"""
        WITH nc AS (
            SELECT doc_id, {_TOKS_NORM} AS toks FROM documents
            WHERE doc_id % {DECONTAM_MOD} <> 0
        ),
        nb AS (
            SELECT doc_id, {_TOKS_NORM} AS toks FROM documents
            WHERE doc_id % {DECONTAM_MOD} = 0
        ),
        shc AS (
            SELECT doc_id, unnest({_shingle_expr(DECONTAM_N)}) AS shingle
            FROM nc
        ),
        shb AS (
            SELECT DISTINCT unnest({_shingle_expr(DECONTAM_N)}) AS shingle
            FROM nb
        ),
        hits AS (
            SELECT c.doc_id, count(*) AS n_hits
            FROM shc c JOIN shb b USING (shingle) GROUP BY c.doc_id
        )
        SELECT nc.doc_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
        FROM nc LEFT JOIN hits h USING (doc_id)
    """


NEARDUP_T = 0.3
NEARDUP_PLANES = 6
NEARDUP_BANDS = 4


def embedding_neardups(spark, sf_dir):
    """Multi-band LSH-bucketed near-dup pairs, exact-cosine verified."""
    return S.embedding_neardup_pairs(
        _emb_par(spark, sf_dir),
        threshold=NEARDUP_T,
        n_planes=NEARDUP_PLANES,
        bands=NEARDUP_BANDS,
        dim=ANN_DIM,
    )


def embedding_neardups_auto(spark, sf_dir):
    """The same near-dup pairs through the AUTO index-sizing path:
    n_planes='auto' resolves via auto_n_planes(count) at run time. The
    oracle pins n_planes=8 because auto_n_planes(N) == 8 for every
    N <= 8 * 2^8 = 2048 — true of all driver corpora (20 / 200 / 2000
    vectors at sf0.001/0.01/0.1; asserted in
    test_ann_recall_and_bucketing) — so a hash match proves the auto
    path is oracle-exact, not just benched; the growing branch of the
    sizing rule is measured in bench_scale's plane sweep."""
    return S.embedding_neardup_pairs(
        _emb_par(spark, sf_dir),
        threshold=NEARDUP_T,
        n_planes="auto",
        bands=NEARDUP_BANDS,
        dim=ANN_DIM,
    )


def dedup_corpus_kept(spark, sf_dir):
    """Composed exact+minhash-LSH dedup pipeline — surviving doc ids.
    The whole chain is md5-based, so DuckDB replays it end to end."""
    kept = D.dedup_corpus(_docs_par(spark, sf_dir), threshold=0.7)
    return kept.select("doc_id")


def dedup_incremental_kept(spark, sf_dir):
    """The daily-pipeline shape: corpus split at the median id into
    'history' and 'new day'; history deduped first, its exact-survivor
    signatures stored, the new day deduped against the STORE (no
    history re-shingling — pinned by test_incremental's inputFiles
    check). Oracle = the one-shot full-corpus dedup_corpus SQL: the
    two must be EQUAL under monotone ids (operators/incremental.py)."""
    from . import incremental as I

    docs = _docs_par(spark, sf_dir, mult=1)
    # the split point is data-determined; answer it from the BARE scan
    # (single-file aggregate, no _par exchange replay — the repartition
    # cannot change max(doc_id))
    mid = _docs(spark, sf_dir).agg(F.max("doc_id")).collect()[0][0] // 2
    k1, s1 = I.dedup_incremental(
        docs.where(F.col("doc_id") <= mid), persist="checkpoint"
    )
    k2, _ = I.dedup_incremental(
        docs.where(F.col("doc_id") > mid), s1, persist="checkpoint"
    )
    return k1.select("doc_id").unionByName(k2.select("doc_id"))


def neardup_components(spark, sf_dir):
    """Near-dup CLUSTERS: connected components (iterative min-label
    propagation) over the minhash-LSH pair graph; oracle = DuckDB
    recursive-CTE transitive closure over the same md5 chain."""
    return D.neardup_components(
        _docs_par(spark, sf_dir, mult=1), threshold=0.7
    )


def neardup_components_star(spark, sf_dir):
    """Same clusters via alternating large-star/small-star contraction
    (Kiveris et al. — O(log n) rounds vs diameter); the SAME
    recursive-CTE closure oracle verifies both algorithms converge to
    identical components."""
    return D.neardup_components(
        _docs_par(spark, sf_dir, mult=1), threshold=0.7, algorithm="star"
    )


def neardup_keep_best(spark, sf_dir):
    """Quality-aware survivor per near-dup cluster (FineWeb/Dolma
    retention): keep the LONGEST member (nonempty-token count, ties ->
    lowest id) of each connected component. One row_number window
    PARTITIONED by component_id — never a global sort."""
    return D.keep_best_per_component(
        _docs_par(spark, sf_dir, mult=1), threshold=0.7
    )


def neardup_cluster_sizes(spark, sf_dir):
    """Dedup-run telemetry: histogram of near-dup cluster sizes
    (component size -> number of components). Two partial-aggregating
    groupBys over the component table; the heavy lifting is the
    components fixed-point, shared shape with neardup_components."""
    # histogram straight from the converged EDGE-ENDPOINT labels (r6):
    # a vertex with an edge always shares its component with >= 1
    # other vertex, so every labels-side component has size >= 2 and
    # the singletons are EXACTLY the non-endpoint docs — one tiny
    # aggregate over the labels frame plus one computed row replaces
    # building and re-aggregating the full 1-row-per-doc component
    # table (the vertices join + a 50k-row groupBy).
    labels, n_endpoints = D._neardup_labels(
        _docs_par(spark, sf_dir, mult=1), "doc_id", "text", 0.7, "label"
    )
    n_docs = _docs(spark, sf_dir).count()
    hist = (
        labels.groupBy("label")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )
    n_singletons = n_docs - n_endpoints
    if n_singletons > 0:
        single = spark.createDataFrame(
            [(1, n_singletons)], "cluster_size bigint, n_clusters bigint"
        )
        hist = hist.unionByName(single)
    return hist


IVF_LISTS = 8
IVF_PROBE = 2

#: IVF index paths built by THIS driver process (see ann_ivf_topk: the
#: committer's _SUCCESS marker is suppressed under dynamic partition
#: overwrite, and cross-run reuse would be result caching — reuse is
#: deliberately process-scoped).
_IVF_BUILT: set = set()


def ann_ivf_topk(spark, sf_dir):
    """IVF ANN over a MATERIALIZED index: the codebook is the
    deterministic id%7 seed sample (iterations=0 -> DuckDB can rebuild
    it), list assignment is persisted partitioned by list_id once per
    corpus, and the query is a partition-pruned read of the two probed
    lists. The cache key is a CONTENT fingerprint of the embeddings
    table (absolute path + per-file size+mtime digest), so regenerated
    data, two sf_dirs sharing a basename, or concurrent drivers can
    never serve a stale or mismatched index."""
    import hashlib
    import os

    emb = _emb(spark, sf_dir)
    cents = S.ivf_centroids(emb, n_lists=IVF_LISTS, iterations=0)
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    h = hashlib.sha256(src.encode())
    entries = (
        sorted(os.scandir(src), key=lambda e: e.name)
        if os.path.isdir(src)
        else [src]
    )
    for e in entries:
        p = e.path if hasattr(e, "path") else e
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}".encode())
    tag = h.hexdigest()[:16]
    path = f"/tmp/spark_graft_ivf/{tag}_l{IVF_LISTS}_i0"
    # dynamic partitionOverwriteMode (session_builder) suppresses the
    # committer's _SUCCESS marker, so the old on-disk existence probe
    # never passed and the index was silently REBUILT on every
    # invocation (~2 s of the query's wall, r6). Reuse is scoped to
    # THIS process (the per-driver build registry below): a fresh
    # bench/oracle invocation always rebuilds from the parquet inputs
    # — no cross-run caching — while repeat calls within one driver
    # (the bench's warm + timed passes; a session serving many
    # queries) read the index they already built, which is the whole
    # point of a materialized IVF. The content fingerprint in the path
    # still invalidates on data change mid-process.
    if path not in _IVF_BUILT:
        S.build_ivf_index(emb, cents, path)
        _IVF_BUILT.add(path)
    return S.ann_topk_ivf_indexed(
        spark, path, _query_vec(spark, sf_dir), cents, k=ANN_K,
        n_probe=IVF_PROBE,
    )


def image_features_fake(spark, sf_dir):
    """Multimodal plumbing demo: documents bytes as fake image payloads
    through the Arrow-batched feature stage (rows-only check)."""
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias(
            "payload"
        ),
        F.lit("image/png").alias("mime"),
    )
    return M.extract_image_features(media).select(
        "asset_id", "width", "height", "n_bytes", "sha256"
    )


def audio_features_fake(spark, sf_dir):
    """Multimodal audio plumbing: documents bytes as fake audio payloads
    through the Arrow-batched audio feature stage; every projected field
    is a pure function of the content sha256, so DuckDB replays it."""
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("audio").alias("kind"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias(
            "payload"
        ),
        F.lit("audio/wav").alias("mime"),
    )
    return M.extract_audio_features(media).select(
        "asset_id", "duration_ms", "sample_rate", "n_channels", "n_bytes",
        "sha256",
    )


# ----------------------------------------------------------- oracle sql

#: normalized token list (matches textstats.normalized + tokens).
#: coalesce(text, '') pins the engine's NULL-text semantics: a NULL-text
#: document behaves like an empty one (one '' shingle) instead of
#: vanishing — without it DuckDB's [NULL] list is dropped by
#: list_distinct while the Spark side keeps the doc.
_TOKS_NORM = (
    r"list_filter(string_split(trim(regexp_replace(lower(coalesce(text, "
    r"'')), '\s+', ' ', 'g')), ' '), x -> x <> '')"
)
#: raw whitespace tokens (matches textstats.tokens, no lowering)
_TOKS_RAW = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"

def _shingle_ctes(src: str = "documents", n: int = 3) -> str:
    """norm/shingled CTE pair over ``src`` — distinct word n-gram
    shingles of normalized text (matches dedup.shingle_rows).

    coalesce inside the ELSE branch: DuckDB's array_to_string([]) is
    NULL (not ''), and list_distinct would drop the NULL — an
    empty/NULL-text document must contribute one '' shingle, same as
    Spark shingle_rows."""
    return f"""
norm AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM {src}),
shingled AS (
    SELECT doc_id, {_shingle_expr(n)} AS sh
    FROM norm
)
"""


def _shingle_expr(n: int) -> str:
    """Distinct word n-gram shingle LIST over a ``toks`` column —
    the expression inside _shingle_ctes, reusable where two
    differently-filtered shingle sources share one query
    (decontamination)."""
    return f"""list_distinct(
        CASE WHEN len(toks) >= {n}
             THEN [array_to_string(toks[i:i+{n - 1}], ' ')
                   for i in generate_series(1, len(toks) - {n - 1})]
             ELSE [coalesce(array_to_string(toks, ' '), '')] END)"""


_SHINGLES = _shingle_ctes("documents")


def _sql_dedup_exact() -> str:
    return r"""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                   AS fingerprint,
               count(*) AS n_dups,
               min(doc_id) AS keeper
        FROM documents GROUP BY 1
    """


def _sql_jaccard() -> str:
    return f"""
        WITH {_SHINGLES},
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= {JACCARD_T}
    """


def _sql_minhash() -> str:
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{i}:', s)))) AS mh{i}"
        for i in range(16)
    )
    concat = " || '|' || ".join(f"mh{i}" for i in range(16))
    return f"""
        WITH {_SHINGLES},
        sigs AS (SELECT doc_id, {mins} FROM shingled)
        SELECT doc_id, md5({concat}) AS sig_digest FROM sigs
    """


_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in T._STOPWORDS)


def _sql_quality() -> str:
    return f"""
        WITH t AS (
            SELECT doc_id, text, {_TOKS_RAW} AS toks,
                   length(text) AS n_chars
            FROM documents
        ),
        f AS (
            SELECT doc_id, n_chars,
                   len(toks) AS n_tok,
                   len(list_filter(toks,
                       x -> list_contains([{_STOPWORDS_SQL}], lower(x))))
                       AS stop_hits,
                   len(list_distinct(list_transform(toks, x -> lower(x))))
                       AS uniq,
                   length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                       AS punct
            FROM t
        )
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(n_tok AS BIGINT) AS n_tokens,
               CASE WHEN n_tok > 0
                    THEN round(n_chars / CAST(n_tok AS DOUBLE), 4)
                    ELSE 0.0 END AS mean_token_len,
               CASE WHEN n_chars > 0
                    THEN round(punct / CAST(n_chars AS DOUBLE), 4)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_tok > 0
                    THEN round(stop_hits / CAST(n_tok AS DOUBLE), 4)
                    ELSE 0.0 END AS stopword_ratio,
               CASE WHEN n_tok > 0
                    THEN round(uniq / CAST(n_tok AS DOUBLE), 4)
                    ELSE 0.0 END AS type_token_ratio,
               round(0.25 * (CASE WHEN n_tok BETWEEN 10 AND 5000
                                  THEN 1.0 ELSE 0.25 END)
                   + 0.25 * (CASE WHEN n_tok > 0
                                  THEN least(stop_hits / CAST(n_tok AS DOUBLE)
                                             * 10.0, 1.0) ELSE 0.0 END)
                   + 0.25 * (CASE WHEN n_tok > 0
                                  THEN uniq / CAST(n_tok AS DOUBLE)
                                  ELSE 0.0 END)
                   + 0.25 * (CASE WHEN n_chars > 0
                                  THEN 1.0 - least(punct
                                        / CAST(n_chars AS DOUBLE) * 5.0, 1.0)
                                  ELSE 0.0 END), 4) AS quality
        FROM f
    """


def _sql_bpe() -> str:
    return (
        "SELECT doc_id, CAST(len(regexp_extract_all(text, "
        f"'{T.BPE_ISH}')) AS BIGINT) AS n_bpe FROM documents"
    )


def _sql_fingerprint() -> str:
    return r"""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    """


def _sql_lang_id() -> str:
    # same dominance rule over the same script classes (RE2 spelling)
    cyr = r"length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g'))"
    cjk = r"length(regexp_replace(text, '[^一-鿿぀-ヿ]', '', 'g'))"
    lat = r"length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
    return f"""
        WITH s AS (SELECT doc_id, {cyr} AS cyr, {cjk} AS cjk, {lat} AS lat
                   FROM documents)
        SELECT doc_id,
               CASE WHEN cyr >= cjk AND cyr >= lat AND cyr > 0 THEN 'ru'
                    WHEN cjk >= lat AND cjk > 0 THEN 'zh'
                    WHEN lat > 0 THEN 'latin'
                    ELSE 'unknown' END AS lang_guess
        FROM s
    """


_COSINE = (
    "list_dot_product(embedding::DOUBLE[], q) / "
    "(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q, q)))"
)


def _sql_ann_brute() -> str:
    return f"""
        WITH qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings
                    WHERE vec_id = 0)
        SELECT vec_id, sim FROM (
            SELECT vec_id, round({_COSINE}, 4) AS sim,
                   row_number() OVER (ORDER BY round({_COSINE}, 4) DESC,
                                      vec_id) AS rn
            FROM embeddings, qv
        ) WHERE rn <= {ANN_K}
    """


def _bucket_sql(planes: list[list[float]], vec: str) -> str:
    terms = []
    for j, plane in enumerate(planes):
        lits = ", ".join(repr(c) for c in plane)
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, [{lits}]) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


def _sql_ann_lsh() -> str:
    planes = S.hyperplane_signs(ANN_PLANES, ANN_DIM, ANN_SEED)
    return f"""
        WITH qv AS (SELECT embedding::DOUBLE[] AS q,
                           {_bucket_sql(planes, 'embedding::DOUBLE[]')} AS qb
                    FROM embeddings WHERE vec_id = 0),
        bucketed AS (
            SELECT vec_id, embedding,
                   {_bucket_sql(planes, 'embedding::DOUBLE[]')} AS bucket
            FROM embeddings
        )
        SELECT vec_id, sim FROM (
            SELECT vec_id, round({_COSINE}, 4) AS sim,
                   row_number() OVER (ORDER BY round({_COSINE}, 4) DESC,
                                      vec_id) AS rn
            FROM bucketed, qv WHERE bucket = qb
        ) WHERE rn <= {ANN_K}
    """


def _sql_dedup_corpus_kept(
    threshold: float = 0.7, k: int = 16, bands: int = 4
) -> str:
    """DuckDB replay of dedup.dedup_corpus: exact dedup (min doc_id per
    normalized-md5 fingerprint) -> minhash sigs over survivors -> banded
    LSH candidates -> signature-agreement verify -> drop larger ids.

    Cap delta (here and in _sql_neardup_components /
    _sql_embedding_neardups): the oracles model NO bucket cap, while
    the Spark operators default ``max_bucket=5000`` (500 embedding)
    (dedup.cap_buckets). Equivalence holds whenever every band bucket
    stays <= 5000 members — true for the driver corpora by orders of
    magnitude (max bucket ~ tens at sf0.01/sf0.1), and for any corpus
    that ran exact dedup first, which is the pipeline order
    dedup_corpus itself enforces. A >5000-member NON-identical bucket
    family would diverge: the operator drops those candidates (pass
    max_bucket=None for oracle-exact behavior on degenerate data)."""
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{i}:', s)))) AS mh{i}"
        for i in range(k)
    )
    rpb = k // bands
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"mh{i}" for i in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for b in range(bands)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    return f"""
        WITH fp AS (
            SELECT doc_id, text,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fingerprint
            FROM documents
        ),
        survivors AS (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY doc_id) AS rn
                FROM fp
            ) WHERE rn = 1
        ),
        {_shingle_ctes("survivors")},
        sigs AS (SELECT doc_id, {mins} FROM shingled),
        banded AS ({band_rows}),
        cands AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        losers AS (
            SELECT DISTINCT c.id_b
            FROM cands c
            JOIN sigs sa ON sa.doc_id = c.id_a
            JOIN sigs sb ON sb.doc_id = c.id_b
            WHERE round(({eq}) / {float(k)}, 4) >= {threshold}
        )
        SELECT s.doc_id FROM survivors s
        LEFT JOIN losers l ON s.doc_id = l.id_b
        WHERE l.id_b IS NULL
    """


def _sql_neardup_cte_chain(
    threshold: float = 0.7, k: int = 16, bands: int = 4
) -> str:
    """Shared CTE chain for every components-based oracle (caller must
    open with WITH RECURSIVE): the md5 minhash-LSH verified pair graph
    closed transitively, ending in ``comp(doc_id, component_id)`` where
    component_id = min doc_id reachable."""
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{i}:', s)))) AS mh{i}"
        for i in range(k)
    )
    rpb = k // bands
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"mh{i}" for i in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for b in range(bands)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    return f"""
        {_shingle_ctes("documents").lstrip()},
        sigs AS (SELECT doc_id, {mins} FROM shingled),
        banded AS ({band_rows}),
        cands AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT c.id_a, c.id_b
            FROM cands c
            JOIN sigs sa ON sa.doc_id = c.id_a
            JOIN sigs sb ON sb.doc_id = c.id_b
            WHERE round(({eq}) / {float(k)}, 4) >= {threshold}
        ),
        edges AS (
            SELECT id_a AS s, id_b AS d FROM verified
            UNION
            SELECT id_b AS s, id_a AS d FROM verified
        ),
        reach AS (
            SELECT doc_id AS id, doc_id AS label FROM documents
            UNION
            SELECT e.d AS id, r.label FROM reach r JOIN edges e ON e.s = r.id
        ),
        comp AS (
            SELECT id AS doc_id, min(label) AS component_id
            FROM reach GROUP BY id
        )
    """


def _sql_neardup_components(
    threshold: float = 0.7, k: int = 16, bands: int = 4
) -> str:
    """DuckDB replay of neardup_components: the same md5 minhash-LSH
    verified pair graph, closed transitively with a RECURSIVE CTE;
    component_id = min doc_id reachable."""
    return f"""
        WITH RECURSIVE
        {_sql_neardup_cte_chain(threshold, k, bands).strip()}
        SELECT doc_id, component_id FROM comp
    """


def _sql_neardup_keep_best(
    threshold: float = 0.7, k: int = 16, bands: int = 4
) -> str:
    """DuckDB replay of dedup.keep_best_per_component with the default
    longest-member score: per component keep the doc with the max
    nonempty-token count, ties -> lowest doc_id (QUALIFY row_number)."""
    return rf"""
        WITH RECURSIVE
        {_sql_neardup_cte_chain(threshold, k, bands).strip()},
        nw AS (
            SELECT doc_id,
                   len(list_filter(
                       string_split_regex(coalesce(text, ''), '\s+'),
                       x -> x <> '')) AS score
            FROM documents
        )
        SELECT doc_id, component_id, CAST(score AS BIGINT) AS score
        FROM comp JOIN nw USING (doc_id)
        QUALIFY row_number() OVER (PARTITION BY component_id
                                   ORDER BY score DESC, doc_id) = 1
    """


def _sql_neardup_cluster_sizes(
    threshold: float = 0.7, k: int = 16, bands: int = 4
) -> str:
    """DuckDB replay of the cluster-size histogram: component size ->
    number of components of that size (the dedup-telemetry query every
    production run reports)."""
    return f"""
        WITH RECURSIVE
        {_sql_neardup_cte_chain(threshold, k, bands).strip()}
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        FROM (
            SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
            FROM comp GROUP BY component_id
        )
        GROUP BY cluster_size
    """


def _sql_embedding_neardups(n_planes: int = NEARDUP_PLANES) -> str:
    """DuckDB replay of the multi-band sign-LSH near-dup pairs."""
    planes = S.hyperplane_signs(
        NEARDUP_BANDS * n_planes, ANN_DIM, ANN_SEED
    )
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + _bucket_sql(
            planes[b * n_planes : (b + 1) * n_planes],
            "embedding::DOUBLE[]",
        )
        + " AS bucket FROM embeddings"
        for b in range(NEARDUP_BANDS)
    )
    cos = (
        "list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(ea.embedding::DOUBLE[], "
        "ea.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(eb.embedding::DOUBLE[], "
        "eb.embedding::DOUBLE[])))"
    )
    return f"""
        WITH banded AS ({band_rows}),
        cands AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, round({cos}, 4) AS sim
        FROM cands
        JOIN embeddings ea ON ea.vec_id = id_a
        JOIN embeddings eb ON eb.vec_id = id_b
        WHERE round({cos}, 4) >= {NEARDUP_T}
    """


def _simhash_ctes(n_bits: int = 60) -> str:
    """CTE chain rebuilding dedup.simhash_table(hash_fn='md5_60') in
    DuckDB: rawtoks -> h (60-bit md5 token hash) -> bits -> simh
    (doc_id, sh)."""
    csum = ", ".join(
        f"CAST(sum((hv >> {b}) & 1) AS BIGINT) AS c{b}" for b in range(n_bits)
    )
    sh_terms = " + ".join(
        f"(CASE WHEN 2 * c{b} > n THEN CAST({1 << b} AS BIGINT) "
        "ELSE 0 END)"
        for b in range(n_bits)
    )
    return rf"""rawtoks AS (
            SELECT doc_id,
                   unnest(string_split_regex(coalesce(text, ''), '\s+'))
                       AS tok
            FROM documents
        ),
        h AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
            FROM rawtoks WHERE tok <> ''
        ),
        bits AS (SELECT doc_id, count(*) AS n, {csum} FROM h GROUP BY doc_id),
        simh AS (
            SELECT d.doc_id,
                   CAST(coalesce({sh_terms}, 0) AS BIGINT) AS sh
            FROM documents d LEFT JOIN bits USING (doc_id)
        )"""


def _sql_simhash_fingerprints(n_bits: int = 60) -> str:
    """DuckDB replay of the md5-60 simhash + md5 winnowing fingerprint."""
    return rf"""
        WITH {_simhash_ctes(n_bits)},
        {_shingle_ctes("documents", n=8)},
        roll AS (
            SELECT doc_id,
                   list_min(list_transform(sh, s -> md5(s))) AS rolling_fp
            FROM shingled
        )
        SELECT simh.doc_id, simh.sh, roll.rolling_fp
        FROM simh JOIN roll USING (doc_id)
    """


def _sql_simhash_neardup_pairs(max_hamming: int = 3) -> str:
    """Brute-force all-pairs popcount over the md5-60 simhash table —
    the ground truth the multi-index lookup must reproduce EXACTLY
    (hamming <= k is caught by pigeonhole over the 6 blocks, never
    dropped, and the popcount verify admits nothing beyond k). Fine as
    an oracle at sf0.01 (C(500,2) pairs); the Spark side is the
    O(N)-candidate production shape."""
    return f"""
        WITH {_simhash_ctes()}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM simh a JOIN simh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


def _sql_image_features() -> str:
    """DuckDB replay of the deterministic fake image decoder: dimensions
    and a sha256 content digest derived from the payload bytes
    (payload = utf-8 of text; DuckDB VARCHARs are utf-8, so
    sha256(text) == sha256 of the payload)."""
    return """
        WITH p AS (
            SELECT CAST(doc_id AS VARCHAR) AS asset_id,
                   sha256(coalesce(text, '')) AS sha,
                   CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
                       AS n_bytes
            FROM documents
        )
        SELECT asset_id,
               CAST(64 + ('0x' || substr(sha, 1, 2))::INT * 4 AS INT)
                   AS width,
               CAST(64 + ('0x' || substr(sha, 3, 2))::INT * 4 AS INT)
                   AS height,
               n_bytes,
               sha AS sha256
        FROM p
    """


def _sql_audio_features() -> str:
    """DuckDB replay of the deterministic fake audio decoder
    (multimodal._fake_decode_audio_meta): duration/rate/channels are
    hex-substring arithmetic over the same sha256 content digest."""
    return """
        WITH p AS (
            SELECT CAST(doc_id AS VARCHAR) AS asset_id,
                   sha256(coalesce(text, '')) AS sha,
                   CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
                       AS n_bytes
            FROM documents
        )
        SELECT asset_id,
               CAST(500 + ('0x' || substr(sha, 5, 4))::BIGINT % 59500
                    AS BIGINT) AS duration_ms,
               CAST(CASE ('0x' || substr(sha, 9, 2))::INT % 5
                    WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                    WHEN 3 THEN 44100 ELSE 48000 END AS INT) AS sample_rate,
               CAST(1 + ('0x' || substr(sha, 11, 2))::INT % 2 AS INT)
                   AS n_channels,
               n_bytes,
               sha AS sha256
        FROM p
    """


def _sql_ann_ivf(n_lists: int = 8, n_probe: int = 2) -> str:
    """DuckDB replay of the IVF search: rebuild the deterministic seed
    codebook (id % 7 sample, iterations=0), assign every vector to its
    argmax-cosine list, keep the n_probe lists closest to the query."""
    cos_ec = (
        "list_dot_product(e.embedding::DOUBLE[], c.c) / "
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], "
        "e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.c, c.c)))"
    )
    cos_qc = (
        "list_dot_product(q, c) / "
        "(sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(c, c)))"
    )
    cos_aq = (
        "list_dot_product(a.embedding::DOUBLE[], q) / "
        "(sqrt(list_dot_product(a.embedding::DOUBLE[], "
        "a.embedding::DOUBLE[])) * sqrt(list_dot_product(q, q)))"
    )
    return f"""
        WITH seeds AS (
            SELECT vec_id, embedding::DOUBLE[] AS c FROM embeddings
            WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT {n_lists}
        ),
        cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, c
            FROM seeds
        ),
        qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings
               WHERE vec_id = 0),
        probes AS (
            SELECT list_id FROM cents c, qv
            ORDER BY {cos_qc} DESC, list_id LIMIT {n_probe}
        ),
        assign AS (
            SELECT vec_id, embedding FROM (
                SELECT e.vec_id, e.embedding, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {cos_ec} DESC,
                                                   c.list_id) AS rn
                FROM embeddings e CROSS JOIN cents c
            ) WHERE rn = 1 AND list_id IN (SELECT list_id FROM probes)
        )
        SELECT vec_id, sim FROM (
            SELECT a.vec_id, round({cos_aq}, 4) AS sim,
                   row_number() OVER (ORDER BY round({cos_aq}, 4) DESC,
                                      a.vec_id) AS rn2
            FROM assign a, qv
        ) WHERE rn2 <= {ANN_K}
    """


def _sql_quality_filter() -> str:
    return f"""
        WITH t AS (
            SELECT doc_id, text, {_TOKS_RAW} AS toks, length(text) AS n_chars
            FROM documents
        ),
        f AS (
            SELECT doc_id, n_chars, len(toks) AS n_tok,
                   len(list_distinct(list_transform(toks, x -> lower(x))))
                       AS uniq
            FROM t
        )
        SELECT doc_id,
               (n_tok >= 20 AND n_tok <= 5000
                AND CAST(uniq AS DOUBLE) >= 0.3 * n_tok
                AND (CASE WHEN n_tok > 0
                          THEN n_chars / CAST(n_tok AS DOUBLE)
                          ELSE 0.0 END) BETWEEN 2.0 AND 12.0) AS keep
        FROM f
    """


SPAN_K = 5  # duplicated-span window (tokens) for dedup_spans_removed


def dedup_spans_removed(spark, sf_dir):
    """ExactSubstr-style span dedup (Lee et al. 2021): drop every
    5-token window occurring >= 2 times corpus-wide, reassemble the
    surviving tokens. The synthetic corpus's exact-dup groups and
    planted near-dup templates give the grams real repeats."""
    return D.dedup_spans(
        _docs_par(spark, sf_dir), k=SPAN_K, min_df=2
    ).withColumnRenamed("id", "doc_id")


def _sql_dedup_spans(k: int = SPAN_K, min_df: int = 2) -> str:
    gram_terms = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {j}) OVER w" for j in range(1, k)]
    )
    return f"""
        WITH norm AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
        toks AS (
            SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS pos
            FROM norm
        ),
        grams AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN lead(tok, {k - 1}) OVER w IS NOT NULL
                        THEN {gram_terms} END AS gram
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        occ AS (
            SELECT doc_id, pos, tok, gram,
                   count(*) OVER (PARTITION BY gram) AS oc
            FROM grams
        ),
        cov AS (
            SELECT doc_id, pos, tok,
                   max(CASE WHEN gram IS NOT NULL AND oc >= {min_df}
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN {k - 1} PRECEDING
                             AND CURRENT ROW) AS c
            FROM occ
        )
        SELECT d.doc_id,
               coalesce(g.text_dedup, '') AS text_dedup,
               CAST(coalesce(g.n_tokens_kept, 0) AS BIGINT)
                   AS n_tokens_kept,
               CAST(coalesce(g.n_tokens_dropped, 0) AS BIGINT)
                   AS n_tokens_dropped
        FROM documents d LEFT JOIN (
            SELECT doc_id,
                   string_agg(CASE WHEN c = 0 THEN tok END,
                              ' ' ORDER BY pos) AS text_dedup,
                   count(CASE WHEN c = 0 THEN 1 END) AS n_tokens_kept,
                   count(CASE WHEN c = 1 THEN 1 END) AS n_tokens_dropped
            FROM cov GROUP BY doc_id
        ) g USING (doc_id)
    """


def url_dedup(spark, sf_dir):
    """URL-level crawl dedup over planted raw URLs (the documents table
    has none of its own): four deterministic crawl variants of each
    page — clean, SHOUTED-case + explicit :443, www. + utm_ tracking
    (plus one REAL param that must survive), and tracking-only query +
    fragment — canonicalize to a shared key; url_rank numbers each
    canonical group by doc_id (rank 1 = the fetch a dedup keeps).
    Window is PARTITIONED by the canonical URL — never a global sort."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    s = (F.col("doc_id") % 5).cast("string")
    p = (F.col("doc_id") % 100).cast("string")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(
            F.lit("https://news-"), s, F.lit(".example.com/article/"), p))
        .when(v == 1, F.concat(
            F.lit("HTTPS://News-"), s, F.lit(".Example.COM:443/article/"), p))
        .when(v == 2, F.concat(
            F.lit("https://www.news-"), s, F.lit(".example.com/article/"),
            p, F.lit("?utm_source=feed&id=7")))
        .otherwise(F.concat(
            F.lit("https://news-"), s, F.lit(".example.com/article/"),
            p, F.lit("?ref=tw&utm_campaign=x#frag")))
    )
    out = docs.select(
        "doc_id",
        T.canonical_url(raw).alias("url_canon"),
        T.url_host(raw).alias("host"),
    )
    w = Window.partitionBy("url_canon").orderBy("doc_id")
    return out.withColumn("url_rank", F.row_number().over(w).cast("int"))


def _sql_url_dedup() -> str:
    sch = f"lower(regexp_extract(url, '{T.URL_SCHEME_RE}', 1))"
    hp = f"lower(regexp_extract(url, '{T.URL_HOSTPORT_RE}', 1))"
    host = (
        f"regexp_replace(CASE WHEN {sch} = 'http' "
        f"THEN regexp_replace({hp}, ':80$', '') "
        f"WHEN {sch} = 'https' THEN regexp_replace({hp}, ':443$', '') "
        f"ELSE {hp} END, '^www\\.', '')"
    )
    rest = f"regexp_extract(url, '{T.URL_REST_RE}', 1)"
    rest = f"regexp_replace({rest}, '{T.URL_TRACKING_RE}', '\\1', 'g')"
    rest = f"regexp_replace({rest}, '&+', '&', 'g')"
    rest = f"regexp_replace({rest}, '\\?&', '?', 'g')"
    rest = f"regexp_replace({rest}, '[?&]+$', '', 'g')"
    path = f"CASE WHEN {rest} = '' THEN '/' ELSE {rest} END"
    return f"""
        WITH raw AS (
            SELECT doc_id,
                   CASE doc_id % 4
                   WHEN 0 THEN 'https://news-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                   WHEN 1 THEN 'HTTPS://News-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.Example.COM:443/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                   WHEN 2 THEN 'https://www.news-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '?utm_source=feed&id=7'
                   ELSE 'https://news-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '?ref=tw&utm_campaign=x#frag'
                   END AS url
            FROM documents
        ),
        canon AS (
            SELECT doc_id,
                   {sch} || '://' || {host}
                       || {path} AS url_canon,
                   {host} AS host
            FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS url
                  FROM raw)
        )
        SELECT doc_id, url_canon, host,
               CAST(row_number() OVER (PARTITION BY url_canon
                                       ORDER BY doc_id) AS INT) AS url_rank
        FROM canon
    """


#: host blocklist stand-in for the curated lists (UT1, adult/ad-tech
#: domains) a RefinedWeb-style URL filter broadcasts cluster-wide.
URL_BLOCKLIST = ["ads.example.com", "tracker.example.net"]
#: path keywords (RefinedWeb's soft bad-word URL scoring, hard form)
URL_BADPATH_RE = "(^|/)(casino|xxx|porn|gambl[a-z]*)(/|$)"


def url_host_filter(spark, sf_dir):
    """RefinedWeb-style URL curation over planted raw URLs: host
    blocklist (tiny table -> BROADCAST left join, the only viable
    shape at 10^12 rows), bad path keyword, digit-heavy host
    (5*digits >= len(host), integer compare — no float crosses the
    oracle), and over-long URL. reason = first matching rule in
    severity order, NULL = keep.

    Planted variants by doc_id % 6: clean / bad path / digit host /
    long query / blocklisted host / tracking params (canonicalizes
    clean — must be kept), so every rule fires deterministically and a
    hash match proves real routing (CLAUDE.md planted-data rule)."""
    docs = _docs_par(spark, sf_dir)
    s = (F.col("doc_id") % 5).cast("string")
    p = (F.col("doc_id") % 100).cast("string")
    v = F.col("doc_id") % 6
    base = F.concat(F.lit("news-"), s, F.lit(".example.com"))
    raw = (
        F.when(v == 1, F.concat(
            F.lit("https://"), base, F.lit("/casino/"), p))
        .when(v == 2, F.concat(
            F.lit("https://h123456789.example.com/article/"), p))
        .when(v == 3, F.concat(
            F.lit("https://"), base, F.lit("/article/"), p,
            F.lit("?pad="), F.lpad(p, 160, "x")))
        .when(v == 4, F.concat(
            F.lit("https://ads.example.com/article/"), p))
        .when(v == 5, F.concat(
            F.lit("https://www."), base, F.lit("/article/"), p,
            F.lit("?utm_source=feed")))
        .otherwise(F.concat(F.lit("https://"), base, F.lit("/article/"), p))
    )
    urls = docs.select(
        "doc_id", raw.alias("url"), T.url_host(raw).alias("host")
    )
    bl = spark.createDataFrame(
        [(h,) for h in URL_BLOCKLIST], "host string"
    ).withColumn("blocked", F.lit(1))
    j = urls.join(F.broadcast(bl), "host", "left")
    rest = F.regexp_extract("url", T.URL_REST_RE, 1)
    digits = F.length("host") - F.length(
        F.regexp_replace("host", "[0-9]", "")
    )
    reason = (
        F.when(F.col("blocked") == 1, F.lit("host_blocklist"))
        .when(rest.rlike(URL_BADPATH_RE), F.lit("path_keyword"))
        .when(digits * 5 >= F.length("host"), F.lit("digit_host"))
        .when(F.length("url") > 160, F.lit("url_too_long"))
    )
    return j.select(
        "doc_id",
        "host",
        reason.alias("reason"),
        F.when(reason.isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("keep"),
    )


def _sql_url_host_filter() -> str:
    """DuckDB replay of url_host_filter: same planted URLs, same host
    normalization, a VALUES blocklist standing in for the broadcast
    table, identical rule order."""
    sch = f"lower(regexp_extract(url, '{T.URL_SCHEME_RE}', 1))"
    hp = f"lower(regexp_extract(url, '{T.URL_HOSTPORT_RE}', 1))"
    host = (
        f"regexp_replace(CASE WHEN {sch} = 'http' "
        f"THEN regexp_replace({hp}, ':80$', '') "
        f"WHEN {sch} = 'https' THEN regexp_replace({hp}, ':443$', '') "
        f"ELSE {hp} END, '^www\\.', '')"
    )
    bl = ", ".join(f"('{h}', 1)" for h in URL_BLOCKLIST)
    return f"""
        WITH raw AS (
            SELECT doc_id,
                   CASE doc_id % 6
                   WHEN 1 THEN 'https://news-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/casino/'
                       || CAST(doc_id % 100 AS VARCHAR)
                   WHEN 2 THEN 'https://h123456789.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                   WHEN 3 THEN 'https://news-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '?pad='
                       || lpad(CAST(doc_id % 100 AS VARCHAR), 160, 'x')
                   WHEN 4 THEN 'https://ads.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                   WHEN 5 THEN 'https://www.news-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                       || '?utm_source=feed'
                   ELSE 'https://news-'
                       || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/article/'
                       || CAST(doc_id % 100 AS VARCHAR)
                   END AS url
            FROM documents
        ),
        hosted AS (SELECT doc_id, url, {host} AS host FROM raw),
        bl(host, blocked) AS (VALUES {bl}),
        flagged AS (
            SELECT doc_id, h.host,
                   CASE
                   WHEN blocked = 1 THEN 'host_blocklist'
                   WHEN regexp_matches(
                       regexp_extract(url, '{T.URL_REST_RE}', 1),
                       '{URL_BADPATH_RE}') THEN 'path_keyword'
                   WHEN 5 * (length(h.host) - length(
                       regexp_replace(h.host, '[0-9]', '', 'g')))
                       >= length(h.host) THEN 'digit_host'
                   WHEN length(url) > 160 THEN 'url_too_long'
                   END AS reason
            FROM hosted h LEFT JOIN bl ON h.host = bl.host
        )
        SELECT doc_id, host, reason,
               CAST(CASE WHEN reason IS NULL THEN 1 ELSE 0 END AS INT)
                   AS keep
        FROM flagged
    """


#: planted Gopher-filter texts — ONE SQL expression valid verbatim in
#: BOTH Spark SQL and DuckDB (repeat / || / chr(10) / CASE agree), so
#: the two engines provably score the same bytes. Variants doc_id % 8:
#: keep / too-short / 30-char words / '#'-soup / all-bullet lines /
#: 40% ellipsis-ended lines / no-alpha words / zero Gopher stopwords —
#: every rule fires (CLAUDE.md planted-data rule).
_GOPHER_CLEAN = "the quick brown fox and that have with of to be fine"
_GOPHER_NOSTOP = "quick brown fox jumps over lazy dog again"
_GOPHER_BULLET = "• the quick brown fox and that have with"
_GOPHER_TEXT_SQL = f"""CASE doc_id % 8
    WHEN 1 THEN 'too short to be a doc'
    WHEN 2 THEN repeat('pneumonoultramicroscopicsilico ', 59)
        || 'pneumonoultramicroscopicsilico'
    WHEN 3 THEN repeat('{_GOPHER_CLEAN} ', 7) || '{_GOPHER_CLEAN}'
        || ' ' || repeat('# ', 19) || '#'
    WHEN 4 THEN repeat('{_GOPHER_BULLET}' || chr(10), 9)
        || '{_GOPHER_BULLET}'
    WHEN 5 THEN repeat('{_GOPHER_CLEAN}' || chr(10), 6)
        || repeat('{_GOPHER_CLEAN}...' || chr(10), 3)
        || '{_GOPHER_CLEAN}...'
    WHEN 6 THEN repeat('12345 6789 ', 29) || '12345 6789'
    WHEN 7 THEN repeat('{_GOPHER_NOSTOP} ', 7) || '{_GOPHER_NOSTOP}'
    ELSE repeat('{_GOPHER_CLEAN} ', 7) || '{_GOPHER_CLEAN}'
    END"""


def gopher_filter(spark, sf_dir):
    """The COMPLETE Gopher quality rule set (Rae et al. 2021, Appendix
    A1.1) over planted per-doc texts: word-count bounds, mean-word-
    length bounds, symbol-to-word ratio, bullet-started and ellipsis-
    ended line fractions, alphabetic-word fraction, and the 2-stopword
    floor — reason = first failing rule in severity order, NULL = keep.
    Every ratio is an exact integer comparison on both engines, and the
    planted text is the SAME SQL expression Spark and DuckDB evaluate,
    so the value hash proves identical rule arithmetic end to end.
    Production form over real text: textstats.gopher_keep."""
    docs = _docs_par(spark, sf_dir).select(
        "doc_id", F.expr(_GOPHER_TEXT_SQL).alias("text")
    )
    s = T.gopher_signals(F.col("text"))
    reason = T.gopher_reason(s)
    return docs.select(
        "doc_id",
        s["n_words"].alias("n_words"),
        s["n_lines"].alias("n_lines"),
        s["n_alpha_words"].alias("n_alpha_words"),
        s["n_stop_distinct"].alias("n_stop_distinct"),
        reason.alias("reason"),
        F.when(reason.isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("keep"),
    )


def _sql_gopher_filter() -> str:
    """DuckDB replay of gopher_filter: identical planted-text CASE,
    identical integer rule arithmetic, RE2 forms of the same (?m)
    line-shape regexes."""
    stop = ", ".join(f"'{w}'" for w in T.GOPHER_STOPWORDS)
    return rf"""
        WITH planted AS (
            SELECT doc_id, {_GOPHER_TEXT_SQL} AS text FROM documents
        ),
        toked AS (
            SELECT doc_id, text, {_TOKS_RAW} AS toks FROM planted
        ),
        sig AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   length(regexp_replace(text, '\s', '', 'g'))
                       AS n_word_chars,
                   length(text) - length(replace(text, '#', ''))
                       AS n_hash,
                   len(regexp_extract_all(text, '(\.\.\.|…)'))
                       AS n_ellipsis,
                   length(text) - length(replace(text, chr(10), '')) + 1
                       AS n_lines,
                   len(regexp_extract_all(text, '(?m)^[-•*] '))
                       AS n_bullet_lines,
                   len(regexp_extract_all(text, '(?m)(\.\.\.|…)$'))
                       AS n_ellipsis_lines,
                   len(list_filter(toks,
                       x -> regexp_matches(x, '[A-Za-z]')))
                       AS n_alpha_words,
                   len(list_distinct(list_transform(list_filter(toks,
                       x -> lower(x) IN ({stop})), x -> lower(x))))
                       AS n_stop_distinct
            FROM toked
        ),
        ruled AS (
            SELECT *,
                   CASE
                   WHEN n_words < 50 OR n_words > 100000
                       THEN 'word_count'
                   WHEN n_word_chars < 3 * n_words
                        OR n_word_chars > 10 * n_words
                       THEN 'mean_word_len'
                   WHEN 10 * (n_hash + n_ellipsis) > n_words
                       THEN 'symbol_ratio'
                   WHEN 10 * n_bullet_lines > 9 * n_lines
                       THEN 'bullet_lines'
                   WHEN 10 * n_ellipsis_lines > 3 * n_lines
                       THEN 'ellipsis_lines'
                   WHEN 5 * n_alpha_words < 4 * n_words
                       THEN 'alpha_words'
                   WHEN n_stop_distinct < 2 THEN 'stopwords'
                   END AS reason
            FROM sig
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_lines AS BIGINT) AS n_lines,
               CAST(n_alpha_words AS BIGINT) AS n_alpha_words,
               CAST(n_stop_distinct AS BIGINT) AS n_stop_distinct,
               reason,
               CAST(CASE WHEN reason IS NULL THEN 1 ELSE 0 END AS INT)
                   AS keep
        FROM ruled
    """


#: corpus_funnel quality floor: the C4-ish minimum word count. The
#: published Gopher floor (50) plus the 2-stopword rule would gate this
#: synthetic vocabulary-sample corpus to ZERO rows (no doc has 2
#: distinct Gopher stopwords) — a degenerate funnel proves nothing —
#: so the funnel keeps every OTHER Gopher rule at published thresholds
#: and documents the two deltas here.
FUNNEL_MIN_WORDS = 20


def _funnel_reason(s: dict) -> F.Column:
    """Gopher reason chain at funnel thresholds: word floor at
    FUNNEL_MIN_WORDS, stopword rule omitted (see FUNNEL_MIN_WORDS
    note); every other rule identical to textstats.gopher_reason."""
    return (
        F.when(
            (s["n_words"] < FUNNEL_MIN_WORDS)
            | (s["n_words"] > 100000),
            F.lit("word_count"),
        )
        .when(
            (s["n_word_chars"] < 3 * s["n_words"])
            | (s["n_word_chars"] > 10 * s["n_words"]),
            F.lit("mean_word_len"),
        )
        .when(
            10 * (s["n_hash"] + s["n_ellipsis"]) > s["n_words"],
            F.lit("symbol_ratio"),
        )
        .when(
            10 * s["n_bullet_lines"] > 9 * s["n_lines"],
            F.lit("bullet_lines"),
        )
        .when(
            10 * s["n_ellipsis_lines"] > 3 * s["n_lines"],
            F.lit("ellipsis_lines"),
        )
        .when(
            5 * s["n_alpha_words"] < 4 * s["n_words"],
            F.lit("alpha_words"),
        )
    )


def corpus_funnel(spark, sf_dir):
    """THE end-to-end curation funnel over KERNEL output — the composed
    batch job a training-data pipeline actually ships: fused extraction
    kernel (HTML route -> boilerplate strip -> canonical assembly,
    functions/kernel.py) -> Gopher-signal quality gate (funnel
    thresholds, _funnel_reason) -> exact dedup (min-id per normalized
    md5 fingerprint) -> minhash-LSH near dedup (dedup.dedup_corpus's
    md5 chain) -> PII redaction over deterministically PLANTED per-doc
    PII (the synthetic corpus has none of its own; redacting planted
    email/ip/phone proves a real transformation, CLAUDE.md
    planted-data rule) -> per-doc export counters (token count of the
    final text). DuckDB replays every stage from the documents table,
    so the value hash proves the whole composed funnel, not any single
    operator. Composition mirrors jobs/build_corpus.py; reference
    parity: the service's per-request pipeline ocr/main.py:151-175
    composed at corpus scale."""
    from . import bridge

    wide = bridge.extract_documents(spark, sf_dir).select(
        "doc_id", "canonical_text"
    )
    s = T.gopher_signals(F.col("canonical_text"))
    gated = wide.where(_funnel_reason(s).isNull()).select(
        "doc_id", F.col("canonical_text").alias("text")
    )
    # cut lineage at the stage boundary (same discipline as
    # jobs/build_corpus.py): dedup_corpus consumes its input for the
    # eager signature build AND the returned survivors join, and with
    # no ReusedExchange under AQE each consumer replays the whole
    # kernel + gate (CLAUDE.md extra-consumer rule). At sf0.1 the wall
    # is unchanged (the kernel is ~1.2 s of a 7 s funnel and the
    # checkpoint write costs about what one replay saves); at real
    # scale the kernel dominates and must run ONCE.
    gated = D._truncate_lineage(gated)
    kept = D.dedup_corpus(gated, threshold=0.7)
    planted = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
        F.concat(
            F.lit("ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".17"),
        ),
        F.concat(
            F.lit("tel +1 555 000 "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    red = T.redact_pii(planted)
    return kept.select(
        "doc_id",
        red.alias("text_final"),
        T.token_count(red).alias("n_tok"),
    )


def _sql_corpus_funnel(
    threshold: float = 0.7, k: int = 16, bands: int = 4
) -> str:
    """DuckDB replay of corpus_funnel from the raw documents table:
    canonical 12-token-line kernel contract -> funnel Gopher gate ->
    the _sql_dedup_corpus_kept md5 dedup chain sourced from the gated
    set -> planted-PII redaction -> token count."""
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{i}:', s)))) AS mh{i}"
        for i in range(k)
    )
    rpb = k // bands
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"mh{i}" for i in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for b in range(bands)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    plant = (
        "concat_ws(' ', text, "
        "'contact user' || CAST(doc_id AS VARCHAR) || '@example.com', "
        "'ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17', "
        "'tel +1 555 000 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
    )
    red = plant
    for pat, repl in T.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return rf"""
        WITH toks0 AS (
            SELECT doc_id, tok,
                   row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS rn
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(text, '\s+')) AS tok,
                       generate_subscripts(
                           string_split_regex(text, '\s+'), 1) AS pos
                FROM documents
            )
            WHERE tok <> ''
        ),
        lines0 AS (
            SELECT doc_id, (rn - 1) // 12 AS line_no,
                   string_agg(tok, ' ' ORDER BY rn) AS line_text,
                   count(*) AS n
            FROM toks0 GROUP BY doc_id, (rn - 1) // 12
        ),
        assembled AS (
            SELECT doc_id,
                   string_agg(line_text, chr(10) ORDER BY line_no) AS txt,
                   sum(n) AS total
            FROM lines0 GROUP BY doc_id
        ),
        canon AS (
            SELECT d.doc_id,
                   CASE WHEN coalesce(a.total, 0) >= 3 THEN a.txt
                        ELSE '' END AS text
            FROM documents d LEFT JOIN assembled a USING (doc_id)
        ),
        sig0 AS (
            SELECT doc_id, text,
                   len({_TOKS_RAW}) AS n_words,
                   length(regexp_replace(text, '\s', '', 'g'))
                       AS n_word_chars,
                   length(text) - length(replace(text, '#', ''))
                       AS n_hash,
                   len(regexp_extract_all(text, '(\.\.\.|…)'))
                       AS n_ellipsis,
                   length(text) - length(replace(text, chr(10), '')) + 1
                       AS n_lines,
                   len(regexp_extract_all(text, '(?m)^[-•*] '))
                       AS n_bullet_lines,
                   len(regexp_extract_all(text, '(?m)(\.\.\.|…)$'))
                       AS n_ellipsis_lines,
                   len(list_filter({_TOKS_RAW},
                       x -> regexp_matches(x, '[A-Za-z]')))
                       AS n_alpha_words
            FROM canon
        ),
        gated AS (
            SELECT doc_id, text FROM sig0
            WHERE NOT (n_words < {FUNNEL_MIN_WORDS} OR n_words > 100000)
              AND NOT (n_word_chars < 3 * n_words
                       OR n_word_chars > 10 * n_words)
              AND NOT (10 * (n_hash + n_ellipsis) > n_words)
              AND NOT (10 * n_bullet_lines > 9 * n_lines)
              AND NOT (10 * n_ellipsis_lines > 3 * n_lines)
              AND NOT (5 * n_alpha_words < 4 * n_words)
        ),
        fp AS (
            SELECT doc_id, text,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                       AS fingerprint
            FROM gated
        ),
        survivors AS (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY doc_id) AS rn
                FROM fp
            ) WHERE rn = 1
        ),
        {_shingle_ctes("survivors")},
        sigs AS (SELECT doc_id, {mins} FROM shingled),
        banded AS ({band_rows}),
        cands AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        losers AS (
            SELECT DISTINCT c.id_b
            FROM cands c
            JOIN sigs sa ON sa.doc_id = c.id_a
            JOIN sigs sb ON sb.doc_id = c.id_b
            WHERE round(({eq}) / {float(k)}, 4) >= {threshold}
        ),
        kept AS (
            SELECT s.doc_id, s.text FROM survivors s
            LEFT JOIN losers l ON s.doc_id = l.id_b
            WHERE l.id_b IS NULL
        ),
        redacted AS (
            SELECT doc_id, {red} AS text_final FROM kept
        )
        SELECT doc_id, text_final,
               CAST(len(list_filter(
                   string_split_regex(text_final, '\s+'), x -> x <> ''))
                   AS BIGINT) AS n_tok
        FROM redacted
    """


#: planted per-host texts for the RefinedWeb per-site boilerplate rule
#: — one shared SQL expression both engines evaluate (same trick as
#: the Gopher filter). Three line kinds per doc: a host banner shared
#: by every page of the host (MUST drop: within-host occ >= 2), a
#: licence line appearing on exactly ONE page of EACH host (globally
#: common, within-host unique — MUST survive; a corpus-global count
#: would wrongly drop it, which is exactly the semantic difference the
#: hash proves), and a per-doc content line (always kept).
_HOSTLINE_TEXT_SQL = """CASE WHEN doc_id % 101 = 0 THEN
        'welcome to host h' || CAST(doc_id % 5 AS STRING) || chr(10)
        || 'copyright notice twenty twenty six' || chr(10)
        || 'doc content number ' || CAST(doc_id AS STRING)
    ELSE
        'welcome to host h' || CAST(doc_id % 5 AS STRING) || chr(10)
        || 'doc content number ' || CAST(doc_id AS STRING)
    END"""


def host_line_dedup(spark, sf_dir):
    """RefinedWeb/CCNet per-SITE boilerplate removal: line dedup with
    the occurrence count scoped to the host (dedup_paragraphs
    scope_col) — template chrome repeated across one host's pages is
    removed even when globally rare, while a line that is globally
    common but unique within each host survives. Same 2-exchange
    1-scan shape as the global pass; the scoped window is also the
    safer shuffle at web scale (hot global lines split across hosts)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string")).alias(
            "host"
        ),
        F.expr(_HOSTLINE_TEXT_SQL).alias("text"),
    )
    out = D.dedup_paragraphs(
        docs, "doc_id", "text", sep="\n", min_df=2, scope_col="host"
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias(
            "host"
        ),
        "text_dedup",
        "n_lines_kept",
        "n_lines_dropped",
    )


def _sql_host_line_dedup() -> str:
    """DuckDB replay: identical planted text, occurrence count over
    (host, line), ordered reassembly."""
    return f"""
        WITH planted AS (
            SELECT doc_id,
                   'h' || CAST(doc_id % 5 AS STRING) AS host,
                   {_HOSTLINE_TEXT_SQL} AS text
            FROM documents
        ),
        lines AS (
            SELECT doc_id, host,
                   unnest(string_split(text, chr(10))) AS line,
                   generate_subscripts(string_split(text, chr(10)), 1)
                       AS pos
            FROM planted
        ),
        occ AS (
            SELECT doc_id, host, pos, line,
                   count(*) OVER (PARTITION BY host, line) AS oc
            FROM lines
        )
        SELECT doc_id, host,
               coalesce(string_agg(CASE WHEN oc < 2 THEN line END,
                                   chr(10) ORDER BY pos), '')
                   AS text_dedup,
               CAST(count(CASE WHEN oc < 2 THEN 1 END) AS BIGINT)
                   AS n_lines_kept,
               CAST(count(CASE WHEN oc >= 2 THEN 1 END) AS BIGINT)
                   AS n_lines_dropped
        FROM occ GROUP BY doc_id, host
    """


SEM_K = 16  # SemDeDup codebook size: K is the paper's pair-count knob
SEM_T = 0.3  # semantic-duplicate cosine (matches NEARDUP_T's data scale)


def semantic_dedup_keep(spark, sf_dir):
    """SemDeDup over the embeddings table: deterministic seed codebook
    (same id%7 rule the IVF oracle rebuilds), within-cluster cosine >=
    SEM_T drops all but the lowest-id member of each duplicate group."""
    emb = _emb_par(spark, sf_dir)
    cents = S.ivf_centroids(emb, n_lists=SEM_K, iterations=0)
    return S.semantic_dedup(emb, cents, threshold=SEM_T)


def _sql_semantic_dedup(n_lists: int = SEM_K, t: float = SEM_T) -> str:
    cos_ec = (
        "list_dot_product(e.embedding::DOUBLE[], c.c) / "
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], "
        "e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.c, c.c)))"
    )
    cos_ab = (
        "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(a.embedding::DOUBLE[], "
        "a.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(b.embedding::DOUBLE[], "
        "b.embedding::DOUBLE[])))"
    )
    return f"""
        WITH seeds AS (
            SELECT vec_id, embedding::DOUBLE[] AS c FROM embeddings
            WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT {n_lists}
        ),
        cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, c
            FROM seeds
        ),
        assign AS (
            SELECT vec_id, embedding, list_id FROM (
                SELECT e.vec_id, e.embedding, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {cos_ec} DESC,
                                                   c.list_id) AS rn
                FROM embeddings e CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
              ON a.list_id = b.list_id AND a.vec_id < b.vec_id
            WHERE round({cos_ab}, 4) >= {t}
        )
        SELECT a.vec_id, CAST(a.list_id AS INT) AS list_id,
               CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        FROM assign a LEFT JOIN dropped d USING (vec_id)
    """


DSIR_BUCKETS = 256


def dsir_select(spark, sf_dir):
    """DSIR importance selection: target distribution = English docs,
    keep the top half of the corpus by hashed-bigram log-likelihood
    ratio. md5 hash mode = the oracle-replayable path (production
    default is xxhash64)."""
    from . import dsir as DS

    return DS.dsir_importance(
        _docs_par(spark, sf_dir),
        target=F.col("lang") == "en",
        n_buckets=DSIR_BUCKETS,
        keep_frac=0.5,
        hash_mode="md5",
    )


def quality_linear_score(spark, sf_dir):
    """Hashed linear classifier apply (fastText/CCNet quality-model
    shape): deterministic synthetic weight vector over the same hashed
    gram space — w_micro[b] = (b * 2654435761) % 2001 - 1000 (a
    Knuth-multiplicative spread; the env ships no trained model, so
    the weights are planted, the PLUMBING — hashed features, broadcast
    weight join, per-doc integer sum, sign label — is the real op)."""
    from . import dsir as DS

    spark_b = spark.range(DSIR_BUCKETS).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 2001 - 1000).alias("w_micro"),
    )
    return DS.hashed_linear_score(
        _docs_par(spark, sf_dir),
        weights=spark_b,
        n_buckets=DSIR_BUCKETS,
        hash_mode="md5",
    )


def perplexity_filter_q(spark, sf_dir):
    """CCNet-style perplexity filter via a hashed bigram LM fit on the
    corpus itself; md5 hash mode = the oracle-replayable path."""
    from . import dsir as DS

    return DS.perplexity_filter(
        _docs_par(spark, sf_dir),
        n_buckets=DSIR_BUCKETS,
        keep_frac=0.5,
        hash_mode="md5",
    )


def _sql_perplexity() -> str:
    b = DSIR_BUCKETS
    h = "('0x' || substr(md5({}), 1, 8))::BIGINT % " + str(b)
    return f"""
        WITH norm AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
        bi AS (
            SELECT doc_id,
                   unnest([toks[i] for i in
                           generate_series(1, len(toks) - 1)]) AS w1,
                   unnest([toks[i + 1] for i in
                           generate_series(1, len(toks) - 1)]) AS w2
            FROM norm WHERE len(toks) >= 2
        ),
        bb AS (
            SELECT doc_id, {h.format('w1')} AS b1, {h.format('w2')} AS b2
            FROM bi
        ),
        cb AS (SELECT b1, b2, count(*) AS c12 FROM bb GROUP BY 1, 2),
        c1 AS (SELECT b1, sum(c12) AS c1 FROM cb GROUP BY 1),
        model AS (
            SELECT b1, b2,
                   CAST(round(1e6 * ln((c12 + 1.0) / (c1 + {b})))
                        AS BIGINT) AS w_micro
            FROM cb JOIN c1 USING (b1)
        ),
        scored AS (
            SELECT doc_id, sum(w_micro) AS lp, count(*) AS nb
            FROM bb JOIN model USING (b1, b2) GROUP BY 1
        ),
        scores AS (
            SELECT d.doc_id,
                   CAST(coalesce(lp, 0) AS BIGINT) AS logprob_micro,
                   CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
                   CAST(CASE WHEN coalesce(nb, 0) > 0
                             THEN round(lp / nb) ELSE 0 END
                        AS BIGINT) AS mean_micro
            FROM documents d LEFT JOIN scored USING (doc_id)
        ),
        thr AS (SELECT quantile_cont(mean_micro, 0.5) AS t FROM scores)
        SELECT doc_id, logprob_micro, n_bigrams, mean_micro,
               CASE WHEN mean_micro >= t THEN 1 ELSE 0 END AS keep
        FROM scores CROSS JOIN thr
    """


def _sql_gram_tfb() -> str:
    """Shared CTE chain: normalized uni+bigram bag -> md5 bucket counts
    (matches dsir.hashed_gram_counts in md5 mode)."""
    return f"""
norm AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
uni AS (SELECT doc_id, unnest(toks) AS g FROM norm),
bi AS (
    SELECT doc_id,
           unnest([toks[i] || ' ' || toks[i + 1]
                   for i in generate_series(1, len(toks) - 1)]) AS g
    FROM norm WHERE len(toks) >= 2
),
grams AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
tfb AS (
    SELECT doc_id,
           ('0x' || substr(md5(g), 1, 8))::BIGINT % {DSIR_BUCKETS}
               AS bucket,
           count(*) AS cnt
    FROM grams GROUP BY 1, 2
)
"""


def _sql_dsir_select() -> str:
    b = DSIR_BUCKETS
    return f"""
        WITH {_sql_gram_tfb()},
        flags AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_target
            FROM documents
        ),
        bt AS (
            SELECT bucket, sum(cnt) AS raw_cnt,
                   sum(cnt * is_target) AS tgt_cnt
            FROM tfb JOIN flags USING (doc_id) GROUP BY bucket
        ),
        tot AS (
            SELECT sum(raw_cnt) AS r_tot, sum(tgt_cnt) AS t_tot FROM bt
        ),
        ratio AS (
            SELECT bucket,
                   CAST(round(1e6 * (
                       ln((tgt_cnt + 1.0) / (t_tot + {b}))
                       - ln((raw_cnt + 1.0) / (r_tot + {b}))
                   )) AS BIGINT) AS w_micro
            FROM bt CROSS JOIN tot
        ),
        scored AS (
            SELECT tfb.doc_id, sum(cnt * w_micro) AS s
            FROM tfb JOIN ratio USING (bucket) GROUP BY 1
        ),
        scores AS (
            SELECT f.doc_id, f.is_target,
                   CAST(coalesce(s, 0) AS BIGINT) AS score_micro
            FROM flags f LEFT JOIN scored USING (doc_id)
        ),
        thr AS (SELECT quantile_cont(score_micro, 0.5) AS t FROM scores)
        SELECT doc_id, is_target, score_micro,
               CASE WHEN score_micro >= t THEN 1 ELSE 0 END AS keep
        FROM scores CROSS JOIN thr
    """


def _sql_quality_linear() -> str:
    return f"""
        WITH {_sql_gram_tfb()},
        wts AS (
            SELECT b AS bucket, (b * 2654435761) % 2001 - 1000 AS w_micro
            FROM generate_series(0, {DSIR_BUCKETS - 1}) t(b)
        ),
        scored AS (
            SELECT doc_id, sum(cnt * w_micro) AS s
            FROM tfb JOIN wts USING (bucket) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(s, 0) AS BIGINT) AS score_micro,
               CASE WHEN coalesce(s, 0) >= 0 THEN 1 ELSE 0 END AS label
        FROM documents d LEFT JOIN scored USING (doc_id)
    """


SPARK_QUERIES = {
    "quality_filter": quality_filter,
    "dedup_spans_removed": dedup_spans_removed,
    "url_dedup": url_dedup,
    "semantic_dedup": semantic_dedup_keep,
    "dedup_exact_groups": dedup_exact_groups,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_sig": dedup_minhash_sig,
    "text_quality": text_quality,
    "token_counts_bpe": token_counts_bpe,
    "text_fingerprints": text_fingerprints,
    "lang_id": lang_id_q,
    "tfidf_top_terms": tfidf_top_terms,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    # PDF-path kernel semantics, driver-oracle-checked end to end
    "pdf_kernel_pages": P.pdf_kernel_pages,
    "pdf_page_slice": P.pdf_page_slice,
    "pdf_spans_flat": P.pdf_spans_flat,
    "dedup_corpus_kept": dedup_corpus_kept,
    "dedup_incremental_kept": dedup_incremental_kept,
    "contamination_ngrams": contamination_ngrams,
    "pii_redaction": pii_redaction,
    "unicode_nfc": unicode_nfc,
    "neardup_components": neardup_components,
    "neardup_components_star": neardup_components_star,
    "neardup_keep_best": neardup_keep_best,
    "neardup_cluster_sizes": neardup_cluster_sizes,
    "url_host_filter": url_host_filter,
    "gopher_filter": gopher_filter,
    "corpus_funnel": corpus_funnel,
    "host_line_dedup": host_line_dedup,
    "repetition_stats": repetition_stats,
    "embedding_neardups": embedding_neardups,
    "embedding_neardups_auto": embedding_neardups_auto,
    "ann_ivf_topk": ann_ivf_topk,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_neardup_pairs": simhash_neardup_pairs,
    "image_features": image_features_fake,
    "audio_features": audio_features_fake,
    "dsir_select": dsir_select,
    "quality_linear_score": quality_linear_score,
    "perplexity_filter": perplexity_filter_q,
}

ORACLES = {
    "quality_filter": _sql_quality_filter(),
    "dedup_spans_removed": _sql_dedup_spans(),
    "url_dedup": _sql_url_dedup(),
    "semantic_dedup": _sql_semantic_dedup(),
    "dedup_exact_groups": _sql_dedup_exact(),
    "dedup_ngram_jaccard": _sql_jaccard(),
    "dedup_minhash_sig": _sql_minhash(),
    "text_quality": _sql_quality(),
    "token_counts_bpe": _sql_bpe(),
    "text_fingerprints": _sql_fingerprint(),
    "lang_id": _sql_lang_id(),
    "tfidf_top_terms": _sql_tfidf(),
    "ann_cosine_topk": _sql_ann_brute(),
    "ann_lsh_topk": _sql_ann_lsh(),
    "dedup_corpus_kept": _sql_dedup_corpus_kept(),
    # incremental == one-shot under monotone ids (tested invariant):
    # the same full-corpus SQL verifies the incremental path
    "dedup_incremental_kept": _sql_dedup_corpus_kept(),
    "contamination_ngrams": _sql_contamination_ngrams(),
    "pii_redaction": _sql_pii_redaction(),
    "unicode_nfc": _sql_unicode_nfc(),
    "neardup_components": _sql_neardup_components(),
    "neardup_components_star": _sql_neardup_components(),
    "neardup_keep_best": _sql_neardup_keep_best(),
    "neardup_cluster_sizes": _sql_neardup_cluster_sizes(),
    "url_host_filter": _sql_url_host_filter(),
    "gopher_filter": _sql_gopher_filter(),
    "corpus_funnel": _sql_corpus_funnel(),
    "host_line_dedup": _sql_host_line_dedup(),
    "repetition_stats": _sql_repetition(),
    "dsir_select": _sql_dsir_select(),
    "quality_linear_score": _sql_quality_linear(),
    "perplexity_filter": _sql_perplexity(),
    "embedding_neardups": _sql_embedding_neardups(),
    "embedding_neardups_auto": _sql_embedding_neardups(8),
    "ann_ivf_topk": _sql_ann_ivf(IVF_LISTS, IVF_PROBE),
    "simhash_fingerprints": _sql_simhash_fingerprints(),
    "simhash_neardup_pairs": _sql_simhash_neardup_pairs(),
    "image_features": _sql_image_features(),
    "audio_features": _sql_audio_features(),
    "pdf_kernel_pages": P.sql_pdf_kernel_pages(),
    "pdf_page_slice": P.sql_pdf_page_slice(),
    "pdf_spans_flat": P.sql_pdf_spans_flat(),
}
