"""Physical-plan regression tests: the shapes that matter at 100 TB."""

from __future__ import annotations

import pytest

from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.operators import relational as R
from tesseract_ocr_service_spark.sources import gen


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    gen.write_pages(spark, path, 100, seed=3, partitions=2)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_plan_is_narrow(spark, pages_path):
    """scan -> project -> kernel, ZERO shuffles (no Exchange nodes)."""
    plan = _plan(X.extract(X.read_pages(spark, pages_path)))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_extraction_scan_prunes_partitions_and_columns(spark, pages_path):
    plan = _plan(
        X.extract(X.read_pages(spark, pages_path, "2026-01-03", "2026-01-07"))
    )
    assert "PartitionFilters" in plan and "warc_day" in plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # only the 4 kernel columns; the decoy `text` column never scanned
    assert "html:binary" in scan and "text" not in scan


def test_salted_plan_has_exactly_one_exchange(spark, pages_path):
    plan = _plan(X.extract(X.read_pages(spark, pages_path), salt_partitions=8))
    assert plan.count("Exchange") == 1  # the explicit salt repartition


def test_dim_joins_are_broadcast(spark):
    plan = _plan(R.top_customers_by_region(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # top-k is pushed below the shuffle (partial WindowGroupLimit)
    assert "WindowGroupLimit" in plan


def test_no_python_row_udfs_anywhere(spark, pages_path):
    """'zero per-row Python': BatchEvalPython (row-at-a-time UDF) must
    never appear; only Arrow-batched MapInPandas/MapInArrow is allowed."""
    for df in [
        X.extract(X.read_pages(spark, pages_path)),
        R.assembly_relational(spark, "/root/testdata/sf0.001"),
        R.pricing_summary(spark, "/root/testdata/sf0.001"),
    ]:
        assert "BatchEvalPython" not in _plan(df)


def test_ivf_index_read_is_partition_pruned(spark, tmp_path):
    """ann_topk_ivf_indexed must read ONLY the probed list partitions:
    the list_id predicate shows up as a PartitionFilter on the index
    scan (physical pruning — the property that makes IVF an index)."""
    from tesseract_ocr_service_spark.operators import similarity as S

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.ivf_centroids(embs, n_lists=4, iterations=0)
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(embs, cents, idx)
    q = [float(x) for x in embs.orderBy("vec_id").first()["embedding"]]
    df = S.ann_topk_ivf_indexed(spark, idx, q, cents, k=5, n_probe=2)
    plan = _plan(df)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and "list_id" in scan[0], plan


def test_quota_sample_and_splits_have_no_global_window(spark):
    """domain_quota_sample's window is PARTITIONED by the quota key and
    train/val/test splits are shuffle-free column expressions."""
    sf = "/root/testdata/sf0.001"
    plan = _plan(R.domain_quota_sample(spark, sf, k=20))
    assert "Window" in plan
    assert "No Partition Defined" not in plan
    plan2 = _plan(R.train_val_test_split(spark, sf))
    assert "Exchange" not in plan2, plan2


def test_lang_temperature_sample_broadcasts_counts(spark):
    """Per-lang counts reach the corpus as BROADCAST joins (tiny agg
    shuffle only) — never a count window over lang, which would shuffle
    the whole corpus by a head-heavy key."""
    plan = _plan(R.lang_temperature_sample(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row n_min cross
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan


def test_lsh_pair_plans_scan_upstream_minimally(spark):
    """The bucket cap must be a window count, not a counts anti-join:
    the anti-join form made the counts side an extra consumer of the
    expensive upstream (no ReusedExchange under AQE — CLAUDE.md), so
    simhash_pairs evaluated its tokenize + 64-bit-sum stage 4x and
    ngram_jaccard_pairs its shingle pipeline 5x. Pin the physical
    scan-node counts: simhash = 2 (the two streaming self-join
    aliases); ngram = 4 (two aliases x the 2-branch union inside
    shingle_rows — per-doc sizes are window counts carried through the
    join, NOT a separate sizes table joined twice); embedding = 3 (1
    bucket aggregation + 2 cheap vector join-backs)."""
    from tesseract_ocr_service_spark.operators import dedup as D
    from tesseract_ocr_service_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")

    def _scans(df, pat):
        return sum(
            1
            for line in _plan(df).splitlines()
            if "Scan parquet" in line and pat in line
        )

    assert _scans(D.simhash_pairs(docs), "documents.parquet") == 2
    # multi-index: sh rides the key fan-out as a struct member, so the
    # expensive tokenize+64-sum stage runs ONCE (no verify join-back)
    assert (
        _scans(D.simhash_pairs_multi_index(docs), "documents.parquet") == 1
    )
    # round 6, both shingle impls pinned: at sf0.001 impl='auto'
    # resolves to the pure-plan window shape (union small-doc branch:
    # 2 aliases x 2 branches = 4 scans); the >=4MB pandas shape has no
    # union branch (2 scans) and exactly one MapInPandas per alias.
    assert _scans(D.ngram_jaccard_pairs(docs), "documents.parquet") == 4
    sh_pd = D.shingle_rows(docs, impl="pandas")
    assert _scans(sh_pd, "documents.parquet") == 1
    assert "MapInPandas" in _plan(sh_pd)
    # round 6: the fat-bucket path fuses candidate enumeration and the
    # exact-fold-order numpy verify into ONE grouped pass — vectors ride
    # the band fan-out, so the two vector join-backs are gone: 1 scan.
    assert _scans(S.embedding_neardup_pairs(embs), "embeddings.parquet") == 1
    # minhash_dedup_pairs with no sigs supplied: the signature table is
    # eagerly lineage-truncated at construction, so the pair plan's
    # three signature consumers (banding + both verify sides) read the
    # checkpoint — ZERO parquet scans of the text remain in the plan
    # (was 3 full shingle+min-agg replays, ~3x the signature wall).
    assert _scans(D.minhash_dedup_pairs(docs), "documents.parquet") == 0


def test_connected_components_symmetrizes_with_one_edge_scan(spark):
    """connected_components must symmetrize edges via a single-scan
    explode, not union(select, select): the union form consumes the
    (often expensive — LSH banding + verify) edge plan twice with no
    ReusedExchange under AQE. Pinned on a parquet-backed edge table:
    exactly ONE scan in the materialized symmetric-edge checkpoint's
    lineage means the loop setup read the edge source once."""
    import pyspark.sql.functions as F

    from tesseract_ocr_service_spark.operators import dedup as D

    edges = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            F.xxhash64("doc_id").alias("src"),
            F.xxhash64("text").alias("dst"),
        )
        .limit(10)
    )
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("e")
    ).select("e.s", "e.d")
    plan = _plan(sym)
    assert (
        sum(
            1
            for line in plan.splitlines()
            if "Scan parquet" in line and "documents.parquet" in line
        )
        == 1
    ), plan
    # and the op itself produces the same components as a naive union
    small = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4)], "src long, dst long"
    )
    vs = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    got = {
        (r["id"], r["component_id"])
        for r in D.connected_components(small, vs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}


def test_top_tokens_has_no_global_window(spark):
    """top_tokens must rank via an ordered limit (per-partition top-k
    merged on the driver), NEVER an unpartitioned WindowExec that drags
    the billion-row distinct-token table onto one task."""
    df = R.top_tokens(spark, "/root/testdata/sf0.001", k=20)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_dedup_paragraphs_two_exchanges_one_scan(spark):
    """Line dedup = ONE global line-frequency window + ONE reassembly
    groupBy over a single source scan — no self-join, no second scan."""
    from tesseract_ocr_service_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(D.dedup_paragraphs(docs))
    assert plan.count("Exchange") == 2, plan
    assert (
        sum(
            1
            for line in plan.splitlines()
            if "Scan parquet" in line and "documents.parquet" in line
        )
        == 1
    )


def test_pack_sequences_window_is_sharded(spark):
    """Sequence packing must never plan a GLOBAL window (a corpus-wide
    single-task sort): the cumulative-token window partitions by the
    hash shard."""
    plan = _plan(R.pack_sequences(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan
    assert "No Partition Defined" not in plan, plan


def test_hashed_gram_counts_one_scan_one_exchange(spark):
    """The DSIR/perplexity feature pass: tokenize -> posexplode ->
    window-lead -> gram explode -> bucket groupBy must stay ONE scan
    and ONE exchange (the groupBy's (id, ...) key reuses the window's
    per-id hash partitioning), with zero Python stages."""
    from tesseract_ocr_service_spark.operators import dsir as DS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(DS.hashed_gram_counts(docs))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hashed_linear_score_weight_join_is_broadcast(spark):
    """The model-apply join must broadcast the weight vector, never
    shuffle the gram table onto bucket; the only sort-merge join
    allowed is the final slim id re-attach."""
    from pyspark.sql import functions as F

    from tesseract_ocr_service_spark.operators import dsir as DS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = spark.range(256).select(
        F.col("id").alias("bucket"), F.lit(1).alias("w_micro")
    )
    plan = _plan(DS.hashed_linear_score(docs, w))
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert "Cartesian" not in plan


def test_gopher_filter_is_jvm_only_single_scan(spark):
    """The Gopher rule set must stay whole-JVM (no Python eval of any
    kind) and read the documents table exactly once — at 10^12 rows a
    second scan or a Python stage IS the cost."""
    from tesseract_ocr_service_spark.operators import queries as Q

    plan = _plan(Q.gopher_filter(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Scan parquet") == 1, plan
    # round 6: queries._par is SIZE-ADAPTIVE — below 4MB of source the
    # plan stays the exchange-free single-task projection (sf0.001
    # here); at sf1.0 the same query gets exactly one deterministic
    # REPARTITION_BY_NUM spread (9.1 s -> 0.8 s measured). Pin the
    # small regime here and the threshold rule directly below.
    assert "Exchange" not in plan, plan


def test_par_threshold_spreads_only_big_sources(spark):
    """queries._par pins the size-adaptive rule: a tiny source keeps
    its plan (no exchange), a >=4MB source gets the deterministic
    hash repartition — verified against the real sf dirs."""
    from tesseract_ocr_service_spark.operators import queries as Q

    small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert "Exchange" not in _plan(Q._par(small, "doc_id"))
    assert 0 < Q._input_bytes(small) < 4 * 1024 * 1024
    # frames with no file sources use the optimizer's stats (r6: real
    # for eager checkpoints — a 0-byte read would silently disable
    # every size gate downstream of a checkpoint); stat-less in-memory
    # frames (pyspark createDataFrame reports the Long.MaxValue
    # default) stay at 0 and are never spread
    tiny = spark.createDataFrame([(1,)], ["doc_id"])
    assert Q._input_bytes(tiny) == 0
    assert "Exchange" not in _plan(Q._par(tiny, "doc_id"))
    big_ckpt = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet"
    ).localCheckpoint(eager=True)
    assert Q._input_bytes(big_ckpt) > 0


def test_corpus_funnel_dedup_reads_checkpoint_not_parquet(spark):
    """corpus_funnel cuts lineage at the gate boundary, so the dedup
    chain (eager signature build + survivors join) must consume the
    checkpointed gate output — ZERO parquet scans in the final plan.
    Without the cut, every dedup consumer replays the whole kernel +
    gate (no ReusedExchange under AQE — CLAUDE.md extra-consumer
    rule)."""
    from tesseract_ocr_service_spark.operators import queries as Q

    out = Q.corpus_funnel(spark, "/root/testdata/sf0.001")
    plan = _plan(out)
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_content_type_gate_keeps_narrow_plan(spark, pages_path, tmp_path):
    """The Content-Type gate verdict is one JVM projection expression:
    with a content_type column present the plan stays scan -> project
    -> kernel — ZERO exchanges, no BatchEvalPython, and the verdict
    never widens the scan beyond kernel columns + content_type."""
    from pyspark.sql import functions as F

    staged = str(tmp_path / "ct_pages")
    (
        X.read_pages(spark, pages_path)
        .withColumn("content_type", F.lit("text/html"))
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.partitionBy("warc_day")
        .parquet(staged)
    )
    plan = _plan(X.extract(X.read_pages(spark, staged)))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "content_type" in scan and "text" not in scan.replace(
        "content_type", ""
    )
