"""Composed dedup pipeline, IVF ANN, JSON response shape, SQL views."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from tesseract_ocr_service_spark.operators import dedup as D
from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.operators import similarity as S
from tesseract_ocr_service_spark.plans import commit as C
from tesseract_ocr_service_spark.sources import gen


def test_dedup_corpus_pipeline(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1 -> dropped
        (3, base + " extra"),  # near dup of 1 -> dropped by minhash
        (4, "completely different content about spark shuffles and joins"),
        (5, ""),  # empty survives (its own fingerprint)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(
        r["doc_id"] for r in D.dedup_corpus(df, threshold=0.5).collect()
    )
    assert kept == [1, 4, 5]


def test_ivf_ann(spark):
    r = random.Random(9)
    rows = [(i, [r.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = S.ivf_centroids(df, n_lists=8, iterations=1)
    assert len(cents) == 8 and len(cents[0]) == 16
    # deterministic across recomputation
    again = S.ivf_centroids(df, n_lists=8, iterations=1)
    assert cents == again

    q = rows[42][1]
    top = S.ann_topk_ivf(df, q, cents, k=5, n_probe=3).collect()
    assert top[0]["vec_id"] == 42 and top[0]["sim"] == 1.0  # self found
    # probing ALL lists == brute force over the same scoring
    full = S.ann_topk_ivf(df, q, cents, k=5, n_probe=8).collect()
    brute = S.cosine_topk(df, q, k=5).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in brute]


def test_ivf_lists_cover_corpus(spark):
    r = random.Random(10)
    rows = [(i, [r.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = S.ivf_centroids(df, n_lists=6, iterations=1)
    assigned = df.withColumn("list_id", S.ivf_assign(F.col("embedding"), cents))
    counts = {r["list_id"]: r["count"] for r in assigned.groupBy("list_id").count().collect()}
    assert sum(counts.values()) == 300
    assert len(counts) >= 4  # lists actually used, not one mega-list


def test_document_json_and_sql_views(spark, tmp_path):
    pages = str(tmp_path / "p")
    out = str(tmp_path / "o")
    gen.write_pages(spark, pages, 80, seed=55, partitions=2)
    C.run_checkpointed(spark, pages, out)

    # spark.sql surface over the outputs
    X.register_views(spark, out)
    row = spark.sql(
        "SELECT count(*) AS n, sum(n_words) AS w FROM extracted"
    ).collect()[0]
    assert row["n"] == 80 and row["w"] > 0
    n_days = (
        X.read_pages(spark, pages).select("warc_day").distinct().count()
    )
    lin = spark.sql("SELECT count(*) AS d FROM lineage").collect()[0]
    assert lin["d"] == n_days

    # GET /documents/{id}/coordinates response shape
    ok_url = spark.sql(
        "SELECT url FROM extracted WHERE status='ok' AND size(spans) > 0 "
        "ORDER BY url LIMIT 1"
    ).collect()[0]["url"]
    spans_path = str(tmp_path / "spans")
    X.spans_view(
        spark.read.parquet(f"{out}/extracted")
    ).write.parquet(spans_path)
    doc = X.document_json(spark, spans_path, ok_url).collect()
    assert len(doc) == 1
    payload = json.loads(doc[0]["coordinates_json"])
    assert payload["doc_id"] == ok_url
    assert payload["total_pages"] == len(payload["pages"])
    page = payload["pages"][0]
    assert {"page_number", "width", "height", "blocks"} <= set(page)
    if page["blocks"]:
        blk = page["blocks"][0]
        assert {"block_id", "bbox", "paragraphs"} <= set(blk)


def test_connected_components_hand_graph(spark):
    from tesseract_ocr_service_spark.operators import dedup as D
    from pyspark.sql import functions as F

    # components: {1,2,3,4} (chain), {5,6}, {7} (isolated), {8,9}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6), (9, 8)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 10)], ["id"])
    out = {
        r["id"]: r["component_id"]
        for r in D.connected_components(edges, verts).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8, 9: 8}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured the iterative plan truncates
    lineage via RELIABLE .checkpoint() (fault-tolerant storage) and
    produces identical components."""
    from tesseract_ocr_service_spark.operators import dedup as D

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        out = {
            r["id"]: r["component_id"]
            for r in D.connected_components(edges, verts).collect()
        }
        # reliable checkpoint files actually materialized on disk
        import os

        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(str(tmp_path / "ckpt"))
            for f in fs
        ]
        assert files, "no reliable checkpoint files written"
    finally:
        # reset for other tests (checkpointDir is a plain Scala var)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )
    assert out == expected


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iter rounds must not silently return
    partial labels (would diverge from a transitive-closure oracle)."""
    from tesseract_ocr_service_spark.operators import dedup as D

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["id"])
    with pytest.raises(RuntimeError, match="NOT converged"):
        D.connected_components(edges, verts, max_iter=2)
    # warn mode returns the partial labels instead
    out = D.connected_components(
        edges, verts, max_iter=2, on_nonconverged="warn"
    )
    assert out.count() == n


def test_label_prop_branches_agree_at_max_iter_boundary(
    spark, monkeypatch, caplog
):
    """The small-graph branch (probe, then update) and the at-scale
    branch (update, then count changes) both need max_iter >= R + 1
    when labels stop changing after R loop updates: same verdict and
    same labels at R and at R + 1."""
    from tesseract_ocr_service_spark.operators import dedup as D

    # path 1-2-...-7: the seed round leaves v at label v-1, each update
    # lowers every label > 1 by one, so R = 5 updates reach all-ones
    n = 7
    r = n - 2
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["src", "dst"]
    )

    def run(max_iter):
        caplog.clear()
        labels, _ = D._label_prop_labels(
            edges, max_iter=max_iter, on_nonconverged="warn"
        )
        converged = "NOT converged" not in caplog.text
        return converged, {x["id"]: x["label"] for x in labels.collect()}

    small = {m: run(m) for m in (r, r + 1)}
    monkeypatch.setattr(D, "_BCAST_ROWS_CAP", 0)  # force the at-scale branch
    at_scale = {m: run(m) for m in (r, r + 1)}
    assert small == at_scale
    assert small[r][0] is False and small[r + 1][0] is True
    assert small[r + 1][1] == dict.fromkeys(range(1, n + 1), 1)


def test_neardup_labels_bound_semantics(spark):
    """neardup_cluster_sizes' histogram relies on the label path: every
    pair endpoint has exactly one label row and the bound is that row
    count. The star path's labels omit the component roots."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "spark shuffles sort merge joins and broadcast hash joins too"
    rows = [(1, base), (2, base), (3, base + " today"), (4, other),
            (5, other), (6, "a lone document with nothing similar here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.7)
    endpoints = {i for p in pairs.collect() for i in (p["id_a"], p["id_b"])}
    assert {1, 2, 4, 5} <= endpoints and 6 not in endpoints

    labels, n_bound = D._neardup_labels(df, "doc_id", "text", 0.7, "label")
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert set(got) == endpoints
    assert n_bound == labels.count() == len(endpoints)

    star, _ = D._neardup_labels(df, "doc_id", "text", 0.7, "star")
    roots = {i for i, lab in got.items() if i == lab}
    assert {r["id"] for r in star.collect()} == endpoints - roots


def test_bcast_cap_is_a_byte_budget(spark):
    """The broadcast cap counts bytes at Spark's default type sizes:
    500k (string, string) rows exceed it, 500k (long, long) rows fit."""
    strs = spark.createDataFrame([("a", "b")], "x string, y string")
    longs = spark.createDataFrame([(1, 2)], "x long, y long")
    assert D._bcast_if_small(strs, 500_000) is strs
    hinted = D._bcast_if_small(longs, 500_000)
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" in plan


def test_star_contraction_matches_label_propagation(spark):
    """Large-star/small-star contraction (Kiveris et al.) agrees with
    min-label propagation on hand and pseudo-random graphs."""
    import random

    from tesseract_ocr_service_spark.operators import dedup as D

    # hand graph (same as the label test)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6), (9, 8)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 10)], ["id"])
    out = {
        r["id"]: r["component_id"]
        for r in D.connected_components_star(edges, verts).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8, 9: 8}

    # pseudo-random graphs: star == label (label given ample rounds)
    for seed in (0, 1):
        r = random.Random(seed)
        n = 60
        es = [
            (r.randrange(n), r.randrange(n)) for _ in range(45)
        ]
        es = [(a, b) for a, b in es if a != b]
        edges = spark.createDataFrame(es, ["src", "dst"])
        verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        star = {
            r2["id"]: r2["component_id"]
            for r2 in D.connected_components_star(edges, verts).collect()
        }
        label = {
            r2["id"]: r2["component_id"]
            for r2 in D.connected_components(
                edges, verts, max_iter=100
            ).collect()
        }
        assert star == label


def test_star_contraction_converges_on_long_chains(spark):
    """The documented O(log n) advantage: a 60-node chain (diameter 59)
    exceeds label propagation's default 25 rounds but star contraction
    converges in ~log2(60) large+small cycles."""
    import pytest as _pytest

    from tesseract_ocr_service_spark.operators import dedup as D

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    with _pytest.raises(RuntimeError, match="NOT converged"):
        D.connected_components(edges, verts)  # default max_iter=25
    out = D.connected_components_star(edges, verts, max_iter=12)
    comps = {r["component_id"] for r in out.collect()}
    assert comps == {0}


def test_job_banner_fields(spark):
    """The GET /health analog (reference ocr/main.py:63-101): engine +
    Spark versions, master, effective conf, and every config knob."""
    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.introspect import job_banner

    b = job_banner(spark, ExtractConfig(languages=("rus", "eng")))
    assert b["status"] == "ok"
    assert b["engine_version"] and b["spark_version"]
    assert b["master"].startswith("local")
    assert b["conf"]["spark.sql.adaptive.enabled"] == "true"
    assert b["config"]["skew_threshold"] == 0.3
    assert b["lang_string"] == "rus+eng"


def test_value_percentiles_approx_within_tolerance(spark):
    """The approx (sketch) percentiles must track the exact ones:
    at accuracy=10000 and driver-corpus group sizes the rank error
    bound is << 1 value, so p50/p90 should agree to ~the value grid
    and p99 within a small quantile neighborhood."""
    from tesseract_ocr_service_spark.operators import relational as R

    sf = "/root/testdata/sf0.01"
    exact = {
        r["event_type"]: r
        for r in R.value_percentiles(spark, sf).collect()
    }
    approx = {
        r["event_type"]: r
        for r in R.value_percentiles_approx(spark, sf).collect()
    }
    assert set(exact) == set(approx) and exact
    for et, e in exact.items():
        a = approx[et]
        for q in ("p50", "p90", "p99"):
            scale = max(1.0, abs(e[q]))
            assert abs(a[q] - e[q]) / scale < 0.05, (et, q, e[q], a[q])


def test_lang_temperature_sample_rule(spark):
    """alpha=0.5 temperature sampling: keep_per_64k is exactly
    floor(65536*sqrt(n_min/n_lang)), membership is the md5 bucket
    (recomputed independently here), and the rarest language keeps
    every document."""
    import collections
    import hashlib
    import math

    from tesseract_ocr_service_spark.operators import relational as R

    rows = R.lang_temperature_sample(spark, "/root/testdata/sf0.001").collect()
    n_by_lang = collections.Counter(r["lang"] for r in rows)
    n_min = min(n_by_lang.values())
    for r in rows:
        exp = math.floor(65536.0 * math.sqrt(n_min / n_by_lang[r["lang"]]))
        assert r["keep_per_64k"] == exp, r
        b = (
            int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:4], 16)
            % 65536
        )
        assert r["keep"] == int(b < exp), r
    rare = min(n_by_lang, key=n_by_lang.get)
    assert all(r["keep"] == 1 for r in rows if r["lang"] == rare)
