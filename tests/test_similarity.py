"""Similarity-search behavior: LSH recall vs the exact baseline, bucket
pruning actually prunes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.operators.similarity import (
    cosine_topk,
    hyperplanes,
    lsh_topk,
)
from etl_transparencia_sergipe_spark.sources.catalog import load_table


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    exact = cosine_topk(emb, emb.filter("vec_id < 8"), k=5)
    approx = lsh_topk(emb, k=5, n_planes=3)  # 8 buckets on a weakly
    # clustered corpus: single-probe recall is modest by construction
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.25, f"recall collapsed: {recall}"
    # and the candidate set is actually pruned vs the full corpus
    n = emb.count()
    planes = hyperplanes(3)
    from etl_transparencia_sergipe_spark.operators.similarity import (
        srp_bucket_spark,
    )
    buckets = emb.selectExpr(
        f"{srp_bucket_spark('embedding', planes)} AS b").groupBy("b").count()
    assert buckets.count() > 1  # vectors actually spread over buckets
    assert buckets.agg(F.max("count")).collect()[0][0] < n


def test_hyperplanes_deterministic():
    assert hyperplanes(4, 8) == hyperplanes(4, 8)
    vals = [x for pl in hyperplanes(8, 64) for x in pl]
    assert all(-0.5 <= v <= 0.5 for v in vals)


def test_ivf_recall_and_pruning(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    import numpy as np

    from etl_transparencia_sergipe_spark.operators.similarity import (
        ivf_adc_search,
    )

    exact = cosine_topk(emb, emb.filter("vec_id < 8"), k=5)
    # coarse cells = the 8 lowest-id vectors (q46's deterministic seeding)
    cmat = np.array([r.embedding for r in emb.orderBy("vec_id").limit(8)
                     .select("embedding").collect()], dtype=np.float64)
    approx = ivf_adc_search(emb, k=5, cmat=cmat, nprobe=4)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows = approx.collect()
    approx_pairs = {(r.query_id, r.neighbor_id) for r in rows}
    # probing half the cells on a weakly clustered corpus: recall is
    # bounded below but not 1.0 by construction
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.25, f"recall collapsed: {recall}"
    # contract: no self-pairs, <= k per query, valid cosine range,
    # ranks are 1..n contiguous per query
    assert all(r.query_id != r.neighbor_id for r in rows)
    assert all(-1.0 - 1e-9 <= r.cos <= 1.0 + 1e-9 for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


def test_corpus_curation_semantics(spark, sf_dir):
    """Kept set excludes every higher-id near-dup and every low-quality
    doc; counts are consistent with the component operators."""
    from pyspark.sql import functions as F

    from etl_transparencia_sergipe_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from etl_transparencia_sergipe_spark.operators.textstats import (
        quality_score_spark,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text",
                              k=16, bands=4, threshold=0.4)
    dupes = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    kept = (
        docs.filter(F.expr(quality_score_spark("text")) >= 0.7)
        .join(pairs.select(F.col("id_b").alias("doc_id")).distinct(),
              "doc_id", "left_anti")
    )
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert kept_ids.isdisjoint(dupes)
    n_quality = docs.filter(
        F.expr(quality_score_spark("text")) >= 0.7).count()
    assert len(kept_ids) <= n_quality <= docs.count()


def test_shingle_rows_matches_array_shingles(spark):
    """The window-lead shingler (minhash hot path) must produce exactly
    the distinct n-gram sets of the HOF array shingler (verify path +
    DuckDB oracle) — candidate generation and verification disagree
    otherwise. Exercises short docs, repeated n-grams, multi-space,
    punctuation, accents, and pt-BR text."""
    from etl_transparencia_sergipe_spark.operators.dedup import (
        shingle_rows,
        shingles_spark,
    )

    texts = [
        "",
        "um",
        "dois tokens",
        "tres tokens aqui",
        "a b c d e f g",
        "rep rep rep rep rep",
        "  espacos   multiplos \t e tabs  ",
        "Pontuação, vírgulas; e ACENTOS çãõé!",
        "R$ 1.234,56 pago em 31/01/2024 fonte 15300000",
        "x " * 40 + "y",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    for n in (2, 3):
        rows = shingle_rows(df, "doc_id", "text", n=n)
        got = {(r.doc_id, r.s) for r in rows.collect()}
        want = {
            (r.doc_id, r.s)
            for r in df.selectExpr(
                "doc_id", f"explode({shingles_spark('text', n)}) AS s"
            ).collect()
        }
        assert got == want, f"n={n}: {got ^ want}"


def test_winnowing_shared_substring_guarantee(spark, sf_dir):
    """Schleimer et al. guarantee: two docs sharing a run of >= w+k-1
    tokens share at least one fingerprint — including runs at the very
    END of a document (regression: trailing windows must see all their
    hashes, not just the filtered window-start rows)."""
    from etl_transparencia_sergipe_spark.plans.textops import (
        q49_winnowing_fingerprints,
    )
    import etl_transparencia_sergipe_spark.plans.textops as T
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # reuse the registered query's internals by rebuilding sel inline:
    # doc 1 ends with the 6-token run that doc 2 consists of entirely
    shared = "p q r s t u"
    df = spark.createDataFrame(
        [(1, "x y z " + shared), (2, shared)], "doc_id long, text string")
    tok = df.selectExpr(
        "doc_id", f"posexplode({T.tokens_spark('text')}) AS (pos0, t)"
    ).selectExpr("doc_id", "pos0 + 1 AS pos", "t")
    w = W.partitionBy("doc_id").orderBy("pos")
    gram = (
        tok.withColumn("g", F.expr(
            "concat_ws(' ', t, lead(t, 1) OVER "
            "(PARTITION BY doc_id ORDER BY pos), lead(t, 2) OVER "
            "(PARTITION BY doc_id ORDER BY pos))"))
        .withColumn("cnt", F.count("*").over(W.partitionBy("doc_id")))
        .filter(f"pos <= cnt - {T._WINNOW_K - 1}")
    )
    gh = gram.selectExpr(
        "doc_id", "pos", f"{T.h60_spark('g')} AS h",
        f"cnt - {T._WINNOW_K - 1} AS n_grams")
    sel = (
        gh.withColumn("fp", F.min("h").over(
            w.rowsBetween(W.currentRow, T._WINNOW_W - 1)))
        .filter(f"pos <= GREATEST(n_grams - {T._WINNOW_W - 1}, 1)")
    )
    fps = {}
    for r in sel.select("doc_id", "fp").collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], f"no shared fingerprint: {fps}"


def test_cosine_block_pairs_oversized_block_fails_loudly(spark):
    """max_block_rows is the quadratic-blowup guard: an undersized
    bucket count must error, not silently run O(n^2)."""
    from etl_transparencia_sergipe_spark.operators.similarity import (
        cosine_block_pairs,
    )

    df = spark.createDataFrame(
        [(i, 0, [float(i), 1.0]) for i in range(10)],
        "vec_id bigint, bucket int, embedding array<double>")
    with pytest.raises(Exception, match="max_block_rows"):
        cosine_block_pairs(df, "bucket", max_block_rows=5).collect()


def _embeddings(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")


def test_pq_rerank_recall_beats_adc_only(spark, sf_dir):
    """The PQ refine dial measured: exact re-rank of the ADC top-50
    shortlist strictly improves recall@5 over the compressed-domain
    ranking alone."""
    from etl_transparencia_sergipe_spark.operators.similarity import (
        _train_sample,
        ivf_adc_search,
        l2_topk,
        train_quantizers,
    )

    emb = _embeddings(spark, sf_dir)
    books = train_quantizers(_train_sample(emb, "vec_id", "embedding",
                                           65536), m=8, ksub=16)["books"]
    exact = {(r.query_id, r.neighbor_id)
             for r in l2_topk(emb, k=5).collect()}
    adc = {(r.query_id, r.neighbor_id)
           for r in ivf_adc_search(emb, k=5, books=books).collect()}
    rerank = {(r.query_id, r.neighbor_id)
              for r in ivf_adc_search(emb, k=5, books=books,
                                      r=50).collect()}
    r_adc = len(adc & exact) / len(exact)
    r_rr = len(rerank & exact) / len(exact)
    assert r_rr >= r_adc, (r_rr, r_adc)
    assert r_rr >= 0.5, f"rerank recall collapsed: {r_rr}"


def test_pq_encode_matches_numpy_reference(spark, sf_dir):
    """The encode pass's distributed codes equal a straight numpy argmin
    over the same codebooks (first-min tie semantics)."""
    import numpy as np

    from etl_transparencia_sergipe_spark.operators.similarity import (
        _train_sample,
        encode_frame,
        train_quantizers,
    )

    emb = _embeddings(spark, sf_dir)
    books = train_quantizers(_train_sample(emb, "vec_id", "embedding",
                                           65536), m=8, ksub=16)["books"]
    got = {r["neighbor_id"]: [r[f"c{m}"] for m in range(8)]
           for r in encode_frame(emb, books=books).collect()}
    rows = emb.orderBy("vec_id").collect()
    for r in rows[:64]:
        v = np.asarray(r.embedding, dtype=np.float64)
        want = [int(((v[m * 8:(m + 1) * 8] - books[m]) ** 2)
                    .sum(axis=1).argmin()) for m in range(8)]
        assert got[r.vec_id] == want, r.vec_id


@pytest.mark.parametrize("n_cells,residual,nprobe,r", [
    pytest.param(0, False, 4, None, id="pq"),  # q98
    pytest.param(0, False, 4, 50, id="pq_refine"),  # q99
    pytest.param(16, False, 4, None, id="ivfpq"),  # q101
    pytest.param(16, True, 4, None, id="ivfpq_residual"),  # q102
    pytest.param(16, True, 6, 50, id="ivfpq_residual_refine"),  # q103
])
def test_planted_duplicate(spark, sf_dir, n_cells, residual, nprobe, r):
    """A planted exact duplicate of query 0 shares its cell AND its code
    word (of the vector, or of its residual), so its ADC distance is
    minimal and it comes back rank 1 (the id tiebreak resolves code-word
    ties deterministically). With a coarse stage, each query's candidate
    set is pruned vs the whole corpus (nprobe of n_cells cells). With the
    exact refine, raw vectors decide the final order: the clone's l2 is
    exactly 0.0."""
    from etl_transparencia_sergipe_spark.operators.similarity import (
        _train_sample,
        ivf_adc_search,
        train_quantizers,
    )

    emb = _embeddings(spark, sf_dir)
    clone_id = 10_000_019
    clone = emb.filter("vec_id = 0").selectExpr(
        f"CAST({clone_id} AS BIGINT) AS vec_id", "embedding")
    planted = emb.unionByName(clone)
    consts = train_quantizers(
        _train_sample(planted, "vec_id", "embedding", 65536),
        n_cells=n_cells, m=8, ksub=16, residual=residual)
    settings = dict(nprobe=nprobe, residual=residual, **consts)
    rows = {(row.query_id, row.rank): row
            for row in ivf_adc_search(planted, k=5, r=r,
                                      **settings).collect()}
    hit = rows[(0, 1)]
    assert hit.neighbor_id == clone_id
    if r is not None:
        assert hit.l2 == 0.0
    elif n_cells:
        # rank filter keeps all candidates
        ann_all = ivf_adc_search(emb, k=10**9, **settings)
        n = emb.count()
        counts = {row.query_id: row.n for row in
                  ann_all.groupBy("query_id").count()
                  .selectExpr("query_id", "count AS n").collect()}
        assert counts and all(c < n - 1 for c in counts.values()), counts


def test_residual_encoding_reconstructs_better_than_raw(spark, sf_dir):
    """The point of by_residual=True: with the same m x ksub code
    budget, quantizing x - c(x) reconstructs x strictly better (lower
    mean squared error) than quantizing x directly, because residuals
    have far smaller spread. Pure-numpy check over the training
    sample."""
    import numpy as np

    from etl_transparencia_sergipe_spark.operators.similarity import (
        _train_sample,
        train_quantizers,
    )

    emb = _embeddings(spark, sf_dir)
    X = _train_sample(emb, "vec_id", "embedding", 65536)
    m, ksub = 8, 16
    dim = X.shape[1]
    dsub = dim // m

    def encode_decode(R, books):
        out = np.zeros_like(R)
        for mm in range(m):
            sub = R[:, mm * dsub:(mm + 1) * dsub]
            d2 = ((sub[:, None, :] - books[mm][None, :, :]) ** 2).sum(-1)
            out[:, mm * dsub:(mm + 1) * dsub] = books[mm][d2.argmin(1)]
        return out

    q = train_quantizers(X, n_cells=16, m=m, ksub=ksub, residual=True)
    cmat, res_books = q["cmat"], q["books"]
    d2c = ((X[:, None, :] - cmat[None, :, :]) ** 2).sum(-1)
    C = cmat[d2c.argmin(1)]
    res_err = ((X - (C + encode_decode(X - C, res_books))) ** 2).sum(1)

    raw_books = train_quantizers(X, m=m, ksub=ksub)["books"]
    raw_err = ((X - encode_decode(X, raw_books)) ** 2).sum(1)
    assert res_err.mean() < raw_err.mean()
