"""Similarity search over embedding columns (J6 / ANN [EXT] surface).

Three tiers:
- ``cosine_topk`` / ``l2_topk``: brute-force top-k — the exact baselines.
  The query set is small by construction and ships to every task; the
  corpus streams through once, and top-k per query is a window rank. At
  100 TB the scan is embarrassingly parallel and the only shuffle is the
  final per-query top-k (tiny).
- ``lsh_topk``: sign-random-projection LSH — hyperplanes derived from
  the deterministic hash family, so buckets are reproducible across
  engines. Candidates only search their own bucket.
- ``ivf_adc_search``: the trained-quantizer search (FAISS IndexIVFPQ):
  coarse cells, optional PQ codes (plain or residual) and an optional
  exact refine, all settings of one search; ``ivf_adc_sql`` is its
  DuckDB twin.

Dot products use double-precision left folds (``aggregate``/``zip_with``),
which are bit-identical to DuckDB's ``list_sum``/``list_transform`` fold —
verified empirically; see tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

DOT_SPARK = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
             "CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")
NORM_SPARK = ("sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
              "CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v))")

DOT_DUCK = ("list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
            "p -> p[1] * p[2]))")
NORM_DUCK = ("sqrt(list_sum(list_transform({a}::DOUBLE[], x -> x * x)))")


def cosine_expr_spark(a: str, b: str) -> str:
    return (f"({DOT_SPARK.format(a=a, b=b)}) / "
            f"(({NORM_SPARK.format(a=a)}) * ({NORM_SPARK.format(a=b)}))")


def cosine_expr_duck(a: str, b: str) -> str:
    return (f"({DOT_DUCK.format(a=a, b=b)}) / "
            f"(({NORM_DUCK.format(a=a)}) * ({NORM_DUCK.format(a=b)}))")


def cosine_pairs_udf():
    """Arrow-vectorized cosine between two array columns, BIT-EXACT with
    the interpreted ``cosine_expr_spark`` fold (and the DuckDB oracle's
    ``list_sum``): dot and norms accumulate dimension-by-dimension in the
    same sequential order, so full-precision hashes are unchanged. The
    per-row higher-order ``aggregate`` lambdas are interpreted with
    boxing (~15 us/row at 64 dims); one Arrow batch does the same work
    in vectorized strided passes."""
    import numpy as np
    import pandas as pd

    def _cos(a, b):
        if len(a) == 0:
            return pd.Series(dtype="float64")
        ma = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        mb = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        dot = np.zeros(len(a))
        na = np.zeros(len(a))
        nb = np.zeros(len(a))
        for d in range(ma.shape[1]):
            dot += ma[:, d] * mb[:, d]
            na += ma[:, d] * ma[:, d]
            nb += mb[:, d] * mb[:, d]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    # real annotation objects: the module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inference cannot resolve for locally-imported pd
    _cos.__annotations__ = {"a": pd.Series, "b": pd.Series,
                            "return": pd.Series}
    return F.pandas_udf(_cos, "double")


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns DataFrame[query_id, neighbor_id, rank, cos] excluding
    self-pairs. The (small, by contract) query set is collected and
    closure-shipped to a ``mapInPandas`` pass over the corpus: each
    corpus batch crosses Arrow ONCE (n x dims floats) and scores against
    every query with the dimension-sequential accumulation that is
    bit-exact vs the SQL fold — the previous broadcast-nested-loop form
    materialized BOTH vectors per (row, query) pair, 2 x n_queries x the
    Arrow/eval volume (q40 at sf1: 160k rows x 128 doubles). The corpus
    never shuffles; ranking stays a window over (query_id)."""
    import numpy as np
    import pandas as pd

    qrows = queries.selectExpr(f"{id_col} AS query_id",
                               f"{vec_col} AS qv").collect()
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r.qv, dtype=np.float64) for r in qrows])
    nq = np.zeros(len(qids))
    for d in range(qm.shape[1]):
        nq += qm[:, d] * qm[:, d]
    nq = np.sqrt(nq)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            mc = np.stack([np.asarray(v, dtype=np.float64)
                           for v in pdf["cv"]])
            dot = np.zeros((len(ids), len(qids)))
            nc = np.zeros(len(ids))
            for d in range(mc.shape[1]):
                dot += qm[None, :, d] * mc[:, d, None]
                nc += mc[:, d] * mc[:, d]
            cos = dot / (nq[None, :] * np.sqrt(nc)[:, None])
            rr, qq = np.nonzero(ids[:, None] != qids[None, :])
            yield pd.DataFrame({"query_id": qids[qq],
                                "neighbor_id": ids[rr],
                                "cos": cos[rr, qq]})

    c = corpus.selectExpr(f"{id_col} AS neighbor_id", f"{vec_col} AS cv")
    scored = c.mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, cos double")
    return _rank_topk(scored, "cos", k, descending=True)


def _rank_topk(scored: DataFrame, score: str, k: int,
               descending: bool = False) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, score) ->
    [query_id, neighbor_id, rank, score]; ties go to the lower
    neighbor_id, as in every DuckDB twin's ROW_NUMBER order."""
    order = F.desc(score) if descending else F.asc(score)
    w = W.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", score))


def cosine_block_pairs(df: DataFrame, block_col: str,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       threshold: float = 0.4,
                       chunk: int = 1024,
                       max_block_rows: int = 100_000) -> DataFrame:
    """All within-block pairs with cosine > threshold, via per-block BLAS.

    Returns DataFrame[id_a, id_b, cos] with id_a < id_b. The naive
    formulation — a self-join with a ``zip_with``/``aggregate`` fold per
    pair — evaluates interpreted higher-order lambdas three times per
    candidate pair; at sf1 (20M in-block pairs x 64 dims) that measured
    ~650 s. One Arrow-batched matmul per block computes the same 1.3
    GFLOP in seconds: this is the documented exception to "UDFs are the
    slow path" — vectorized numerics where per-element codegen cannot
    compete with BLAS.

    Scale posture: one block = one task, so blocks must be bounded
    (``max_block_rows`` fails loudly, mirroring operators/grouped.py);
    at 100 TB the block key is an IVF cell / LSH bucket sized to
    executors, exactly how production vector pipelines shard the
    pair-similarity matmul. ``chunk`` bounds the similarity-matrix slice
    to chunk x n doubles so a block never materializes an n x n matrix.
    """
    import numpy as np
    import pandas as pd

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_block_rows:
            raise ValueError(
                f"cosine_block_pairs: block {pdf[block_col].iloc[0]!r} "
                f"has {len(pdf)} rows > max_block_rows={max_block_rows}; "
                "sub-block the key (IVF cell / LSH bucket) first")
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cos": pd.Series(dtype="float64")})
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64)
                        for v in pdf[vec_col]])
        n, dims = mat.shape
        # BIT-EXACT parity with the SQL oracle: the correctness gate
        # hashes doubles at full precision, and the oracle's list_sum is
        # a sequential left fold — so accumulate dot products and norms
        # dimension-by-dimension in the same order instead of one BLAS
        # matmul, whose pairwise/FMA summation differs in the last ulp.
        # Still vectorized: 64 strided elementwise passes, not per-pair
        # interpreted lambdas.
        norms = np.zeros(n)
        for d in range(dims):
            norms += mat[:, d] * mat[:, d]
        norms = np.sqrt(norms)
        out = [empty]
        tmp = None
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            dot = np.zeros((e - s, n))
            tmp = np.empty((e - s, n)) if tmp is None or tmp.shape[0] != e - s else tmp
            for d in range(dims):
                np.multiply(mat[s:e, d, None], mat[None, :, d], out=tmp)
                np.add(dot, tmp, out=dot)
            cos = dot / (norms[s:e, None] * norms[None, :])
            mask = cos > threshold
            # keep strict upper triangle only: column index > global row
            mask &= np.arange(n)[None, :] > np.arange(s, e)[:, None]
            rr, cc = np.nonzero(mask)
            out.append(pd.DataFrame({
                "id_a": ids[rr + s], "id_b": ids[cc], "cos": cos[rr, cc]}))
        return pd.concat(out, ignore_index=True)

    return df.groupBy(block_col).applyInPandas(
        pairs, schema="id_a bigint, id_b bigint, cos double")


# ---------------------------------------------------------------------------
# sign-random-projection LSH (the ANN scale path)
# ---------------------------------------------------------------------------

from etl_transparencia_sergipe_spark.operators.hashing import (  # noqa: E402
    HASH_A,
    HASH_B,
    MERSENNE,
)


def hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5]^dim, derived
    from the shared hash-coefficient schedule — identical literals embed in
    both the Spark expression and the DuckDB oracle."""
    return [
        [((HASH_A[p] * (d + 1) + HASH_B[p]) % MERSENNE) / MERSENNE - 0.5
         for d in range(dim)]
        for p in range(n_planes)
    ]


def _bucket_expr(vec: str, planes: list[list[float]],
                 arr, dot_fmt: str) -> str:
    """SRP bucket id: bit p = sign(dot(vec, plane_p))."""
    terms = []
    for p, plane in enumerate(planes):
        lit = arr(plane)
        dot = dot_fmt.format(a=vec, b=lit)
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def srp_bucket_spark(vec: str, planes: list[list[float]]) -> str:
    return _bucket_expr(
        vec, planes,
        arr=lambda pl: "array(" + ", ".join(f"{x!r}D" for x in pl) + ")",
        dot_fmt=DOT_SPARK)


def srp_bucket_duck(vec: str, planes: list[list[float]]) -> str:
    return _bucket_expr(
        vec, planes,
        arr=lambda pl: "[" + ", ".join(repr(x) for x in pl) + "]",
        dot_fmt=DOT_DUCK)


def lsh_topk(corpus: DataFrame, k: int = 5, n_planes: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_pred: str = "vec_id < 8",
             multiprobe: bool = False) -> DataFrame:
    """Approximate top-k: queries only compare against corpus vectors in
    the SAME SRP bucket — at scale the bucket join replaces the full cross
    product (n/2^p candidates per query instead of n).

    ``multiprobe=True`` additionally probes every 1-bit-flip neighbor
    bucket (p+1 buckets per query): the standard recall/cost dial —
    boundary vectors whose sign flipped on one hyperplane come back.
    """
    planes = hyperplanes(n_planes)
    # mark query rows BEFORE renaming, so query_pred is any predicate over
    # the corpus's own columns (no string surgery on column names)
    marked = corpus.selectExpr(
        f"{id_col} AS neighbor_id", f"{vec_col} AS cv",
        f"{srp_bucket_spark(vec_col, planes)} AS bucket",
        f"({query_pred}) AS is_query")
    # persist: both join sides derive from this frame; materialize so the
    # n_planes dot products compute once per vector (see dedup.py)
    from etl_transparencia_sergipe_spark.caching import persist_scoped

    marked = marked.transform(persist_scoped)
    bucketed = marked.select("neighbor_id", "cv", "bucket")
    q = marked.filter("is_query") \
        .selectExpr("neighbor_id AS query_id", "cv AS qv", "bucket")
    if multiprobe:
        probes = ", ".join(
            ["bucket"] + [f"bucket ^ {1 << j}" for j in range(n_planes)])
        q = q.selectExpr(
            "query_id", "qv",
            f"explode(array({probes})) AS bucket")
    joined = bucketed.join(F.broadcast(q), "bucket") \
        .filter("query_id != neighbor_id") \
        .dropDuplicates(["query_id", "neighbor_id"])
    scored = joined.select(
        "query_id", "neighbor_id",
        cosine_pairs_udf()(F.col("qv"), F.col("cv")).alias("cos"))
    return _rank_topk(scored, "cos", k, descending=True)


def lsh_topk_duck(table: str, k: int = 5, n_planes: int = 8,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  query_pred: str = "vec_id < 8",
                  multiprobe: bool = False) -> str:
    planes = hyperplanes(n_planes)
    cos = cosine_expr_duck("q.qv", "c.cv")
    if multiprobe:
        probes = ", ".join(
            ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(n_planes)])
        q_cte = f"""q AS (
            SELECT query_id, qv, unnest([{probes}]) AS bucket
            FROM (SELECT neighbor_id AS query_id, cv AS qv, bucket
                  FROM b WHERE is_query))"""
    else:
        q_cte = f"""q AS (SELECT neighbor_id AS query_id, cv AS qv, bucket
               FROM b WHERE is_query)"""
    return f"""
    WITH b AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cv,
                      {srp_bucket_duck(vec_col, planes)} AS bucket,
                      ({query_pred}) AS is_query
               FROM {table}),
         {q_cte},
         scored AS (
            SELECT DISTINCT q.query_id, c.neighbor_id, {cos} AS cos
            FROM b c JOIN q ON c.bucket = q.bucket
            WHERE q.query_id != c.neighbor_id
         ),
         ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
         )
    SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF-ADC search — one parameterised search over trained constants
# ---------------------------------------------------------------------------
#
# Every trained-ANN query is a setting of the FAISS IndexIVFPQ search:
#
#   query  cmat  books  residual  r     scorer
#   q46    yes   -      -         -     exact cosine in probed cells
#   q63    yes   -      -         -     exact cosine in probed cells
#   q98    -     yes    -         -     ADC over the whole corpus
#   q99    -     yes    -         50    ADC shortlist + exact L2
#   q101   yes   yes    -         -     ADC in probed cells
#   q102   yes   yes    yes       -     residual ADC in probed cells
#   q103   yes   yes    yes       100   residual ADC shortlist + exact L2
#
# The coarse stage runs iff ``cmat`` is given, ADC iff ``books`` is, the
# refine iff ``r`` is. ``residual`` sets the cell metric too: cosine for
# the non-residual settings, L2 for by_residual (the recall target is the
# exact-L2 top-k, so probe geometry and ground truth agree). Every
# distance accumulates dimension by dimension in the same sequential
# order as the DuckDB fold of :func:`ivf_adc_sql`, and ties go to the
# lowest cell / code / id on both engines, so every double is
# bit-identical across the two.


def lloyd_float(X, n_cells: int, seed: int = 42, max_iter: int = 20):
    """Seeded numpy Lloyd over an (n, dim) float64 sample -> (C, dim)
    centroid array. Module-level so the DuckDB oracle
    (plans/similarity_queries.py q63) trains the SAME quantizer from the
    same sample and verifies the distributed SEARCH independently —
    training is a shared deterministic constant, like the hyperplanes of
    the SRP-LSH tier."""
    import numpy as np

    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=n_cells, replace=False)]
    for _ in range(max_iter):
        # squared Euclidean assignment (standard Lloyd)
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        lab = d2.argmin(axis=1)
        new = np.empty_like(cent)
        # Empty cells re-seed to the 1st, 2nd, ... farthest-from-any-
        # centroid points (stable descending order, so a single empty
        # cell gets exactly the old argmax point — hash-neutral). The
        # previous form reseeded EVERY simultaneously-empty cell to the
        # same argmax point, permanently duplicating centroids
        # (round-5 ADVICE): deterministic either way, but distinct
        # reseeds keep quantizer quality from degrading silently.
        far_order = None
        n_empty = 0
        for c in range(n_cells):
            members = X[lab == c]
            if len(members) == 0:
                if far_order is None:
                    far_order = np.argsort(-d2.min(axis=1), kind="stable")
                new[c] = X[far_order[n_empty]]
                n_empty += 1
            else:
                new[c] = members.mean(axis=0)
        if np.array_equal(new, cent):
            break
        cent = new
    return cent


# portable multiplicative sample hash (Knuth, C = 2654435761): exact
# int64 arithmetic any engine can reproduce (DuckDB lacks xxhash64,
# which this replaced). The naive (id * C) % 2^32 overflows int64 for
# ids > ~3.47e9 — Spark (non-ANSI) wraps silently while DuckDB raises,
# breaking portability exactly at 100 TB-scale id ranges (round-5
# ADVICE). Fix: reduce id mod 2^32, then SPLIT the multiplier into
# C = 40503 * 2^16 + 31153 so (x*C) mod 2^32 =
# (x*31153 + ((x*40503) mod 2^16) * 2^16) mod 2^32 with every
# intermediate < 2^48 (a bare mod-2^32 pre-reduction is NOT enough:
# (2^32-1)*C ~ 1.14e19 still exceeds int64). Identical value to the
# old form for ids < 2^32 (nonnegative), so every trained quantizer /
# sample order in the gates is unchanged (tests/test_sample_hash.py).
SAMPLE_HASH = ("((({id}) % 4294967296) * 31153 + "
               "((({id}) % 4294967296) * 40503) % 65536 * 65536) "
               "% 4294967296")


def _train_sample(corpus: DataFrame, id_col: str, vec_col: str,
                  max_train_rows: int):
    """Deterministic bounded training sample -> (n, dim) float64.

    One Arrow crossing (``toArrow``) instead of ``collect()``: row-based
    collect boxes every vector element through Py4J (~4 s for 20k x 64
    at sf1, measured — it was most of the quantizer-training wall).
    float32 -> float64 widening is exact, so trained centroids are
    bit-identical to the collect() path (gates re-verified)."""
    import numpy as np

    sample = (
        corpus.selectExpr(f"{vec_col} AS v",
                          SAMPLE_HASH.format(id=id_col) + " AS h",
                          f"{id_col} AS tid")
        .orderBy("h", "tid").limit(max_train_rows)
        .select("v")  # the sort keys don't cross Arrow
    )
    col = sample.toArrow().column("v").combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False) \
        .astype(np.float64, copy=False)
    n = len(col)
    dim = len(flat) // n
    X = flat.reshape(n, dim)
    return X


def _query_matrix(corpus: DataFrame, id_col: str, vec_col: str,
                  query_pred: str):
    """The (contract-small) query set in one Arrow crossing ->
    (ids, (n, dim) float64 matrix), ordered by id."""
    import numpy as np

    qs = corpus.filter(query_pred).selectExpr(
        f"{id_col} AS qid", f"{vec_col} AS qv").toArrow()
    ids = qs.column("qid").to_numpy()
    col = qs.column("qv").combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False) \
        .astype(np.float64, copy=False)
    order = np.argsort(ids, kind="stable")
    return ids[order], flat.reshape(len(ids), -1)[order]


def train_quantizers(X, n_cells: int = 0, m: int = 0, ksub: int = 16,
                     residual: bool = False, seed: int = 42,
                     max_iter: int = 20) -> dict:
    """Train the IVF-ADC constants from a sample -> {"cmat", "books"}.

    ``n_cells`` > 0 trains the coarse quantizer: full-dim seeded Lloyd
    -> ``cmat`` (n_cells, dim). ``m`` > 0 trains PQ codebooks: an
    independent seeded Lloyd per subspace -> ``books`` (m, ksub, dim/m),
    over the raw vectors or, with ``residual``, over the residuals
    x - c(x) of the L2-assigned sample (FAISS by_residual=True:
    residuals have far smaller spread, so the same code budget quantizes
    much finer).

    The FAISS posture: training is O(sample x dim) on the driver over a
    bounded deterministic sample (``_train_sample``; reference k-means
    precedent data_science.ipynb:99, k=3, random_state=42), while
    encoding — the corpus-sized part — stays distributed. The Spark
    queries and their DuckDB twins call THIS function on the same
    sample, so the constants are bit-identical on both sides."""
    import numpy as np

    out = {}
    if n_cells:
        out["cmat"] = lloyd_float(X, n_cells=n_cells, seed=seed,
                                  max_iter=max_iter)
    if m:
        dim = X.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} does not split into m={m} "
                             "equal subspaces")
        dsub = dim // m
        R = X
        if residual:
            _, cell, _ = encode_vectors(X, out["cmat"], residual=True)
            R = X - out["cmat"][cell]
        out["books"] = np.stack([
            lloyd_float(R[:, mm * dsub:(mm + 1) * dsub], n_cells=ksub,
                        seed=seed, max_iter=max_iter)
            for mm in range(m)
        ])
    return out


def cell_distances(M, cmat, residual: bool):
    """(n, dim) vectors x (C, dim) centroids -> (n, C) distances: squared
    L2 when ``residual``, else cosine distance 1 - cos. Per-dimension
    sequential accumulation — the order the DuckDB fold replays."""
    import numpy as np

    ncells, dim = cmat.shape
    if residual:
        dist = np.zeros((len(M), ncells))
        for d in range(dim):
            diff = M[:, d:d + 1] - cmat[None, :, d]
            dist = dist + diff * diff
        return dist
    cnorm = np.zeros(ncells)
    for d in range(dim):
        cnorm += cmat[:, d] * cmat[:, d]
    cnorm = np.sqrt(cnorm)
    dot = np.zeros((len(M), ncells))
    vnorm = np.zeros(len(M))
    for d in range(dim):
        dot += M[:, d:d + 1] * cmat[None, :, d]
        vnorm += M[:, d] * M[:, d]
    return 1.0 - dot / (np.sqrt(vnorm)[:, None] * cnorm[None, :])


def encode_vectors(M, cmat=None, books=None, residual: bool = False):
    """The IVF-ADC encode math -> (dist, cell, codes).

    ``dist`` is the (n, C) cell-distance matrix (None without ``cmat``),
    ``cell`` the nearest cell per vector (argmin takes the first, i.e.
    lowest, cell; all zeros without ``cmat``), and ``codes`` the m int32
    PQ code arrays of the vector — or of its residual x - c(x) — (empty
    without ``books``). Shared by the search's encode pass, training and
    the incremental index's appends (operators/ann_index.py), so every
    path encodes bit-identically."""
    import numpy as np

    dist = None
    cell = np.zeros(len(M), dtype=np.int64)
    if cmat is not None:
        dist = cell_distances(M, cmat, residual)
        cell = dist.argmin(axis=1)
    codes = []
    if books is not None:
        R = M - cmat[cell] if residual else M
        m, ksub, dsub = books.shape
        for mm in range(m):
            d2 = np.zeros((len(M), ksub))
            for d in range(dsub):
                diff = R[:, mm * dsub + d:mm * dsub + d + 1] \
                    - books[mm][None, :, d]
                d2 = d2 + diff * diff
            codes.append(d2.argmin(axis=1).astype("int32"))
    return dist, cell, codes


def encode_frame(corpus: DataFrame, cmat=None, books=None,
                 residual: bool = False, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """The encode pass: ONE mapInPandas over the corpus ->
    DataFrame[neighbor_id, cell, c0..c{m-1}, cell_dist], where
    ``cell_dist`` is each vector's distance to its own cell (the drift
    signal of the incremental index). The constants travel in the UDF
    closure — O(C x dim + m x ksub x dsub) bytes per executor — so there
    is no shuffle and no row expansion, and the raw-vector column is
    scanned exactly once. The result is the persistable compressed
    index: m ints per vector instead of dim floats."""
    import numpy as np

    m = 0 if books is None else books.shape[0]
    schema = ("neighbor_id bigint, cell bigint, "
              + "".join(f"c{mm} int, " for mm in range(m))
              + "cell_dist double")

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["cv"]])
            dist, cell, codes = encode_vectors(M, cmat, books, residual)
            cols = {"neighbor_id": pdf["neighbor_id"], "cell": cell}
            for mm in range(m):
                cols[f"c{mm}"] = codes[mm]
            cols["cell_dist"] = (np.zeros(len(M)) if dist is None
                                 else dist[np.arange(len(M)), cell])
            yield pd.DataFrame(cols)

    return (corpus.selectExpr(f"{id_col} AS neighbor_id", f"{vec_col} AS cv")
            .mapInPandas(enc, schema=schema))


def query_probes(Q, cmat, nprobe: int, residual: bool):
    """The ``nprobe`` nearest cells per query row, nearest first; exact-
    distance ties go to the lower cell (lexsort's last key is primary,
    cells ascending break ties). A single cell 0 without ``cmat``."""
    import numpy as np

    if cmat is None:
        return [[0] for _ in range(len(Q))]
    dist = cell_distances(Q, cmat, residual)
    cells = np.arange(len(cmat), dtype=np.int64)
    return [[int(c) for c in np.lexsort((cells, dist[i]))[:nprobe]]
            for i in range(len(Q))]


def query_luts(qids, Q, cmat, books, nprobe: int, residual: bool):
    """ADC lookup tables for the (contract-small, collected) query set ->
    rows (query_id, cell, l) per probed cell, l the m*ksub table
    flattened in (m, j) order: l[m*ksub + j] = ||q_m - b_{m,j}||^2, over
    the query's residual q - c with ``residual``, so adc =
    ||(q - c) - r̂(x)||^2 ~ ||q - x||^2 and the centroid drops out."""
    import numpy as np

    m, ksub, dsub = books.shape
    rows = []
    for qid, q, probes in zip(qids, Q, query_probes(Q, cmat, nprobe,
                                                    residual)):
        for cell in probes:
            rq = q - cmat[cell] if residual else q
            flat = []
            for mm in range(m):
                lut = np.zeros(ksub)
                for d in range(dsub):
                    diff = rq[mm * dsub + d] - books[mm][:, d]
                    lut = lut + diff * diff
                flat.extend(float(x) for x in lut)
            rows.append((int(qid), int(cell), flat))
    return rows


def adc_scores(codes: DataFrame, luts: DataFrame, books) -> DataFrame:
    """Asymmetric distance of every code row against the LUTs of the
    queries probing its cell -> DataFrame[query_id, neighbor_id, adc].
    The LUT frame is |Q| x nprobe tiny rows, broadcast; the score is the
    LUT indexed by each code, summed left to right in pure codegen
    (element_at + adds; no UDF on the corpus-sized path)."""
    m, ksub, _ = books.shape
    adc = " + ".join(
        f"element_at(l, {mm * ksub} + c{mm} + 1)" for mm in range(m))
    return (codes.join(F.broadcast(luts), "cell")
            .filter("query_id != neighbor_id")
            .selectExpr("query_id", "neighbor_id", f"({adc}) AS adc"))


L2_SPARK = ("aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - "
            "CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
            ", 0.0D, (acc, v) -> acc + v)")
L2_DUCK = ("list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
           " p -> (p[1] - p[2]) * (p[1] - p[2])))")


def refine_l2(shortlist: DataFrame, corpus: DataFrame, k: int,
              id_col: str = "vec_id", vec_col: str = "embedding",
              query_pred: str = "vec_id < 8") -> DataFrame:
    """Exact-L2 re-rank of a (query_id, neighbor_id) shortlist -> top-k
    [query_id, neighbor_id, rank, l2] (the FAISS RefineFlat step). Raw
    vectors are read for ONLY the r x |Q| shortlist rows: both the
    shortlist and the query set are broadcast, so the fetch is a
    map-side semi-join over the corpus scan, no shuffle."""
    q = corpus.filter(query_pred).selectExpr(f"{id_col} AS query_id",
                                             f"{vec_col} AS qv")
    c = corpus.selectExpr(f"{id_col} AS neighbor_id", f"{vec_col} AS cv")
    rescored = (
        c.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .selectExpr("query_id", "neighbor_id",
                    L2_SPARK.format(a="qv", b="cv") + " AS l2")
    )
    return _rank_topk(rescored, "l2", k)


def _cosine_scores(corpus: DataFrame, cmat, residual: bool, qids, Q,
                   probes, id_col: str, vec_col: str) -> DataFrame:
    """Exact cosine of every corpus vector against the queries probing
    its cell -> DataFrame[query_id, neighbor_id, cos] (the IVF-Flat
    scorer). ONE mapInPandas pass assigns each vector's cell and scores
    it against the query set shipped in the closure (contract-small,
    like cosine_topk): each candidate vector crosses Arrow once, no
    assignment shuffle, no per-pair join; the only exchange left is the
    per-query top-k window. Cosine accumulates per dimension in
    cosine_pairs_udf's exact order (denominator sqrt(nq) * sqrt(nc))."""
    import numpy as np

    dim = Q.shape[1]
    qcells = [frozenset(p) for p in probes]
    qnorm = np.zeros(len(qids))
    for d in range(dim):
        qnorm += Q[:, d] * Q[:, d]

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["cv"]])
            ids = pdf["neighbor_id"].to_numpy()
            _, cell, _ = encode_vectors(M, cmat, residual=residual)
            cnorm2 = np.zeros(len(pdf))
            for d in range(dim):
                cnorm2 += M[:, d] * M[:, d]
            out_q, out_n, out_c = [], [], []
            for qi in range(len(qids)):
                mask = np.fromiter((c in qcells[qi] for c in cell),
                                   dtype=bool, count=len(cell))
                mask &= ids != qids[qi]
                if not mask.any():
                    continue
                sub = M[mask]
                dot = np.zeros(len(sub))
                for d in range(dim):
                    dot += Q[qi, d] * sub[:, d]
                cos = dot / (np.sqrt(qnorm[qi]) * np.sqrt(cnorm2[mask]))
                out_q.append(np.full(len(sub), qids[qi], dtype=np.int64))
                out_n.append(ids[mask])
                out_c.append(cos)
            if not out_q:
                continue
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos": np.concatenate(out_c),
            })

    return (corpus.selectExpr(f"{id_col} AS neighbor_id", f"{vec_col} AS cv")
            .mapInPandas(score, schema="query_id bigint, neighbor_id bigint, "
                                       "cos double"))


def ivf_adc_search(corpus: DataFrame, k: int = 5, cmat=None, books=None,
                   nprobe: int = 4, residual: bool = False,
                   r: int | None = None, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   query_pred: str = "vec_id < 8") -> DataFrame:
    """Approximate top-k for the ``query_pred`` rows — the IVF-ADC search.

    Inputs are trained constants (``train_quantizers``, or any (C, dim)
    array such as q46's lowest-id vectors):
    - ``cmat`` given: a coarse stage assigns every vector to its nearest
      cell and each query searches only its ``nprobe`` nearest cells
      (nprobe/C of the corpus instead of all of it);
    - ``books`` given: candidates are scored by PQ asymmetric distance
      over their m codes (``adc``); without books, by exact cosine
      (``cos``, the IVF-Flat scorer);
    - ``r`` given: the top-``r`` shortlist per query is re-ranked by
      exact L2 over the raw vectors (``l2``).
    ``residual`` encodes x - c(x) and probes by L2 (FAISS by_residual).

    Returns DataFrame[query_id, neighbor_id, rank, cos|adc|l2] with no
    self-pairs. Scale shape: the query set is collected (small by
    contract) and its probes and LUTs are built driver-side with the
    encode math; the corpus streams once through one mapInPandas pass;
    the only corpus-sized exchange is the skinny per-query top-k window.
    """
    if cmat is None and books is None:
        raise ValueError("ivf_adc_search needs cmat and/or books "
                         "(brute force is cosine_topk / l2_topk)")
    qids, Q = _query_matrix(corpus, id_col, vec_col, query_pred)
    if books is None:
        probes = query_probes(Q, cmat, nprobe, residual)
        top = _rank_topk(_cosine_scores(corpus, cmat, residual, qids, Q,
                                        probes, id_col, vec_col),
                         "cos", r or k, descending=True)
    else:
        luts = corpus.sparkSession.createDataFrame(
            query_luts(qids, Q, cmat, books, nprobe, residual),
            "query_id bigint, cell bigint, l array<double>")
        codes = encode_frame(corpus, cmat, books, residual, id_col,
                             vec_col).drop("cell_dist")
        top = _rank_topk(adc_scores(codes, luts, books), "adc", r or k)
    if r is None:
        return top
    return refine_l2(top.select("query_id", "neighbor_id"), corpus, k,
                     id_col, vec_col, query_pred)


def l2_topk(corpus: DataFrame, k: int = 5, id_col: str = "vec_id",
            vec_col: str = "embedding",
            query_pred: str = "vec_id < 8") -> DataFrame:
    """Exact L2 top-k (brute force) — the recall baseline of the ADC
    settings. Same single-Arrow-crossing shape as cosine_topk: the
    (small) query set ships in the UDF closure, each corpus batch is
    scored vectorized with the dimension-sequential accumulation that is
    bit-exact vs the L2_DUCK fold (the L2_SPARK interpreted fold
    measured 2.7 s for sf1's 160k pairs; this does the same work in
    ~0.5 s)."""
    import numpy as np
    import pandas as pd

    qrows = corpus.filter(query_pred).selectExpr(
        f"{id_col} AS query_id", f"{vec_col} AS qv").collect()
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r.qv, dtype=np.float64) for r in qrows])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            mc = np.stack([np.asarray(v, dtype=np.float64)
                           for v in pdf["cv"]])
            d2 = np.zeros((len(ids), len(qids)))
            for d in range(mc.shape[1]):
                diff = qm[None, :, d] - mc[:, d, None]
                d2 = d2 + diff * diff
            rr, qq = np.nonzero(ids[:, None] != qids[None, :])
            yield pd.DataFrame({"query_id": qids[qq],
                                "neighbor_id": ids[rr],
                                "l2": d2[rr, qq]})

    c = corpus.selectExpr(f"{id_col} AS neighbor_id", f"{vec_col} AS cv")
    scored = c.mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, l2 double")
    return _rank_topk(scored, "l2", k)


def cosine_topk_duck(table: str, k: int = 5, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     query_pred: str = "vec_id < 8") -> str:
    """DuckDB oracle SQL equivalent of :func:`cosine_topk` for a query set
    selected by ``query_pred`` from the same table."""
    cos = cosine_expr_duck("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qv
               FROM {table} WHERE {query_pred}),
         c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cv FROM {table}),
         scored AS (
            SELECT query_id, neighbor_id, {cos} AS cos
            FROM c, q WHERE query_id != neighbor_id
         ),
         ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
         )
    SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {k}
    """


def _values_sql(rows) -> str:
    """(key..., vector) tuples -> DuckDB VALUES body with DOUBLE[]
    literals; repr() round-trips every double exactly."""
    return ", ".join(
        "(" + "".join(f"{key}, " for key in row[:-1])
        + "[" + ", ".join(repr(float(x)) for x in row[-1]) + "]::DOUBLE[])"
        for row in rows)


def ivf_adc_sql(table: str, k: int = 5, cmat=None, books=None,
                nprobe: int = 4, residual: bool = False,
                r: int | None = None, id_col: str = "vec_id",
                vec_col: str = "embedding",
                query_pred: str = "vec_id < 8") -> str:
    """DuckDB twin of :func:`ivf_adc_search`, same settings, same output
    columns. The trained constants are injected as literals (``cmat``
    may instead be the SQL of a (cell, cvec) relation — q46's lowest-id
    cells); cell assignment, probe selection, encode, LUT build, ADC or
    cosine ranking and the exact refine all run in SQL. Distance terms
    are written left-assoc in the same (subspace, dim) order the numpy
    side accumulates, so every double is bit-identical. Without ``cmat``
    every vector sits in one cell 0, probed by every query."""
    if cmat is None and books is None:
        raise ValueError("ivf_adc_sql needs cmat and/or books")
    ctes = []
    if isinstance(cmat, str):
        ctes.append(f"cent AS ({cmat})")
    elif cmat is not None:
        ctes.append("cent(cell, cvec) AS (VALUES "
                    + _values_sql(enumerate(cmat)) + ")")
    if books is not None:
        m, ksub, dsub = books.shape
        ctes.append("cb(m, j, cvec) AS (VALUES " + _values_sql(
            (mm, j, books[mm][j]) for mm in range(m)
            for j in range(ksub)) + ")")
    ctes.append(f"""b AS (
        SELECT {id_col} AS neighbor_id, {vec_col}::DOUBLE[] AS cv,
               ({query_pred}) AS is_query
        FROM {table}
    )""")
    if cmat is None:
        ctes.append("assign AS (SELECT neighbor_id, 0 AS cell, cv FROM b)")
        ctes.append("probes AS (SELECT neighbor_id AS query_id, cv AS qv, "
                    "0 AS cell FROM b WHERE is_query)")
    else:
        def dist(v):
            if residual:
                return L2_DUCK.format(a=v, b="ct.cvec")
            return f"1.0 - ({cosine_expr_duck(v, 'ct.cvec')})"

        ctes.append(f"""assign AS (
        SELECT neighbor_id, cell, cv FROM (
            SELECT b.neighbor_id, ct.cell, b.cv,
                   ROW_NUMBER() OVER (PARTITION BY b.neighbor_id
                                      ORDER BY {dist('b.cv')}, ct.cell) AS rn
            FROM b CROSS JOIN cent ct
        ) WHERE rn = 1
    )""")
        ctes.append(f"""probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.neighbor_id AS query_id, q.cv AS qv, ct.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.neighbor_id
                                      ORDER BY {dist('q.cv')}, ct.cell) AS rn
            FROM b q CROSS JOIN cent ct WHERE q.is_query
        ) WHERE rn <= {nprobe}
    )""")
    if books is None:
        score, direction = "cos", "DESC"
        ctes.append(f"""scored AS (
        SELECT p.query_id, a.neighbor_id,
               {cosine_expr_duck('p.qv', 'a.cv')} AS cos
        FROM assign a JOIN probes p ON a.cell = p.cell
        WHERE p.query_id != a.neighbor_id
    )""")
    else:
        score, direction = "adc", "ASC"
        # per-(vector, m, j) subspace distance, of the residual
        # (v - c) - b when residual, left-assoc in dim order
        cent_term = " - ct.cvec[cb.m * {dsub} + {d}]" if residual else ""

        def term(d):
            return (f"(v.cv[cb.m * {dsub} + {d + 1}]"
                    + cent_term.format(dsub=dsub, d=d + 1)
                    + f" - cb.cvec[{d + 1}])")

        d_terms = " + ".join(f"{term(d)} * {term(d)}" for d in range(dsub))
        cent_join = "JOIN cent ct ON ct.cell = {}.cell" if residual else ""
        code_cols = ", ".join(
            f"MAX(CASE WHEN m = {mm} THEN j END) AS c{mm}"
            for mm in range(m))
        adc = " + ".join(
            f"p.l[{mm * ksub} + c.c{mm} + 1]" for mm in range(m))
        ctes.append(f"""dists AS (
        SELECT v.neighbor_id, cb.m, cb.j, {d_terms} AS d
        FROM b v
        JOIN assign a2 ON a2.neighbor_id = v.neighbor_id
        {cent_join.format('a2')}
        CROSS JOIN cb
    )""")
        ctes.append("""enc AS (
        SELECT neighbor_id, m, j FROM (
            SELECT neighbor_id, m, j,
                   ROW_NUMBER() OVER (PARTITION BY neighbor_id, m
                                      ORDER BY d, j) AS rn
            FROM dists
        ) WHERE rn = 1
    )""")
        ctes.append(f"""codes AS (
        SELECT neighbor_id, {code_cols} FROM enc GROUP BY neighbor_id
    )""")
        ctes.append(f"""qd AS (
        SELECT v.neighbor_id AS query_id, pr.cell, cb.m, cb.j,
               {d_terms} AS d
        FROM b v
        JOIN probes pr ON pr.query_id = v.neighbor_id
        {cent_join.format('pr')}
        CROSS JOIN cb
    )""")
        ctes.append("""luts AS (
        SELECT query_id, cell, list(d ORDER BY m, j) AS l
        FROM qd GROUP BY query_id, cell
    )""")
        ctes.append(f"""scored AS (
        SELECT p.query_id, a.neighbor_id, {adc} AS adc
        FROM assign a
        JOIN codes c ON c.neighbor_id = a.neighbor_id
        JOIN luts p ON p.cell = a.cell
        WHERE p.query_id != a.neighbor_id
    )""")
    ctes.append(f"""ranked AS (
        SELECT query_id, neighbor_id, {score},
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {score} {direction},
                                           neighbor_id ASC) AS rank
        FROM scored
    )""")
    if r is not None:
        score = "l2"
        ctes.append(f"""rescored AS (
        SELECT s.query_id, s.neighbor_id,
               {L2_DUCK.format(a='qn.cv', b='cn.cv')} AS l2
        FROM ranked s
        JOIN b cn ON cn.neighbor_id = s.neighbor_id
        JOIN b qn ON qn.neighbor_id = s.query_id
        WHERE s.rank <= {r}
    )""")
        ctes.append("""reranked AS (
        SELECT query_id, neighbor_id, l2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY l2 ASC, neighbor_id ASC) AS rank
        FROM rescored
    )""")
    last = "reranked" if r is not None else "ranked"
    return ("\n    WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, rank, {score} FROM {last}
    WHERE rank <= {k}
    """)
