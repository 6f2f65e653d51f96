"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k — the corpus x queries product
  (dedup.cosine_join, the small query set on the right) ranked per query
  by a window.
- ivf_topk: IVF-style scale path — k-means-ish coarse centroids (sampled
  driver-side once), corpus assigned to nearest centroid (narrow), queries
  probe `nprobe` nearest centroids; the candidate join is an equi-join on
  centroid id, cutting the scanned corpus by ~ncentroids/nprobe.

Every exact cosine here comes from one of the two Arrow kernels in
dedup, one per shape: cosine_join for a dense product (brute_force_topk,
range_search) and cosine_verify for given candidate pairs (the IVF, PQ
and persisted-IVF rescoring, semantic_dedup_pairs). Both normalise in
float64; the rank and the output round the cosine to 6 places.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist
from .dedup import cosine_join, cosine_verify


def _to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(qid, cid, cosine, rank): the k best rows per qid of a (qid, cid,
    cosine) frame, by the cosine rounded to 6 places (descending), ties
    to the smaller cid."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (pairs.select("qid", "cid", F.round("cosine", 6).alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "cid", "cosine", "rank"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     qid_col: str = "qid") -> DataFrame:
    """Exact cosine top-k of corpus rows per query row.

    queries: DataFrame[qid, embedding]. Every (corpus, query) cosine
    comes from cosine_join with the queries on the right; a window
    partitioned by qid ranks them."""
    pairs = cosine_join(corpus.select(id_col, vec_col),
                        queries.select(qid_col, vec_col))
    return _top_k(pairs.select(F.col("id_b").alias("qid"),
                               F.col("id_a").alias("cid"), "cosine"), k)


def train_centroids(corpus: DataFrame, vec_col: str = "embedding",
                    ncentroids: int = 16, iters: int = 5, seed: int = 42,
                    max_sample: int = 4096):
    """Tiny k-means on a driver-side sample (the IVF codebook is small by
    construction; training data is a bounded sample, not the corpus).

    The sample is a genuine uniform row sample: fraction computed from the
    corpus count (with 20% overshoot, trimmed to max_sample) — a
    fraction=1.0 + limit() would just take the first partitions, biasing
    the codebook toward whatever the file order correlates with. The fit
    costs a count + bounded sample collect + driver k-means, so callers
    over an immutable corpus fit once and pass ``cents=`` to ivf_topk."""
    import numpy as np
    n = corpus.count()
    frac = min(1.0, (max_sample * 1.2) / max(n, 1))
    sample = np.array(
        [r["v"] for r in
         corpus.select(_to_double(F.col(vec_col)).alias("v"))
         .sample(fraction=frac, seed=seed).limit(max_sample).collect()],
        dtype="float64",
    )
    if len(sample) == 0:
        return np.zeros((1, 1))
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=min(ncentroids, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for i in range(len(cents)):
            pts = sample[assign == i]
            if len(pts):
                cents[i] = pts.mean(axis=0)
    return cents


def _nearest_centroid_udf(cents, n_take: int = 1):
    """Arrow-batched cell assignment: ids of the n_take nearest centroids
    by cosine, as one numpy matmul per batch.

    Why a pandas UDF and not Catalyst expressions: the expression version
    inlines ncentroids x dim literals (a ~5k-node tree) — Catalyst spends
    seconds PLANNING it, and the interpreted aggregate() lambdas evaluate
    ~1000 ops/row. A normalized-codebook matmul is the vectorized shape
    this math wants; the closure ships the codebook by value (no module
    globals — executor workers can't import this package)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cn = np.asarray(cents, dtype="float64")
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)
    take = int(n_take)

    @pandas_udf("array<int>")
    def assign(batch):
        import numpy as np
        import pandas as pd
        m = np.array(batch.tolist(), dtype="float64")
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cn.T
        # stable argsort on (-sim, index): deterministic under ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :take]
        return pd.Series(list(order.astype("int32")))

    return assign


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             qid_col: str = "qid", ncentroids: int = 16, nprobe: int = 4,
             cents=None) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest centroid cells.
    ``cents`` is an already-fitted codebook (train_centroids); fitted
    here when absent."""
    if cents is None:
        cents = train_centroids(corpus, vec_col, ncentroids)
    npart = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < npart:
        # spread the per-row assignment math; a small parquet file
        # otherwise runs it all in one task (no-op on wide inputs)
        corpus = corpus.repartition(npart)
    assign1 = _nearest_centroid_udf(cents, 1)
    assignp = _nearest_centroid_udf(cents, nprobe)
    c = corpus.select(F.col(id_col).alias("cid"), _to_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cell", assign1(F.col("cv"))[0])
    q = queries.select(F.col(qid_col).alias("qid"), _to_double(F.col(vec_col)).alias("qv"))
    q = q.select("qid", "qv", F.explode(assignp(F.col("qv"))).alias("cell"))
    return _top_k(cosine_verify(
        c.join(F.broadcast(q), on="cell").select("qid", "cid", "cv", "qv"),
        "cv", "qv"), k)


def range_search(corpus: DataFrame, queries: DataFrame,
                 threshold: float = 0.5, vec_col: str = "embedding",
                 id_col: str = "vec_id", qid_col: str = "qid") -> DataFrame:
    """Cosine range search: every corpus row within the given cosine
    radius of each query (self-matches excluded). Unlike top-k there is
    no window/rank: cosine_join (queries on the right) applies the
    threshold to the RAW cosine inside its kernel, and the output
    rounds after filtering, like the oracle. Candidate pruning for huge
    query sets belongs in ivf_topk-style cell routing; this is the
    exact baseline."""
    pairs = cosine_join(corpus.select(id_col, vec_col),
                        queries.select(qid_col, vec_col), threshold)
    return (pairs.filter(F.col("id_a") != F.col("id_b"))
            .select(F.col("id_b").alias("qid"), F.col("id_a").alias("cid"),
                    F.round("cosine", 6).alias("cosine")))


# ---------------------------------------------------------------- PQ

def train_pq_codebooks(corpus: DataFrame, vec_col: str = "embedding",
                       m: int = 4, ksub: int = 16, iters: int = 5,
                       seed: int = 42, max_sample: int = 4096):
    """Product-quantization codebooks: split the (L2-normalized) vector
    into m subvectors and k-means each subspace on a bounded uniform
    driver-side sample — same sampling discipline as train_centroids.
    Returns an (m, ksub, dim/m) float64 array. Requires dim % m == 0:
    a silent remainder would drop trailing dimensions from every ADC
    score and degrade recall with no warning."""
    import numpy as np
    n = corpus.count()
    frac = min(1.0, (max_sample * 1.2) / max(n, 1))
    sample = np.array(
        [r["v"] for r in
         corpus.select(_to_double(F.col(vec_col)).alias("v"))
         .sample(fraction=frac, seed=seed).limit(max_sample).collect()],
        dtype="float64")
    sample = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(
            f"PQ requires the vector dimension to be divisible by m: "
            f"dim={dim}, m={m} leaves a {dim % m}-dim remainder that would "
            f"be silently excluded from every distance computation")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        sub = sample[:, j * dsub:(j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=min(ksub, len(sub)), replace=False)]
        for _ in range(iters):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for i in range(len(cents)):
                pts = sub[assign == i]
                if len(pts):
                    cents[i] = pts.mean(axis=0)
        books.append(cents)
    return np.stack(books)  # (m, ksub, dsub)


def _pq_encode_udf(books):
    """Arrow-batched PQ encoder: normalize the row vector, argmin L2 per
    subspace -> array<int> of m codes. Codebooks ship by value in the
    closure (executor workers cannot import this package)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bk = np.asarray(books, dtype="float64")          # (m, ksub, dsub)
    m, ksub, dsub = bk.shape

    @pandas_udf("array<int>")
    def encode(batch):
        import numpy as np
        import pandas as pd
        x = np.array(batch.tolist(), dtype="float64")
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(x), m), dtype="int32")
        for j in range(m):
            sub = x[:, j * dsub:(j + 1) * dsub]
            # ||s - c||^2 = ||s||^2 - 2 s.c + ||c||^2; argmin over c
            d = (-2.0 * sub @ bk[j].T) + (bk[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def _pq_lut_udf(books):
    """Arrow-batched ADC lookup-table builder for QUERY vectors: flat
    array of m*ksub inner products <q_subvec_j, centroid_{j,i}> against
    the normalized query. approx_cos(q, c) = sum_j lut[j*ksub+code_j]."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bk = np.asarray(books, dtype="float64")
    m, ksub, dsub = bk.shape

    @pandas_udf("array<double>")
    def lut(batch):
        import numpy as np
        import pandas as pd
        x = np.array(batch.tolist(), dtype="float64")
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(x), m * ksub), dtype="float64")
        for j in range(m):
            sub = x[:, j * dsub:(j + 1) * dsub]
            out[:, j * ksub:(j + 1) * ksub] = sub @ bk[j].T
        return pd.Series(list(out))

    return lut


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
            vec_col: str = "embedding", id_col: str = "vec_id",
            qid_col: str = "qid", m: int = 4, ksub: int = 16,
            rerank: int = 4, books=None) -> DataFrame:
    """Approximate cosine top-k via product quantization + exact rerank.

    Scale shape: the corpus is encoded ONCE into m small codes (m bytes at
    ksub<=256 — a 100 TB float corpus becomes ~TBs of codes; the ADC scan
    reads ONLY codes), each query ships a tiny m*ksub lookup table, the
    approximate score is m array lookups per (query, row) in Catalyst, and
    the exact rerank touches just rerank*k candidates per query.

    approx_cos(q, c) = sum_j lut_q[j*ksub + code_c[j]] — the ADC estimate
    of the cosine between the normalized vectors. ``books`` is an
    already-fitted codebook (train_pq_codebooks); fitted here when
    absent."""
    if books is None:
        books = train_pq_codebooks(corpus, vec_col, m=m, ksub=ksub)
    npart = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < npart:
        corpus = corpus.repartition(npart)
    encode = _pq_encode_udf(books)
    lutf = _pq_lut_udf(books)
    c = corpus.select(F.col(id_col).alias("cid"),
                      _to_double(F.col(vec_col)).alias("cv"))
    codes = c.select("cid", encode(F.col("cv")).alias("codes"))
    q = queries.select(F.col(qid_col).alias("qid"),
                       _to_double(F.col(vec_col)).alias("qv"))
    qlut = q.select("qid", lutf(F.col("qv")).alias("lut"))
    approx = None
    for j in range(m):
        term = F.element_at(F.col("lut"),
                            F.lit(j * ksub) + F.col("codes")[j] + 1)
        approx = term if approx is None else approx + term
    scored = codes.crossJoin(F.broadcast(qlut)).select(
        "qid", "cid", approx.alias("approx"))
    wa = Window.partitionBy("qid").orderBy(F.col("approx").desc(), F.col("cid"))
    cand = (scored.withColumn("arank", F.row_number().over(wa))
            .filter(F.col("arank") <= rerank * k)
            .select("qid", "cid"))
    # exact rerank of the small candidate set
    return _top_k(cosine_verify(
        cand.join(c, "cid").join(F.broadcast(q), "qid")
        .select("qid", "cid", "cv", "qv"), "cv", "qv"), k)


def opq_rotation(corpus: DataFrame, vec_col: str = "embedding",
                 m: int = 4):
    """Parametric OPQ rotation (public recipe: Ge et al. 2013,
    "Optimized Product Quantization", the eigenvalue-allocation
    variant): eigendecompose the corpus's UNCENTERED second-moment
    matrix (centering would move the origin and break cosine's
    rotation-invariance), then greedily allocate principal directions
    to the m subspaces balancing each subspace's eigenvalue PRODUCT —
    variance-balanced subspaces quantize with near-equal error, which
    is what lifts PQ recall on correlated dimensions. Returns (R, n):
    a d×d orthonormal rotation whose row block [j*dsub, (j+1)*dsub)
    feeds PQ subspace j.

    Distributed cost: ONE pass through the corpus (the d²-bounded
    gram/tree aggregate from linalg) + driver-side eigh on a d×d
    matrix — same bounded-fit discipline as train_centroids. The
    rotation is deterministic (engine-exact gram, sign-fixed eigh,
    stable allocation), so results are parallelism-independent."""
    import numpy as np

    from .linalg import GRAM_SCALE, column_sums, gram_matrix

    s_rows = column_sums(corpus, vec_col).collect()
    if not s_rows:
        raise ValueError("opq_rotation: no non-null vectors")
    d = max(r["i"] for r in s_rows)
    n = int(s_rows[0]["n_rows"])
    if d % m != 0:
        raise ValueError(
            f"OPQ requires the vector dimension to be divisible by m: "
            f"dim={d}, m={m}")
    G = np.zeros((d, d))
    for r in gram_matrix(corpus, vec_col, dim=d).collect():
        G[r["i"] - 1, r["j"] - 1] = G[r["j"] - 1, r["i"] - 1] = (
            float(r["gram_scaled"]) / GRAM_SCALE)
    vals, vecs = np.linalg.eigh(G / n)  # ascending
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    # deterministic sign (largest-|coordinate| positive), as in fit_pca
    for c in range(vecs.shape[1]):
        jmax = int(np.argmax(np.abs(vecs[:, c])))
        if vecs[jmax, c] < 0:
            vecs[:, c] = -vecs[:, c]
    # greedy balanced allocation: walk eigenvalues descending, assign
    # each to the non-full subspace with the smallest log-product
    dsub = d // m
    logs = np.log(np.maximum(vals, 1e-12))
    load = [0.0] * m
    members: list = [[] for _ in range(m)]
    for idx in range(d):
        j = min((jj for jj in range(m) if len(members[jj]) < dsub),
                key=lambda jj: (load[jj], jj))
        members[j].append(idx)
        load[j] += logs[idx]
    rows = [vecs[:, idx] for j in range(m) for idx in members[j]]
    R = np.stack(rows)  # d x d, orthonormal
    return R, n


def opq_rotate(frame: DataFrame, rotation, vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """(id_col, _rv): ``frame``'s vectors rotated by an opq_rotation fit
    (R, n) — a map-only Arrow pass."""
    import numpy as np

    from .linalg import pca_project

    R, n = rotation
    d = R.shape[0]
    # unit scale, zero mean: pca_project degenerates to x -> R @ x
    return pca_project(frame, d, vec_col=vec_col, id_col=id_col,
                       out_col="_rv", fit=(R, np.ones(d), np.zeros(d), n))


def opq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             qid_col: str = "qid", m: int = 4, ksub: int = 16,
             rerank: int = 4, rotation=None, books=None) -> DataFrame:
    """PQ top-k in the OPQ-rotated space: rotate corpus and queries with
    the shared orthonormal R (a MAP-ONLY Arrow pass each — cosine is
    rotation-invariant, so the exact rerank inside pq_topk stays exact),
    then run the standard PQ/ADC pipeline on the rotated vectors. Same
    output contract as pq_topk; recall is >= plain PQ's on correlated
    embeddings because the subspaces are decorrelated and
    variance-balanced before quantization. ``rotation`` (opq_rotation)
    and ``books`` (train_pq_codebooks over the rotated corpus's "_rv")
    are already-fitted; each is fitted here when absent."""
    if rotation is None:
        rotation = opq_rotation(corpus, vec_col, m=m)
    rc = opq_rotate(corpus, rotation, vec_col, id_col)
    rq = opq_rotate(queries, rotation, vec_col, qid_col)
    return pq_topk(rc, rq, k=k, vec_col="_rv", id_col=id_col,
                   qid_col=qid_col, m=m, ksub=ksub, rerank=rerank,
                   books=books)


# ----------------------------------------------------- persisted IVF index

def build_ivf_index(corpus: DataFrame, path: str,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    ncentroids: int = 16) -> None:
    """Materialize an IVF index on disk: `<path>/centroids` (cell id +
    centroid vector) and `<path>/cells` — the corpus vectors written
    PARTITIONED BY cell. The partition layout is the point: a probe
    reads only its nprobe cell directories (partition pruning at the
    file-listing level), so at 100 TB a search scans
    ~nprobe/ncentroids of the corpus without any index server. The
    ``centroid`` column records kind "ivf" and ncentroids
    (dedup.check_params)."""
    from .dedup import stamp_params

    cents = train_centroids(corpus, vec_col, ncentroids)
    spark = corpus.sparkSession
    import pandas as pd
    spark.createDataFrame(
        pd.DataFrame({"cell": range(len(cents)),
                      "centroid": [list(map(float, c)) for c in cents]})) \
        .select("cell", stamp_params("centroid", kind="ivf",
                                     ncentroids=ncentroids)) \
        .write.mode("overwrite").parquet(f"{path}/centroids")
    assign1 = _nearest_centroid_udf(cents, 1)
    (corpus.select(F.col(id_col).alias("cid"),
                   _to_double(F.col(vec_col)).alias("cv"))
     .withColumn("cell", assign1(F.col("cv"))[0])
     .write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells"))


def search_ivf_index(spark, path: str, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", qid_col: str = "qid",
                     nprobe: int = 4) -> DataFrame:
    """Top-k cosine search against a build_ivf_index layout. The
    centroid table (tiny by construction) is collected to route queries;
    the cells scan carries a `cell IN (probed)` filter that prunes to
    the probed partition directories (asserted in tests via
    PartitionFilters). An index of another kind (no centroids table)
    or recording no kind raises IndexParamMismatch."""
    from pyspark.errors import AnalysisException

    from .dedup import IndexParamMismatch, check_params
    try:
        cents_df = spark.read.parquet(f"{path}/centroids")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        raise IndexParamMismatch(
            f"search_ivf_index: {path} has no centroids table: not an "
            f"index of kind 'ivf'") from e
    # ncentroids is read FROM the index (no probe-side twin to mismatch)
    check_params(cents_df, "centroid", "search_ivf_index", kind="ivf")
    cents_rows = cents_df.orderBy("cell").collect()
    cents = [r["centroid"] for r in cents_rows]
    assignp = _nearest_centroid_udf(cents, nprobe)
    q = queries.select(F.col(qid_col).alias("qid"),
                       _to_double(F.col(vec_col)).alias("qv"))
    q = q.select("qid", "qv", F.explode(assignp(F.col("qv"))).alias("cell"))
    probed = {r["cell"] for r in q.select("cell").distinct().collect()}
    cells = (spark.read.parquet(f"{path}/cells")
             .filter(F.col("cell").isin(*probed)))
    return _top_k(cosine_verify(
        cells.join(F.broadcast(q), on="cell").select("qid", "cid", "cv", "qv"),
        "cv", "qv"), k)


# ------------------------------------------------------------ quantization

def quantize_int8(emb: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|x|)/127,
    q_i = round(x_i / scale) clamped to [-127, 127] (half-up, matching
    SQL round semantics in both engines). 4x smaller than float32 (16x
    vs float64) with the scale kept per row for dequantization — the
    storage tier below PQ (which is ~16 bytes/vector but lossy-ranked).
    Pure Catalyst transform; deterministic, so exactly oracle-checkable.
    Adds `scale` (rounded) and `qvec` (array<int> in [-127,127])."""
    v = _to_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    qv = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    return emb.select(
        F.col(id_col), F.round(scale, 9).alias("scale"), qv.alias("qvec"))


def dequantize_error(emb: DataFrame, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Max absolute reconstruction error per vector after int8 round-trip
    — the quantization-quality check (bounded by scale/2 for symmetric
    round-to-nearest)."""
    q = quantize_int8(emb, vec_col, id_col).withColumnRenamed(id_col, "_qid")
    j = emb.join(q, F.col(id_col) == F.col("_qid"))
    v = _to_double(F.col(vec_col))
    err = F.array_max(F.zip_with(
        v, F.col("qvec"),
        lambda x, qi: F.abs(x - qi.cast("double") * F.col("scale"))))
    return j.select(F.col(id_col), F.round(err, 9).alias("max_err"),
                    F.round(F.col("scale") / 2, 9).alias("bound"))


def kmeans_assign(emb: DataFrame, k: int = 8,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """One deterministic Lloyd assignment step: centroids are the k
    vectors with the smallest ids (a fixed, engine-independent seeding —
    the point of this entry is the ASSIGNMENT plan, which is the hot
    per-iteration step of distributed k-means), every vector goes to its
    nearest centroid by squared L2.

    Cross-engine determinism: each squared per-dimension difference is
    scaled to an integer with floor(d * 1e9) and the distance is the
    BIGINT sum of those — no float accumulation order anywhere; argmin
    breaks ties on the lower centroid id via a min-over-struct on
    (dist, centroid).

    Plan: the k centroid rows are a broadcast side of a crossJoin (k
    rows — a Lloyd iteration at 100 TB broadcasts its centroid table
    exactly like this); the corpus scan computes k integer distances
    per row and ONE map-side min-struct groupBy per vector. Output:
    (vec_id, cluster, dist_scaled).
    """
    cents = (emb.filter(F.col(id_col) < k)
             .select(F.col(id_col).alias("_cid"),
                     F.col(vec_col).alias("_cvec")))
    dist = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_cvec"),
                   lambda x, y: F.floor(
                       (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double")) * 1e9)
                   .cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (emb.select(id_col, vec_col)
              .crossJoin(F.broadcast(cents))
              .select(F.col(id_col),
                      F.struct(dist.alias("d"),
                               F.col("_cid").alias("c")).alias("_dc")))
    best = scored.groupBy(id_col).agg(F.min("_dc").alias("_best"))
    return best.select(
        F.col(id_col),
        F.col("_best.c").alias("cluster"),
        F.col("_best.d").alias("dist_scaled"))


def kmeans_lloyd(emb: DataFrame, k: int = 8, iters: int = 2,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Full fixed-iteration Lloyd k-means in SCALED-INTEGER arithmetic —
    iterative ML with bit-exact cross-engine semantics (the same
    property the scaled-integer PageRank has):

    - coordinates are floor(x * 1e6) BIGINTs; distances are exact
      integer sums of squared diffs (order-independent);
    - centroid updates are floor(sum/count) per dimension — one IEEE
      double division on exact <2^53 integers, deterministic in any
      engine;
    - ties argmin on the lower centroid id. Clusters that lose all
      members simply drop out of the next iteration (documented —
      mirrors the oracle's inner-join semantics).

    Seeding: centroids = the k smallest ids (same deterministic contract
    as kmeans_assign).  Per iteration: ONE broadcast of the k scaled
    centroid vectors into a map-only distance pass + min-struct argmin,
    then the centroid update as a (cluster, dim) shuffle of n*dim
    (id, val) pairs with map-side partial sums — the canonical
    distributed-k-means iteration shape. Centroid tables are persisted
    per iteration (node-sized) to keep the lineage linear in iters.
    Returns the final assignment (vec_id, cluster, dist_scaled).
    """
    sx = F.transform(F.col(vec_col),
                     lambda x: F.floor(x.cast("double") * 1e6)
                     .cast("long"))
    pts = persist(emb.select(F.col(id_col).alias("id"), sx.alias("sv")))
    cents = pts.filter(F.col("id") < k).select(
        F.col("id").alias("cid"), F.col("sv").alias("cv"))
    assigned = None
    for i in range(iters):
        dist = F.aggregate(
            F.zip_with(F.col("sv"), F.col("cv"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        scored = (pts.crossJoin(F.broadcast(cents))
                  .select("id", "sv",
                          F.struct(dist.alias("d"),
                                   F.col("cid").alias("c")).alias("_dc")))
        assigned = (scored.groupBy("id")
                    .agg(F.min("_dc").alias("_best"),
                         F.first("sv").alias("sv")))
        if i < iters - 1:
            dims = assigned.select(
                F.col("_best.c").alias("cid"),
                F.posexplode("sv").alias("pos", "val"))
            upd = (dims.groupBy("cid", "pos")
                   .agg(F.floor(F.sum("val").cast("double")
                                / F.count(F.lit(1))).cast("long")
                        .alias("cval")))
            cents = persist(
                upd.groupBy("cid")
                .agg(F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("pos").alias("p"),
                                 F.col("cval").alias("v")))),
                    lambda s: s["v"]).alias("cv")))
    return assigned.select(
        "id",
        F.col("_best.c").alias("cluster"),
        F.col("_best.d").alias("dist_scaled")) \
        .withColumnRenamed("id", id_col)


# ------------------------------------------------------- semantic dedup

def semantic_dedup_pairs(emb: DataFrame, k: int = 8, iters: int = 2,
                         threshold: float = 0.4,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         asg: DataFrame = None) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — cluster the embedding space, then compare ONLY
    within clusters): k-means partitions the corpus, and the exhaustive
    cosine check runs per cluster, so candidate volume is
    sum_c n_c^2 ~ n^2/k instead of n^2 — at 100 TB, k ~ sqrt(n) clusters
    make each cluster's all-pairs block executor-sized while the
    cluster self-join shuffles each vector ONCE on its cluster id.

    Clustering is the engine-exact scaled-integer Lloyd (kmeans_lloyd),
    so the cluster boundaries — and therefore the pair set — are
    bit-identical in any engine: unlike LSH-banded dedup there is no
    recall parameter; within-cluster recall is exhaustive (cross-cluster
    near-dups are the documented SemDeDup trade-off, bounded by cluster
    granularity). Returns (cluster, id_a, id_b, cosine), id_a < id_b,
    cosine rounded to 6 decimals.

    The downstream prune rule (keep the smallest id per pair — or chain
    dedup_groups for transitive pruning) is the caller's policy;
    emitting pairs keeps this composable with the rest of the dedup
    stack.

    The pair cosine is the shared Arrow einsum kernel
    (dedup.cosine_verify); a pair with a NULL or dimension-mismatched
    embedding is dropped.

    `asg`: callers over an IMMUTABLE table may pass a (persisted)
    kmeans_lloyd assignment frame so repeated invocations skip the
    Lloyd iterations — caller-owned, not released here (same contract
    as minhash_lsh_pairs' `base`)."""
    if asg is None:
        asg = kmeans_lloyd(emb, k=k, iters=iters, vec_col=vec_col,
                           id_col=id_col)
    sid = asg.select(F.col(id_col).alias("_sid"), "cluster")
    v = emb.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
    # explicit REPARTITION_BY_NUM of the (tiny) per-vector side (r18):
    # whichever side of the cluster self-join streams, its partition
    # count is this frame's — and AQE coalesces the few-MB frame to 1-2
    # partitions, starving the fused n^2/k-pair einsum verify above the
    # join (measured at sf1 the 27M-pair verify ran on ~2 of 32 cores)
    side = sid.join(v, "_sid").repartition(
        emb.sparkSession.sparkContext.defaultParallelism)
    a = side.select(F.col("cluster"), F.col("_sid").alias("id_a"),
                    F.col("_v").alias("_va"))
    b = side.select(F.col("cluster"), F.col("_sid").alias("id_b"),
                    F.col("_v").alias("_vb"))
    paired = a.join(b, ["cluster"]).filter(F.col("id_a") < F.col("id_b"))
    pairs = cosine_verify(
        paired.select("cluster", "id_a", "id_b", "_va", "_vb"),
        "_va", "_vb", threshold)
    return pairs.select("cluster", "id_a", "id_b",
                        F.round(F.col("cosine"), 6).alias("cosine"))
