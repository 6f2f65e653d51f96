"""Distributed linear algebra over an embedding column.

The crux primitive is the GRAM / second-moment matrix G = sum_r x_r x_rᵀ
— the building block of PCA, whitening, OPQ rotation fitting and linear
probes. Its distributed shape is the classic tree aggregate: each Arrow
batch reduces its rows to one d×d partial (d² values, independent of
batch size), and a final d²-row aggregate sums the partials — the data
is touched once, map-side, and the exchange carries d² rows per
partition no matter how many rows the corpus has. At 100 TB that is the
only shape that works: the alternative (explode to (row, i, j) triples)
multiplies the corpus by d² before the shuffle.

Determinism contract (same as the scaled-integer PageRank): per-row
products are floored to 1e-12 grid longs BEFORE any summation, so every
sum is integer and the result is bit-identical at any parallelism AND
reproducible by any other engine — the DuckDB oracle runs the same
floor(x_i * x_j * 1e12) pipeline in SQL. Eigen-decomposition of the
d×d result happens on the DRIVER (numpy — d is 64 here, the matrix is
kilobytes; this is a bounded collect by construction), and the
projection back over the corpus is a map-only Arrow pass with the
k×d basis shipped by value in the UDF closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRAM_SCALE = 10 ** 12


def gram_matrix(emb: DataFrame, vec_col: str = "embedding",
                dim: int = None) -> DataFrame:
    """Upper-triangle scaled-integer Gram matrix of the embedding
    column: (i, j, gram_scaled) for 1 <= i <= j <= d, where
    gram_scaled = sum over rows of floor(x_i * x_j * 1e12) — exact
    integer arithmetic after the per-row floor, so the result is
    engine-exact and parallelism-independent. NULL vectors are skipped;
    a row whose length differs from ``dim`` raises in the worker (a
    ragged embedding column is corrupt input, not something to average
    over). ``dim`` defaults to the first row's length, resolved
    LAZILY inside the workers (no driver job at construction)."""
    dim_ = dim
    gs = float(GRAM_SCALE)  # captured by value: executors cannot import
    #                         this module, so closures must be self-contained

    def partial_gram(batches):
        import decimal

        import numpy as np
        import pandas as pd

        d = dim_
        acc = None  # object dtype: exact Python-int cross-batch fold
        for pdf in batches:
            vecs = [v for v in pdf.iloc[:, 0] if v is not None]
            if not vecs:
                continue
            lens = {len(v) for v in vecs}
            if d is not None:
                lens.add(d)
            if len(lens) > 1:
                raise ValueError(
                    f"ragged embedding column: lengths {sorted(lens)}")
            if d is None:
                d = lens.pop()
            M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            # explicit NaN check BEFORE the magnitude guard: a null/NaN
            # ELEMENT inside a vector (e.g. a null feature reaching
            # design_moments via F.array) makes np.abs(M).max() NaN,
            # which silently skips the overflow guard (NaN >= x is
            # False) and surfaces later as an opaque int-conversion
            # error — name the input problem instead
            if np.isnan(M).any():
                raise ValueError(
                    "gram/moment pass: NaN or null ELEMENT inside a "
                    "vector (null feature values reach the kernel as "
                    "NaN) — filter or impute the input column first")
            if acc is None:
                acc = np.zeros((d, d), dtype=object)
            # int64 wraps SILENTLY on overflow, so bound each exact-
            # int64 chunk: a cell's chunk sum is <= rows * (max|x|² *
            # gs + 1); pick the chunk size that keeps it under 2^62 and
            # fold chunk partials into the arbitrary-precision
            # accumulator (d² object adds per chunk — noise). With
            # unit-normalized vectors the chunk is ~4.6M rows, so the
            # common case is one chunk per Arrow batch.
            m = float(np.abs(M).max())
            cell = m * m * gs + 1.0
            if cell >= float(1 << 62):
                raise ValueError(
                    f"embedding magnitude {m:g} too large for the "
                    f"1e-12 integer grid")
            step = max(1, int(float(1 << 62) / cell))
            for s0 in range(0, len(M), step):
                Mc = M[s0:s0 + step]
                part = np.zeros((d, d), dtype=np.int64)
                # floor per ROW-PAIR-CELL before summing: d row-sized
                # passes instead of an n*d*d intermediate
                for i in range(d):
                    part[i, :] = (np.floor(Mc * (Mc[:, i:i + 1]) * gs)
                                  .astype(np.int64).sum(axis=0))
                acc += part
        if acc is None:
            return
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame({
            "i": iu + 1, "j": ju + 1, "d": d,
            "g": [decimal.Decimal(int(x)) for x in acc[iu, ju]]})

    part = emb.select(F.col(vec_col)).mapInPandas(
        partial_gram, schema="i int, j int, d int, g decimal(38,0)")
    # decimal partials + decimal sum: immune to long overflow however
    # large the partitions or however many partials arrive
    agg = (part.groupBy("i", "j")
           .agg(F.sum("g").alias("gram_scaled"),
                F.min("d").alias("_dmin"), F.max("d").alias("_dmax")))
    # cross-PARTITION ragged guard: per-partition inference cannot see a
    # corpus whose partitions each hold internally-consistent vectors of
    # DIFFERENT lengths (one file per dimension) — their partials would
    # merge into a silently wrong gram. Every non-empty partial emits
    # cell (1,1), so min(d) != max(d) there detects any mismatch; the
    # filter (not a droppable projection) raises at execution.
    checked = agg.where(
        F.when(F.col("_dmin") == F.col("_dmax"), F.lit(True))
        .otherwise(F.raise_error(F.concat(
            F.lit("gram_matrix: ragged embedding column across "
                  "partitions: dim "),
            F.col("_dmin").cast("string"), F.lit(" vs "),
            F.col("_dmax").cast("string")))))
    return checked.drop("_dmin", "_dmax").orderBy("i", "j")


def column_sums(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, sum_scaled, n_rows): per-dimension floor(x_i * 1e12) sums and
    the non-null row count — the mean vector for centering, in the same
    engine-exact integer contract as gram_matrix."""

    gs = float(GRAM_SCALE)  # by-value capture (self-contained closure)

    def partial_sums(batches):
        import decimal

        import numpy as np
        import pandas as pd

        d, acc, n = None, None, 0
        for pdf in batches:
            vecs = [v for v in pdf.iloc[:, 0] if v is not None]
            if not vecs:
                continue
            lens = {len(v) for v in vecs}
            if d is not None:
                lens.add(d)
            if len(lens) > 1:
                raise ValueError(
                    f"ragged embedding column: lengths {sorted(lens)}")
            if d is None:
                d = lens.pop()
            M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            # same NaN-element fail-loud as partial_gram (NaN would
            # silently skip the overflow guard below)
            if np.isnan(M).any():
                raise ValueError(
                    "gram/moment pass: NaN or null ELEMENT inside a "
                    "vector (null feature values reach the kernel as "
                    "NaN) — filter or impute the input column first")
            # same silent-int64-wrap guard as partial_gram: chunk so a
            # cell's exact-int64 chunk sum stays under 2^62, fold into
            # the arbitrary-precision accumulator
            m = float(np.abs(M).max())
            cell = m * gs + 1.0
            if cell >= float(1 << 62):
                raise ValueError(
                    f"embedding magnitude {m:g} too large for the "
                    f"1e-12 integer grid")
            step = max(1, int(float(1 << 62) / cell))
            if acc is None:
                acc = np.zeros(d, dtype=object)
            for s0 in range(0, len(M), step):
                acc += (np.floor(M[s0:s0 + step] * gs)
                        .astype(np.int64).sum(axis=0))
            n += len(vecs)
        if acc is None:
            return
        yield pd.DataFrame({
            "i": np.arange(1, d + 1), "d": d,
            "s": [decimal.Decimal(int(x)) for x in acc], "n": n})

    part = emb.select(F.col(vec_col)).mapInPandas(
        partial_sums, schema="i int, d int, s decimal(38,0), n long")
    agg = (part.groupBy("i")
           .agg(F.sum("s").alias("sum_scaled"),
                F.sum("n").alias("n_rows"),
                F.min("d").alias("_dmin"), F.max("d").alias("_dmax")))
    # cross-partition ragged guard (see gram_matrix): dimension 1 is
    # present in every non-empty partial, so the mismatch always fires
    checked = agg.where(
        F.when(F.col("_dmin") == F.col("_dmax"), F.lit(True))
        .otherwise(F.raise_error(F.concat(
            F.lit("column_sums: ragged embedding column across "
                  "partitions: dim "),
            F.col("_dmin").cast("string"), F.lit(" vs "),
            F.col("_dmax").cast("string")))))
    return checked.drop("_dmin", "_dmax").orderBy("i")


def fit_pca(emb: DataFrame, k: int, vec_col: str = "embedding"):
    """Driver-side PCA fit from the distributed Gram + mean: returns
    (components: k×d ndarray, eigvals: k, mean: d, n). The collects are
    d² + d rows — bounded by the embedding dimension, never the corpus.
    Covariance = G/n - mean meanᵀ (population). Eigenvector signs are
    fixed (largest-|component| coordinate made positive) so the basis is
    deterministic, not just the subspace."""
    import numpy as np

    g_rows = gram_matrix(emb, vec_col).collect()
    s_rows = column_sums(emb, vec_col).collect()
    if not s_rows:
        # column_sums only emits rows for partitions that saw vectors,
        # so an empty/all-null corpus arrives here as ZERO rows (not
        # n_rows == 0) — guard before the max() below turns it into a
        # bare "empty sequence" error
        raise ValueError("fit_pca: no non-null vectors")
    d = max(r["i"] for r in s_rows)
    n = int(s_rows[0]["n_rows"])
    if not (0 < k <= d):
        raise ValueError(f"fit_pca: k must be in 1..{d}, got {k}")
    G = np.zeros((d, d))
    for r in g_rows:
        G[r["i"] - 1, r["j"] - 1] = G[r["j"] - 1, r["i"] - 1] = (
            float(r["gram_scaled"]) / GRAM_SCALE)
    mean = np.array([float(r["sum_scaled"]) / GRAM_SCALE
                     for r in s_rows]) / n
    cov = G / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comp = vecs[:, order].T  # k x d
    # deterministic sign: the coordinate with the largest magnitude is
    # positive in every component
    for r_ in range(comp.shape[0]):
        j = int(np.argmax(np.abs(comp[r_])))
        if comp[r_, j] < 0:
            comp[r_] = -comp[r_]
    return comp, vals[order], mean, n


def design_moments(df: DataFrame, feat_cols, label_col: str) -> DataFrame:
    """Scaled-integer normal-equation moments for a linear probe: per
    row assemble [f_1..f_k, 1.0 (bias), y] and reuse gram_matrix — the
    upper triangle then carries A = Xᵀ X over features+bias (cells with
    j <= k+1) AND b = Xᵀ y (cells with j = k+2) in ONE corpus pass with
    the d²-bounded tree-aggregate shape. Same engine-exact contract as
    gram_matrix: per-row floor to the 1e-12 grid before any summation,
    so the moments are bit-identical at any parallelism and
    reproducible by the DuckDB oracle."""
    arr = F.array(*[F.col(c).cast("double") for c in feat_cols],
                  F.lit(1.0), F.col(label_col).cast("double"))
    return gram_matrix(df.select(arr.alias("_x")), "_x",
                       dim=len(feat_cols) + 2)


def fit_ridge(df: DataFrame, feat_cols, label_col: str,
              lam: float = 1e-6):
    """Closed-form ridge linear probe (the fasttext-style quality-
    classifier shape without the embedding lookup): solve
    (A + lam*n*I) w = b on the DRIVER from the distributed moments —
    the collect is (k+2)² rows, bounded by the feature count, never the
    corpus. Regularization scales with n so lam means the same thing at
    any corpus size; the bias coefficient is regularized too (keeps the
    system symmetric positive definite and the solve deterministic).
    Returns (w, n): w has k feature coefficients + the bias last."""
    rows = design_moments(df, feat_cols, label_col).collect()
    w, n, _ = solve_ridge(rows, len(feat_cols), lam)
    return w, n


def solve_ridge(moment_rows, k: int, lam: float = 1e-6):
    """Driver-side solve from collected design_moments rows: returns
    (w, n, rel_resid) where rel_resid is the normal-equation residual
    (A + lam*n*I) w - b scaled by max(1, |b|_inf) — a certificate that
    rounds to all-zeros iff the moments and the solve are consistent
    (the oracle-able face of the fit, same self-certifying pattern as
    the PCA whitening identity)."""
    import numpy as np

    d = k + 2
    if not moment_rows:
        raise ValueError("fit_ridge: no rows")
    M = np.zeros((d, d))
    for r in moment_rows:
        M[r["i"] - 1, r["j"] - 1] = M[r["j"] - 1, r["i"] - 1] = (
            float(r["gram_scaled"]) / GRAM_SCALE)
    n = M[k, k]  # bias·bias cell: sum of 1*1 = the row count, exactly
    if n <= 0:
        raise ValueError("fit_ridge: no rows")
    A = M[:k + 1, :k + 1]
    b = M[:k + 1, k + 1]
    reg = A + lam * n * np.eye(k + 1)
    w = np.linalg.solve(reg, b)
    resid = (reg @ w - b) / max(1.0, float(np.abs(b).max()))
    return w, int(round(n)), resid


def linear_score(w, feat_cols):
    """Catalyst Column computing the probe score w·[features, 1]:
    pure JVM-side arithmetic shipped as literals — scoring a 100 TB
    corpus is a map-only projection inside whole-stage codegen, no UDF,
    no join, no shuffle."""
    score = F.lit(float(w[-1]))  # bias
    for c, wi in zip(feat_cols, w[:-1]):
        score = score + F.lit(float(wi)) * F.col(c).cast("double")
    return score


def pca_project(emb: DataFrame, k: int, vec_col: str = "embedding",
                id_col: str = "vec_id", out_col: str = "proj",
                whiten: bool = False, round_to: int = None,
                fit=None) -> DataFrame:
    """Project every embedding onto the top-k PCA components (optionally
    whitened: unit variance per component). Fit is one bounded
    distributed pass (fit_pca) — or pass a precomputed ``fit`` tuple
    (callers over an immutable corpus memoize it, as the similarity
    operators take fitted codebooks); the projection is a MAP-ONLY Arrow pass with the k×d
    basis and mean shipped by value — no join, no shuffle, the 100 TB
    shape. Output (id, proj array<double>); ``round_to`` rounds the
    coordinates for stable presentation."""
    import numpy as np

    comp, vals, mean, _ = fit if fit is not None else fit_pca(
        emb, k, vec_col)
    if len(vals) != k:
        raise ValueError(f"fit has {len(vals)} components, expected {k}")
    scale = (1.0 / np.sqrt(np.maximum(vals, 1e-12))
             if whiten else np.ones(len(vals)))
    W = (comp * scale[:, None]).astype(np.float64)  # k x d
    mean_ = mean.copy()
    rnd = round_to

    def project(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["_v"]])
            P = (M - mean_) @ W.T
            if rnd is not None:
                P = np.round(P, rnd)
            yield pd.DataFrame({"_id": pdf["_id"],
                                "_p": [row.tolist() for row in P]})

    pre = emb.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_v")).filter(
        F.col("_v").isNotNull())
    dt = dict(pre.dtypes)["_id"]
    out = pre.mapInPandas(project,
                          schema=f"_id {dt}, _p array<double>")
    return out.select(F.col("_id").alias(id_col),
                      F.col("_p").alias(out_col))
