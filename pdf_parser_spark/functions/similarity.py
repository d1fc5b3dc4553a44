"""Similarity search over embedding columns (array<float>).

Two paths, per the build brief:

- ``cosine_topk``  — exact brute-force top-k: the correctness baseline.
  The k-selection is a per-query window ranking (hash-partitioned on
  query id), not a global sort.
- ``ivf_topk``     — IVF-style bucketed ANN: :func:`centroid_cells`
  assigns every corpus vector to its nearest codebook cell; each query
  probes only its *nprobe* nearest cells, cutting the candidate join
  from |Q|×|N| to about |Q|×|N|·nprobe/cells. The join becomes an
  *equi-join on the cell id* ⇒ hash-partitioned, broadcast-able when
  the query side is small, AQE-skew-splittable when one cell is hot.
  At 100 TB this is the difference between a cross join and a shuffle
  the cluster can actually run.

Dot products fold sequentially in double precision (zip_with +
aggregate with a double accumulator) so results are bit-reproducible
across engines — the DuckDB oracle matches exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (F.sqrt(dot_expr(a, a)) * F.sqrt(dot_expr(b, b)))


def _dot_lit(vec: Column, centroid: list[float]) -> Column:
    """Sequential double fold of vec · literal-centroid — same IEEE
    order as DuckDB's list_dot_product, so the oracle matches exactly.

    (An expanded element_at chain compiles to whole-stage codegen but
    16 centroids × 64 dims of it produced 6-7 MB task binaries and
    ~30 s of codegen compile per stage — the interpreted fold is the
    better trade here. The literal array goes through ONE F.lit call:
    per-element F.lit+cast cost 16×64 py4j round-trips, several seconds
    of driver time per query construction.)"""
    arr = F.lit([float(x) for x in centroid])
    prods = F.zip_with(vec, arr, lambda x, y: x.cast("double") * y)
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def _sql_double(x: float) -> str:
    """Shortest-round-trip IEEE double as a Spark SQL expression.
    repr() gives ≤17 significant digits, which a string→double CAST
    parses back to the identical bits."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _dot_sql(vec_sql: str, centroid: list[float]) -> str:
    """SQL twin of :func:`_dot_lit` — same sequential fold, same IEEE
    order, but the whole expression ships to the JVM as ONE parsed
    string instead of hundreds of py4j calls."""
    arr = ", ".join(_sql_double(x) for x in centroid)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
    )


def centroid_cells(
    vec_col: str, centroids: list[list[float]], n: int
) -> Column:
    """The *n* nearest codebook cells of each vector as ``array<int>``,
    nearest first; *n* is clamped to the codebook size. Take the
    primary cell with ``element_at(cells, 1)``.

    Pure built-in expressions (no UDF): cells rank by
    ||v - c_i||² = v·v + c_i·c_i − 2·v·c_i. Since v·v is constant per
    row it cannot change the order and is dropped; the score is
    c_i·c_i − 2·dot(v, c_i) with sequential double folds, so the DuckDB
    oracle (``row_number() OVER (ORDER BY d, cid)``) reproduces it
    bit-for-bit. ``array_sort`` over (d, cid) structs breaks ties on
    the lower centroid index. The whole tree is built as one SQL string
    and parsed JVM-side in a single call (a Column-API build costs
    seconds of py4j round-trips per query construction)."""
    cands = []
    for i, c in enumerate(centroids):
        cc = 0.0
        for x in c:  # sequential left fold, same IEEE order
            cc += float(x) * float(x)
        cands.append(
            f"named_struct('d', {_sql_double(cc)} - 2.0D * "
            f"{_dot_sql(vec_col, c)}, 'cid', {i})"
        )
    n = min(int(n), len(centroids))
    return F.expr(
        f"transform(slice(array_sort(array({', '.join(cands)})), 1, {n}), "
        "s -> CAST(s.cid AS INT))"
    )


def medoid_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic seeded codebook: the corpus vectors with the
    n_cells smallest ids, in id order. Data-derived (a real coarse
    quantizer shape) yet SQL-reconstructible, so the IVF query stays
    oracle-checkable. The collect is bounded at n_cells rows."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def kmeans_codebook(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    sample_limit: int = 4096,
) -> list[list[float]]:
    """Train a k-means codebook on a bounded, deterministically-ordered
    sample (driver-side NumPy — the standard IVF pattern: fit on a
    sample, broadcast centroids, assign with expressions). Lloyd
    iterations with first-k init; empty clusters keep their previous
    centroid. Use with :func:`centroid_cells` / :func:`ivf_topk`
    for the production ANN path (data-dependent, so no SQL oracle —
    covered by the recall-vs-brute-force pytest instead).

    Cell sizing: the standard IVF rule is n_cells ≈ √N (candidate work
    per query ≈ nprobe·N/n_cells, codebook scan ≈ n_cells; √N balances
    them). At 10^9 vectors that is ~32k cells — the codebook is still
    a few MB, comfortably broadcastable; raise nprobe (not n_cells)
    first when recall is short, since each nprobe step costs one more
    equi-join partition's worth of candidates, monotonically
    (tests/test_functions.py pins the recall/candidate curve)."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_limit).collect()
    )
    x = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    k = min(n_cells, len(x))
    cents = x[:k].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return [c.tolist() for c in cents]


def _ranked_topk(
    pairs: DataFrame, k: int, round_digits: int
) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("_cos"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("rank").cast("int"),
            "neighbor_id",
            F.round("_cos", round_digits).alias("cos"),
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k neighbors per query → (q_id, rank, neighbor_id, cos).

    Broadcasts the query side (small by construction); the corpus side
    streams — no shuffle of the corpus at all.
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    pairs = c.crossJoin(q).where(F.col("q_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "q_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("_cos")
    )
    return _ranked_topk(scored, k, round_digits)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    round_digits: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k probing the query's *nprobe* nearest IVF cells.

    Equi-join on cell id (hash-partitioned / broadcastable) replaces
    the brute-force cross join — the scale path. ``centroids`` comes
    from :func:`medoid_centroids` or :func:`kmeans_codebook`; each
    corpus vector lives in its nearest cell, and each query explodes
    into its *nprobe* nearest cells before the join (recall ↑,
    candidates ×nprobe — the standard IVF knob). A corpus vector sits
    in exactly one cell, so no result dedup is needed.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("qv"),
            F.explode(centroid_cells(vec_col, centroids, nprobe)).alias("cell"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(centroid_cells(vec_col, centroids, 1), 1).alias("cell"),
    )
    pairs = c.join(q, "cell").where(F.col("q_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "q_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("_cos")
    )
    return _ranked_topk(scored, k, round_digits)


def jl_projection_matrix(in_dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic sparse-sign Johnson–Lindenstrauss matrix: entry
    (i, j) is ±1/√out_dim with the sign drawn from md5(f"jl:{i}:{j}")
    — seedless-deterministic, so any engine regenerates the identical
    matrix (Achlioptas 2003, database-friendly random projections).
    Rows are output dimensions."""
    import hashlib

    scale = 1.0 / (out_dim ** 0.5)
    mat = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            digest = hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()
            row.append(scale if int(digest[0], 16) < 8 else -scale)
        mat.append(row)
    return mat


def jl_project_exprs(
    vec: Column, matrix: list[list[float]], round_digits: int = 4
) -> list[Column]:
    """Project a float-array column through a literal JL matrix: one
    sequential double fold per output dimension (same IEEE order as
    DuckDB's list_dot_product, so oracles match exactly). The matrix
    rides as plan literals — no join, no broadcast; projection is a
    pure map stage that cuts the bytes every downstream shuffle
    carries by in_dim/out_dim."""
    return [
        F.round(_dot_lit(vec, row), round_digits).alias(f"p{j}")
        for j, row in enumerate(matrix)
    ]
