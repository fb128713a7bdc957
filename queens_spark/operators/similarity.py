"""Similarity search over embedding columns (array<float>).

Three tiers, matching how ANN is actually run at scale:

- **brute-force top-k**: broadcast the query vector, one narrow pass
  computing cosine per row, TakeOrdered for the top-k. O(n·d), no
  shuffle — the *correctness baseline* every approximate method is
  judged against.
- **LSH (random hyperplanes)**: deterministic integer hyperplanes →
  per-row sign bucket (zero shuffle) → search only the query's bucket.
  Sub-linear reads at the cost of recall.
- **IVF**: coarse quantizer = deterministic centroid subset; vectors
  partitioned by nearest centroid; queries probe the closest
  ``n_probe`` cells. At 100 TB the cell assignment is the partition
  key, so a probe touches only those partitions' files.

Determinism across engines: embeddings are quantized to integers
(floor(x·1000)) before any arithmetic, so dot products are exact
BIGINTs on both Spark and the DuckDB oracle; norms/cosines derived
from those ints via identical IEEE double ops are bit-identical.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

QUANT = 1000


def quantize(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint"))


def lit_array(vals, sql_type: str = "bigint") -> Column:
    """Constant array as ONE parsed SQL expression.

    ``F.array(*[F.lit(v) ... ])`` costs two py4j round trips per
    element, which for vector-width literals (64-dim embeddings, sign
    matrices, int8 query rows) makes PLAN BUILD the dominant cost of a
    map-only scoring query. The parsed text folds to the identical
    literal tree, so plans and results are unchanged. Doubles use the
    ``D``-suffix literal over Python ``repr`` (an exact round trip for
    every finite double); non-finite values fall back to the per-lit
    path."""
    vals = list(vals)
    if not vals:
        return F.expr(f"CAST(array() AS ARRAY<{sql_type.upper()}>)")
    if sql_type == "bigint":
        body = ",".join(f"{int(v)}L" for v in vals)
    elif sql_type == "tinyint":
        body = ",".join(f"{int(v)}Y" for v in vals)
    elif sql_type == "double":
        if not all(math.isfinite(float(v)) for v in vals):
            return F.array(*[F.lit(float(v)) for v in vals])
        body = ",".join(f"{float(v)!r}D" for v in vals)
    else:
        raise ValueError(f"unsupported lit_array type {sql_type!r}")
    return F.expr(f"array({body})")


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def int_norm2(a: Column) -> Column:
    return int_dot(a, a)


def cosine_from_ints(dot: Column, n2a: Column, n2b: Column) -> Column:
    return dot.cast("double") / (
        F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))
    )


def duckdb_quantize(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"


def duckdb_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i])), "
        f"(acc, v) -> acc + v)"
    )


# ------------------------------------------------------- brute force kNN

def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against a constant query vector.

    Plan: the query vector is a literal (broadcast by construction);
    one projection computes the cosine, then orderBy+limit compiles to
    TakeOrderedAndProject (per-partition heap + driver merge of k
    rows) — no full sort, no shuffle of the data.
    """
    q = lit_array(query_vec, "double")
    qq = quantize(q)
    v = quantize(vec_col)
    dot = int_dot(v, qq)
    cos = cosine_from_ints(dot, int_norm2(v), int_norm2(qq))
    return (
        df.select(
            F.col(id_col),
            cos.alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ------------------------------------------------------ near-dup pairs

MAX_BROADCAST_VECTORS = 2_000_000  # ~1 GB at d=64 int64 — broadcast ceiling


def embedding_neardup_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.9
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — the exact baseline.

    Plan: quantize in the JVM, broadcast the full (id, vector) matrix,
    then ``mapInPandas`` computes blocked int64 matrix products with
    numpy over Arrow batches — vectorized C loops instead of
    per-element expression interpretation (~50× on wide vectors).
    Each task emits only its block's above-threshold pairs, so the
    n² intermediate never materializes.

    The broadcast side caps at MAX_BROADCAST_VECTORS; beyond that the
    exact-pairs problem itself is O(n²) and you want the sub-quadratic
    :func:`lsh_bucket_pairs` instead.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    q = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("q"))
    side = q.collect()
    if len(side) > MAX_BROADCAST_VECTORS:
        raise ValueError(
            f"{len(side)} vectors exceeds the exact-pairs broadcast cap "
            f"({MAX_BROADCAST_VECTORS}); use lsh_bucket_pairs"
        )
    ids_b = np.array([r["id"] for r in side], dtype=np.int64)
    mat_b = np.array([r["q"] for r in side], dtype=np.int64)
    norms_b = np.sqrt((mat_b * mat_b).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((ids_b, mat_b, norms_b))

    def block(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf["id"].to_numpy(dtype=np.int64)
            a_mat = np.array(pdf["q"].tolist(), dtype=np.int64)
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1).astype(np.float64))
            dots = (a_mat @ b_mat.T).astype(np.float64)
            cos = dots / (a_norms[:, None] * b_norms[None, :])
            ii, jj = np.nonzero(
                (cos >= threshold) & (a_ids[:, None] < b_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ii],
                    "id_b": b_ids[jj],
                    "cosine": cos[ii, jj],
                }
            )

    return q.mapInPandas(block, "id_a bigint, id_b bigint, cosine double")


# --------------------------------------------------- LSH hyperplane ANN

LSH_PLANES = 8


def _hyperplane(j: int, dim: int) -> list[int]:
    """Deterministic pseudo-random integer hyperplane; the literal
    table is embedded in the SQL oracle, so any Python-side generator
    works — it only has to be stable across runs.

    Uses a seeded Mersenne Twister per plane (stable across CPython
    versions/platforms). An earlier linear-congruence formula
    ``((j*131 + d*137) % 17) - 8`` repeated every 17 dimensions —
    visibly structured, which biases which vector directions the
    planes can separate; a real PRNG keeps the measured
    bucket-collision rate at the theoretical ``(1 - θ/π)^planes``."""
    import random

    rng = random.Random(0xC0FFEE + 7919 * j)
    return [rng.randint(-8, 8) for _ in range(dim)]


def lsh_bucket(
    vec_col: str, dim: int, planes: int = LSH_PLANES, table: int = 0
) -> Column:
    """Sign-bucket id: bit j = [v·hⱼ ≥ 0]. Pure per-row arithmetic.
    *table* selects a disjoint run of hyperplanes so multi-table
    OR-construction (see :func:`lsh_bucket_pairs`) gets independent
    hashes."""
    v = quantize(vec_col)
    bucket = F.lit(0).cast("bigint")
    for j in range(planes):
        h = F.array(*[
            F.lit(x).cast("bigint")
            for x in _hyperplane(table * planes + j, dim)
        ])
        dot = int_dot(v, h)
        bucket = bucket + F.when(dot >= 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0))
    return bucket


def lsh_bucket_vectors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    planes: int = LSH_PLANES,
) -> DataFrame:
    """(id, bucket) for every vector — numpy-vectorized twin of
    :func:`lsh_bucket` producing identical buckets (same quantization,
    same integer hyperplanes, exact int64 matmul).

    The Column form evaluates planes × dim interpreted lambda steps per
    row; this form does ONE Arrow-batched int64 matrix product per
    batch — the sanctioned fast path for bulk vector math. Use the
    Column form when composing expressions, this one for bulk
    assignment jobs."""
    import numpy as np
    import pandas as pd

    H = np.array(
        [_hyperplane(j, dim) for j in range(planes)], dtype=np.int64
    ).T  # dim × planes
    weights = np.array([1 << j for j in range(planes)], dtype=np.int64)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.floor(
                np.array(pdf[vec_col].tolist(), dtype=np.float64) * QUANT
            ).astype(np.int64)
            bits = (mat @ H) >= 0
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "bucket": (bits * weights).sum(axis=1),
            })

    return df.select(id_col, vec_col).mapInPandas(
        run, f"{id_col} bigint, bucket bigint"
    )


def duckdb_lsh_bucket(
    expr: str, dim: int, planes: int = LSH_PLANES, table: int = 0
) -> str:
    q = duckdb_quantize(expr)
    parts = []
    for j in range(planes):
        h = "[" + ", ".join(
            str(x) for x in _hyperplane(table * planes + j, dim)
        ) + "]"
        dot = duckdb_int_dot("__q", f"{h}")
        parts.append(f"CASE WHEN {dot} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END")
    return "(SELECT " + " + ".join(parts) + f" FROM (SELECT {q} AS __q) __lsh)"


def lsh_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    query_vec: list[float],
    k: int = 10,
    planes: int = LSH_PLANES,
) -> DataFrame:
    """LSH probe search: hash the query to its sign bucket, exact
    top-k over only that bucket's vectors. With the bucket id as the
    storage partition key, the candidate read is partition pruning —
    sub-linear reads at the cost of recall (vectors across the
    hyperplane from the query are unreachable; raise recall with
    multi-probe or more tables, not more planes)."""
    qbits = 0
    qq = [int(math.floor(float(x) * QUANT)) for x in query_vec]
    for j in range(planes):
        h = _hyperplane(j, dim)
        if sum(a * b for a, b in zip(qq, h)) >= 0:
            qbits |= 1 << j
    # bulk bucket assignment (vectorized), then only the query's bucket
    # is re-read for exact scoring — at rest the bucket is the storage
    # partition key and this becomes partition pruning
    hits = lsh_bucket_vectors(df, vec_col, id_col, dim, planes).where(
        F.col("bucket") == qbits
    ).select(id_col)
    q = lit_array(query_vec, "double")
    qqc = quantize(q)
    cos = cosine_from_ints(
        int_dot(F.col("q"), qqc), int_norm2(F.col("q")), int_norm2(qqc)
    )
    return (
        df.join(hits, id_col)
        .select(F.col(id_col), quantize(vec_col).alias("q"))
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def lsh_bucket_table_vectors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    planes: int = LSH_PLANES,
    tables: int = 1,
) -> DataFrame:
    """(id, t, bucket) for every vector × hash table — the numpy twin
    of :func:`lsh_bucket` over *tables* disjoint hyperplane runs, one
    Arrow-batched int64 matmul per batch (bit-identical buckets)."""
    import numpy as np
    import pandas as pd

    H = np.array(
        [_hyperplane(j, dim) for j in range(tables * planes)], dtype=np.int64
    ).T  # dim × (tables·planes)
    weights = np.array([1 << j for j in range(planes)], dtype=np.int64)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.floor(
                np.array(pdf[vec_col].tolist(), dtype=np.float64) * QUANT
            ).astype(np.int64)
            bits = (mat @ H) >= 0  # n × (tables·planes)
            out = []
            for t in range(tables):
                buckets = (bits[:, t * planes:(t + 1) * planes] * weights).sum(axis=1)
                out.append(pd.DataFrame({
                    "id": pdf[id_col], "t": t, "bucket": buckets,
                }))
            yield pd.concat(out, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(
        run, "id bigint, t int, bucket bigint"
    )


def lsh_bucket_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.9,
    planes: int = LSH_PLANES,
    tables: int = 1,
) -> DataFrame:
    """Scale path for near-dup pairs: candidates share an LSH bucket in
    ANY of *tables* independent hash tables (OR-construction — the
    hyperplane analogue of MinHash banding), then exact cosine
    verification on candidates only.

    Tuning: per-table collision probability for angle θ is
    ``(1 - θ/π)^planes``; recall across tables is
    ``1 - (1 - p)^tables``. More planes → fewer false candidates,
    lower recall; more tables buy recall back at linear candidate
    cost. Size planes ~ log2(n) so expected bucket occupancy stays
    O(1) as the corpus grows. For the design regime (near-dup pairs at
    cosine ≥ 0.9), planes=6 × tables=8 recalls ~98%; low-similarity
    pairs are inherently hard for sign-LSH at any setting.

    Plan: buckets come from ONE Arrow-batched int64 matmul pass; the
    band self-join carries only (id, table, bucket); the vectors join
    back only for DEDUPLICATED candidates, and verification is a
    second numpy pass (row-wise int64 dot, bit-identical to the
    Column-expression cosine) instead of interpreted per-element
    lambdas.
    """
    import numpy as np
    import pandas as pd

    from queens_spark.operators.dedup import _persist

    v = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("q"))
    # The band frame feeds BOTH sides of the self-join; without the
    # persist barrier each side re-runs the Arrow matmul pass over the
    # full vector corpus (the multi-reference re-run footgun). The
    # persisted frame is (id, t, bucket) — three ints × tables per
    # vector, tiny next to the embeddings it replaces.
    bands = _persist(
        lsh_bucket_table_vectors(df, vec_col, id_col, dim, planes, tables)
    )
    a = bands.select(F.col("id").alias("id_a"), "t", "bucket")
    b = bands.select(F.col("id").alias("id_b"), "t", "bucket")
    cands = (
        a.join(b, ["t", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = v.select(F.col("id").alias("id_a"), F.col("q").alias("qa"))
    vb = v.select(F.col("id").alias("id_b"), F.col("q").alias("qb"))
    joined = cands.join(va, "id_a").join(vb, "id_b")

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf["qa"].tolist(), dtype=np.int64)
            B = np.array(pdf["qb"].tolist(), dtype=np.int64)
            dots = (A * B).sum(axis=1).astype(np.float64)
            na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
            nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
            cos = dots / (na * nb)
            mask = cos >= threshold
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy()[mask],
                "id_b": pdf["id_b"].to_numpy()[mask],
                "cosine": cos[mask],
            })

    return joined.mapInPandas(verify, "id_a bigint, id_b bigint, cosine double")


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int] | None = None,
    threshold: float = 0.9,
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: assign every vector to
    its nearest centroid (:func:`ivf_assign`), find within-cluster
    pairs with cosine ≥ *threshold*, and drop each pair's higher id —
    survivors are the semantically-distinct representatives, returned
    as (id, centroid_id).

    Why cluster-bounded: exact all-pairs is O(n²); restricting
    candidate pairs to vectors that share a coarse cell makes the
    quadratic term O(Σ cluster²) — the SemDeDup trade (near-dups are
    overwhelmingly co-located; cross-cluster near-dups are forfeited,
    documented, recall rises with more/finer centroids).

    Plan shape: assignment is a broadcast-centroid argmax (vectors
    never shuffle for it); the pair join shuffles on centroid_id only;
    cosine verification streams the joined pairs through ONE
    Arrow-batched numpy pass (row-wise exact int64 dots — identical
    IEEE expression to the Column form, q51-proven); losers collapse
    to a distinct id set that anti-joins back (broadcastable — the
    loser set is dedup-output-sized, not corpus-sized).
    """
    import numpy as np
    import pandas as pd

    from queens_spark.operators.dedup import _persist

    q = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("q"))
    assigned = ivf_assign(
        df, vec_col, id_col, centroid_ids, centroids_df=centroids_df
    ).select(F.col(id_col).alias("id"), "centroid_id")
    # persist barrier: v fans out to BOTH pair-join sides and the final
    # anti-join — without it, projection collapse re-evaluates the
    # per-element quantize transform (and re-scans df) once per
    # consumer (the footgun class CLAUDE.md documents)
    v = _persist(q.join(assigned, "id"))
    a = v.select(
        F.col("id").alias("id_a"), F.col("q").alias("qa"), "centroid_id"
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("q").alias("qb"), "centroid_id"
    )
    joined = a.join(b, "centroid_id").where(F.col("id_a") < F.col("id_b"))

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf["qa"].tolist(), dtype=np.int64)
            B = np.array(pdf["qb"].tolist(), dtype=np.int64)
            dots = (A * B).sum(axis=1).astype(np.float64)
            na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
            nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
            cos = dots / (na * nb)
            mask = cos >= threshold
            yield pd.DataFrame({"id": pdf["id_b"].to_numpy()[mask]})

    losers = joined.mapInPandas(verify, "id bigint").distinct()
    return (
        v.join(losers, "id", "left_anti")
        .select(F.col("id").alias(id_col), "centroid_id")
    )


def knn_graph(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int] | None = None,
    k: int = 5,
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """Cluster-bounded exact kNN GRAPH: every vector's top-*k* nearest
    neighbors within its coarse cell — the construction behind
    SemDeDup's pair search generalized to a reusable artifact (dataset
    cartography, label-error detection, graph-based curation all
    consume a kNN graph). Returns (vec_id, neighbor_id, rank, cos),
    rank 1..k per vector, ties broken on neighbor id.

    Why cluster-bounded: a global exact graph is O(n²); restricting
    edges to shared-cell pairs bounds the quadratic term to
    Σ cluster² (the SemDeDup trade — near neighbors co-locate;
    cross-cell edges are forfeited, recall rises with finer/trained
    cells). At deployment scale the cells come from the STORED IVF
    index (store/vector_index.py), so assignment is a manifest read,
    not a recompute.

    Plan shape: one (id, q, n2, cell) projection (quantize and the
    self-norm computed ONCE); vectors shuffle ONCE, by centroid_id,
    into a per-cell Arrow batch where the whole cell's pairwise
    int64 dot matrix is one numpy matmul and the top-k selection is a
    vectorized argsort — the Σ cluster² pair rows never materialize
    as Spark rows, never cross a shuffle, and never pay the
    interpreted per-element HOF dot (guide §2.3 shuffle n rows not
    n², §4.2 batch native math). Per-task memory is bounded by the
    coarse-cell size, the same SemDeDup bound the pair search always
    had. Cosine is numerically IDENTICAL to the Column form: exact
    int64 dots cast to double, divided by the product of
    double sqrts — the same IEEE ops in the same order (the q51/q86
    verified pattern).
    """
    import numpy as np
    import pandas as pd

    q = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("q"))
    assigned = ivf_assign(
        df, vec_col, id_col, centroid_ids, centroids_df=centroids_df
    ).select(F.col(id_col).alias("id"), "centroid_id")
    v = q.join(assigned, "id").select(
        "id", "q", "centroid_id", int_norm2(F.col("q")).alias("n2")
    )
    kk = int(k)

    def cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({
                "vec_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "rank": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            })
        ids = pdf["id"].to_numpy(dtype=np.int64)
        qm = np.array(pdf["q"].tolist(), dtype=np.int64)
        dots = qm @ qm.T  # exact: |dot| <= dim * QUANT^2 << 2^53
        norm = np.sqrt(pdf["n2"].to_numpy(dtype=np.int64).astype(np.float64))
        cos = dots.astype(np.float64) / (norm[:, None] * norm[None, :])
        # rank 1..k by (cos DESC, neighbor_id ASC), self excluded —
        # the row_number() ordering verbatim. ids are distinct, so
        # (cos, id) is a total order; -cos is an exact IEEE negation.
        take = min(kk, n - 1)
        out_src, out_dst, out_rank, out_cos = [], [], [], []
        for i in range(n):
            row = cos[i]
            sel = np.lexsort((ids, -row))
            sel = sel[sel != i][:take]
            out_src.append(np.full(take, ids[i], dtype=np.int64))
            out_dst.append(ids[sel])
            out_rank.append(np.arange(1, take + 1, dtype=np.int64))
            out_cos.append(row[sel])
        return pd.DataFrame({
            "vec_id": np.concatenate(out_src),
            "neighbor_id": np.concatenate(out_dst),
            "rank": np.concatenate(out_rank),
            "cos": np.concatenate(out_cos),
        })

    return v.groupBy("centroid_id").applyInPandas(
        cell_knn, "vec_id bigint, neighbor_id bigint, rank bigint, cos double"
    )


def knn_hubness(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int] | None = None,
    k: int = 5,
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """Hubness audit of the cluster-bounded kNN graph: the in-degree
    histogram — how many vectors appear in exactly d other vectors'
    top-k lists, for every observed in-degree d (vectors in nobody's
    list appear as in-degree 0). Hub vectors (in-degree ≫ k) are the
    documented ANN pathology (high-dimensional hubness skews
    retrieval toward a few points and marks cluster centers /
    near-duplicate cores); a heavy histogram tail is the rebuild /
    re-embed signal, the vector twin of the text side's hot-token
    audit (token_stats).

    Two counter-width aggregations over the already-bounded kNN edge
    list (|V|·k rows): in-degree per vector, then count per in-degree
    — output cardinality is the distinct-degree count. Returns
    (in_degree, n_vectors) ordered by in_degree.
    """
    edges = knn_graph(
        df, vec_col, id_col, centroid_ids, k=k, centroids_df=centroids_df
    )
    indeg = edges.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    all_ids = df.select(F.col(id_col).alias("neighbor_id"))
    full = all_ids.join(indeg, "neighbor_id", "left").select(
        F.coalesce("in_degree", F.lit(0)).cast("bigint").alias("in_degree")
    )
    return (
        full.groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("in_degree")
    )


def embedding_covariance(df: DataFrame, vec_col: str) -> DataFrame:
    """Exact integer covariance statistics of the quantized embedding
    matrix — the PCA/whitening preparation step (decorrelating
    dimensions before PQ/IVF measurably improves quantization; the
    variance spectrum is also the collapse/anisotropy audit for an
    embedding model). Returns one row per dimension pair i ≤ j:
    (dim_i, dim_j, n, sum_i, sum_j, sum_xy, cov_num) with
    cov_num = n·Σxy − Σx·Σy — the covariance numerator at scale
    n²·QUANT², exact int64, so any engine reproduces it bit-for-bit
    (eigen-decomposition happens downstream in whatever linear-algebra
    library consumes the d×d table; the corpus-scale part is THIS).

    Scale shape (the integer-Lloyd convention): ONE Arrow-batched
    corpus pass accumulates per-partition (count, Σx per dim, upper
    X'X) int64 states — d + d(d+1)/2 counters per partition, shuffled
    once as counter rows and merged by addition; the d²-sized finish
    joins tiny broadcast frames. The corpus never shuffles. int64
    envelope: |Σxy| ≤ n·d·QUANT² and n·Σxy must stay below 2⁶³ —
    guarded at merge time (shard above ~10⁹ rows per covariance job).
    """
    import numpy as np
    import pandas as pd

    from queens_spark.operators.dedup import _persist

    def stats(batches):
        n = 0
        s = None
        S = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf["__q"].tolist(), dtype=np.int64)
            if s is None:
                s = np.zeros(mat.shape[1], dtype=np.int64)
                S = np.zeros((mat.shape[1], mat.shape[1]), dtype=np.int64)
            n += mat.shape[0]
            s += mat.sum(axis=0)
            S += mat.T @ mat
        rows = []
        if s is not None:
            d = len(s)
            for i in range(d):
                rows.append((i, -1, int(s[i])))
                for j in range(i, d):
                    rows.append((i, j, int(S[i, j])))
        rows.append((-1, -1, n))
        yield pd.DataFrame(rows, columns=["i", "j", "v"])

    part = df.select(quantize(vec_col).alias("__q")).mapInPandas(
        stats, "i int, j int, v bigint"
    )
    agg = _persist(
        part.groupBy("i", "j").agg(F.sum("v").alias("v"))
    )
    head = agg.agg(
        F.max(F.when(F.col("i") >= 0, F.abs(F.col("v")))).alias("m"),
        F.sum(F.when((F.col("i") == -1), F.col("v"))).alias("n"),
    ).collect()[0]
    if int(head["n"] or 0) and int(head["m"]) * int(head["n"]) >= 2**63:
        raise ValueError(
            f"covariance int64 envelope exceeded (n={head['n']}, "
            f"max|sum|={head['m']}); shard the corpus per job"
        )
    pairs = agg.where("i >= 0 AND j >= 0")
    dims = agg.where("i >= 0 AND j = -1").select(
        F.col("i"), F.col("v").alias("sx")
    )
    cnt = agg.where("i = -1").select(F.col("v").alias("n"))
    di = dims.select(F.col("i").alias("dim_i"), F.col("sx").alias("sum_i"))
    dj = dims.select(F.col("i").alias("dim_j"), F.col("sx").alias("sum_j"))
    return (
        pairs.select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            F.col("v").alias("sum_xy"),
        )
        .join(F.broadcast(di), "dim_i")
        .join(F.broadcast(dj), "dim_j")
        .crossJoin(F.broadcast(cnt))
        .select(
            "dim_i", "dim_j", "n", "sum_i", "sum_j", "sum_xy",
            F.expr("n * sum_xy - sum_i * sum_j").alias("cov_num"),
        )
    )


def double_dot(a: Column, b: Column) -> Column:
    """Left-fold double dot product — fixed evaluation order, so any
    engine folding the same way is bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _one_seed_source(centroid_ids, centroids_pred) -> None:
    """Seeds come from exactly one of the two arguments: given both,
    which rows train the quantizer would be a silent choice."""
    if centroid_ids is not None and centroids_pred is not None:
        raise ValueError("pass centroid_ids or centroids_pred, not both")


def kmeans_refine(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int] | None = None,
    centroids_pred: Column | None = None,
) -> DataFrame:
    """One Lloyd's iteration of k-means in pure DataFrame ops — the
    distributed training loop for IVF coarse quantizers: seed
    centroids (deterministic id subset) → assign every vector (argmax
    cosine, ties to lowest centroid) → recompute centroids as
    per-dimension means → reassign against the refined centroids.
    Returns (id, cluster, cosine) for the final assignment.

    Scale shape: assignment is a broadcast-centroid argmax (vectors
    never shuffle); the update is posexplode → (cluster, dim) partial
    SUM/COUNT — map-side combined, so the shuffle carries
    k·d·partitions counters, not vectors; refined centroids reassemble
    with a sorted collect_list (k·d rows total — driver-scale by
    construction) and broadcast back. Repeating the iteration is a
    loop over this function; each round is the same two-shuffle plan.

    Determinism across engines: means are SUM(int64)/COUNT in one
    double division; dots fold left in dimension order, so the DuckDB
    oracle reproduces cosines bit-for-bit.

    Seeds come either from *centroid_ids* (explicit list) or from
    *centroids_pred* — a predicate over df's id column that selects
    the seed rows LAZILY (the :func:`coarse_centroids` pattern):
    collecting the ids first costs a corpus scan at plan build plus an
    ``isin()`` literal that grows with the corpus.
    """
    _one_seed_source(centroid_ids, centroids_pred)
    if centroids_pred is not None:
        cents_df = coarse_centroids(df, vec_col, id_col, centroids_pred)
        assigned0 = ivf_assign(
            df, vec_col, id_col, centroids_df=cents_df
        )
    elif centroid_ids is not None:
        assigned0 = ivf_assign(df, vec_col, id_col, centroid_ids)
    else:
        raise ValueError("need centroid_ids or centroids_pred")
    q = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("q"))
    assigned0 = assigned0.select(
        F.col(id_col).alias("id"), F.col("centroid_id").alias("c0")
    )
    exploded = (
        q.join(assigned0, "id")
        .select("c0", F.posexplode("q").alias("dim", "val"))
    )
    means = (
        exploded.groupBy("c0", "dim")
        .agg((F.sum("val").cast("double") / F.count(F.lit(1))).alias("m"))
    )
    refined = (
        means.groupBy("c0")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("cq")
        )
        .withColumn("cn2", double_dot(F.col("cq"), F.col("cq")))
    )
    v = q.withColumn(
        "qd", F.transform(F.col("q"), lambda x: x.cast("double"))
    ).withColumn("n2", double_dot(F.col("qd"), F.col("qd")))
    cos = double_dot(F.col("qd"), F.col("cq")) / (
        F.sqrt(F.col("n2")) * F.sqrt(F.col("cn2"))
    )
    scored = v.crossJoin(F.broadcast(refined)).select(
        F.col("id"), F.col("c0"), cos.alias("cosine")
    )
    return (
        scored.groupBy("id")
        .agg(
            F.max(
                F.struct(F.col("cosine"), (-F.col("c0")).alias("neg_c0"))
            ).alias("best")
        )
        .select(
            F.col("id").alias(id_col),
            (-F.col("best.neg_c0")).cast("bigint").alias("cluster"),
            F.col("best.cosine").alias("cosine"),
        )
    )


# ----------------------------------------------------------------- IVF

def ivf_assign_vectors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int],
) -> DataFrame:
    """Numpy-vectorized twin of :func:`ivf_assign`: one Arrow-batched
    int64 matrix product + argmax per batch instead of a crossJoin of
    interpreted dot products. Bit-identical output (same quantization,
    same IEEE cosine expression, ties to the LOWEST centroid id —
    centroids are scanned in ascending id order so argmax's
    first-max-wins matches the Column form's tie-break)."""
    import numpy as np
    import pandas as pd

    cents = (
        df.where(F.col(id_col).isin(centroid_ids))
        .select(F.col(id_col).alias("cid"), quantize(vec_col).alias("cq"))
        .orderBy("cid")
        .collect()
    )
    cid = np.array([r["cid"] for r in cents], dtype=np.int64)
    C = np.array([r["cq"] for r in cents], dtype=np.int64)
    cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.floor(
                np.array(pdf[vec_col].tolist(), dtype=np.float64) * QUANT
            ).astype(np.int64)
            vn = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
            cos = (mat @ C.T).astype(np.float64) / (vn[:, None] * cn[None, :])
            best = cos.argmax(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "centroid_id": cid[best],
                "centroid_cosine": cos[np.arange(len(best)), best],
            })

    return df.select(id_col, vec_col).mapInPandas(
        run, f"{id_col} bigint, centroid_id bigint, centroid_cosine double"
    )


def ivf_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int] | None = None,
    query_vec: list[float] | None = None,
    k: int = 10,
    n_probe: int = 2,
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """IVF probe search: rank centroids against the query, keep the
    best *n_probe* cells, exact top-k over only those cells' vectors.

    At scale the assignment is precomputed and used as the partition
    key (see :func:`ivf_assign`), so the candidate read is partition
    pruning — this function computes it inline for self-containment.
    The probe list is a driver-side top-n over the centroid set (small
    by construction, like any broadcast dimension). Ties everywhere
    break by ascending id, so results are deterministic.
    """
    if query_vec is None:
        raise ValueError("ivf_search needs query_vec")
    q = lit_array(query_vec, "double")
    qq = quantize(q)
    qn2 = int_norm2(qq)
    if centroids_df is not None:
        cents = centroids_df.select("centroid_id", "cq", "cn2")
    elif centroid_ids is not None:
        cents = (
            df.where(F.col(id_col).isin(centroid_ids))
            .select(F.col(id_col).alias("centroid_id"), quantize(vec_col).alias("cq"))
            .withColumn("cn2", int_norm2(F.col("cq")))
        )
    else:
        raise ValueError("ivf_search needs centroid_ids or centroids_df")
    probe = (
        cents.select(
            "centroid_id",
            cosine_from_ints(int_dot(F.col("cq"), qq), F.col("cn2"), qn2).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("centroid_id"))
        .limit(n_probe)
        .collect()
    )
    probe_ids = [r["centroid_id"] for r in probe]
    candidates = ivf_assign(
        df, vec_col, id_col, centroid_ids, centroids_df=centroids_df
    ).where(F.col("centroid_id").isin(probe_ids))
    v = df.join(candidates.select(id_col), id_col).select(
        F.col(id_col), quantize(vec_col).alias("q")
    )
    cos = cosine_from_ints(int_dot(F.col("q"), qq), int_norm2(F.col("q")), qn2)
    return (
        v.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def coarse_centroids(
    df: DataFrame, vec_col: str, id_col: str, pred: Column
) -> DataFrame:
    """(centroid_id, cq, cn2) seed-centroid frame from *df* rows
    matching *pred* — the no-driver-round-trip seed pick. Selecting
    seeds by first collecting an id list costs a corpus scan at plan
    build AND an ``isin()`` literal whose size grows with the corpus
    (seed counts scale with n); as a lazy frame the pick rides the
    centroid broadcast :func:`ivf_assign` already does."""
    return (
        df.where(pred)
        .select(
            F.col(id_col).alias("centroid_id"),
            quantize(vec_col).alias("cq"),
        )
        .withColumn("cn2", int_norm2(F.col("cq")))
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int] | None = None,
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (by exact cosine
    against the broadcast centroid set). The centroid id becomes the
    partition key for IVF search. Centroids come from *df* rows with
    ids in *centroid_ids*, or from an explicit *centroids_df*
    (centroid_id, cq, cn2) — the stored-coarse-quantizer path, where
    a new ingest batch must be assigned against the INDEX's centroids
    even though it contains none of them."""
    if centroids_df is not None:
        cents = centroids_df.select("centroid_id", "cq", "cn2")
    elif centroid_ids is not None:
        cents = (
            df.where(F.col(id_col).isin(centroid_ids))
            .select(F.col(id_col).alias("centroid_id"), quantize(vec_col).alias("cq"))
            .withColumn("cn2", int_norm2(F.col("cq")))
        )
    else:
        raise ValueError("need centroid_ids or centroids_df")
    v = df.select(
        F.col(id_col), quantize(vec_col).alias("q")
    ).withColumn("n2", int_norm2(F.col("q")))
    cos = cosine_from_ints(int_dot(F.col("q"), F.col("cq")), F.col("n2"), F.col("cn2"))
    scored = v.crossJoin(F.broadcast(cents)).select(
        F.col(id_col), "centroid_id", cos.alias("cosine")
    )
    return (
        scored.groupBy(id_col)
        .agg(F.max(F.struct(F.col("cosine"), (-F.col("centroid_id")).alias("neg_cid"))).alias("best"))
        .select(
            F.col(id_col),
            (-F.col("best.neg_cid")).cast("bigint").alias("centroid_id"),
            F.col("best.cosine").alias("centroid_cosine"),
        )
    )


def train_coarse_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_ids: list[int] | None = None,
    iters: int = 1,
    centroids_pred: Column | None = None,
) -> list[tuple[int, list[int]]]:
    """Integer Lloyd training for the IVF COARSE quantizer — the
    missing half of the cell_stats() audit: caller-picked seed cells
    (``vec_id % 200``-style) can be arbitrarily skewed, and at 100 TB
    a hot cell is the difference between reading n_probe/n_cells of
    the codes and reading half the corpus. Each round assigns every
    vector to its nearest current centroid by the EXACT quantized
    cosine :func:`ivf_assign` uses (ties to the lowest centroid id),
    then recomputes each centroid as the element-wise INTEGER mean of
    its members (``sum div count`` — the :func:`pq_refine_codebooks`
    convention, truncation identical on both engines, so a DuckDB
    twin reproduces every trained element bit-for-bit). Empty cells
    keep their previous centroid. Centroid labels stay the seed ids.

    Returns ``[(centroid_id, trained_cq)]`` sorted by id — feed to
    :func:`ivf_assign` via a centroids frame, or let
    ``build_vector_index(coarse_iters=...)`` do both and persist.

    Scale shape per round: ONE Arrow-batched corpus pass emitting
    n_cells·dim partial SUM/COUNT counters per task (map-side
    combined by the groupBy — the shuffle carries counters, never
    vectors); the centroid set is driver-scale by construction, like
    any trained quantizer artifact. The DuckDB twin is
    :func:`duckdb_trained_cents_ctes`.
    """
    import numpy as np
    import pandas as pd

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    _one_seed_source(centroid_ids, centroids_pred)
    if centroids_pred is not None:
        seed_filter = centroids_pred
    elif centroid_ids is not None:
        # explicit-list path; prefer centroids_pred where the ids come
        # from a predicate anyway — collecting them first costs a
        # corpus scan at plan build plus an isin() literal that grows
        # with the corpus
        seed_filter = F.col(id_col).isin([int(c) for c in centroid_ids])
    else:
        raise ValueError("need centroid_ids or centroids_pred")
    seed_rows = (
        df.where(seed_filter)
        .select(F.col(id_col).alias("cid"), quantize(vec_col).alias("cq"))
        .orderBy("cid")
        .collect()
    )
    if len(seed_rows) < 2:
        raise ValueError(
            f"need >= 2 centroid seeds, got {len(seed_rows)}"
        )
    cids = [int(r["cid"]) for r in seed_rows]
    cb = np.array([[int(x) for x in r["cq"]] for r in seed_rows],
                  dtype=np.int64)
    dim = cb.shape[1]
    zn = (cb * cb).sum(axis=1)
    if np.any(zn == 0):
        bad = [cids[i] for i in np.nonzero(zn == 0)[0][:5]]
        raise ValueError(
            f"centroid seeds {bad} have zero quantized norm; "
            "cosine is undefined — pick non-degenerate seed ids"
        )

    for _ in range(int(iters)):
        cbm = cb.copy()
        cn = np.sqrt((cbm * cbm).sum(axis=1).astype(np.float64))

        def stats(batches, cbm=cbm, cn=cn):
            nc = len(cbm)
            sums = np.zeros((nc, dim), dtype=np.int64)
            counts = np.zeros(nc, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.floor(
                    np.array(pdf["__v"].tolist(), dtype=np.float64)
                    * QUANT
                ).astype(np.int64)
                vn = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
                if np.any(vn == 0.0):
                    # mirror the batch_topk_cosine guard: a zero-norm
                    # row would yield NaN cosines and argmax would
                    # silently assign it to an arbitrary cell
                    raise ValueError(
                        "corpus vectors with zero quantized norm "
                        "reached coarse training; cosine is undefined "
                        "— screen them out upstream"
                    )
                cos = (mat @ cbm.T).astype(np.float64) / (
                    vn[:, None] * cn[None, :]
                )
                # centroids are in ascending-id order, so argmax's
                # first-max-wins IS the lowest-id tie-break of
                # ivf_assign's max(struct(cosine, -cid))
                best = cos.argmax(axis=1)
                np.add.at(sums, best, mat)
                counts += np.bincount(best, minlength=nc)
            rows = []
            for c in range(nc):
                if not counts[c]:
                    continue
                for i in range(dim):
                    rows.append((c, i, int(sums[c, i]), int(counts[c])))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["cix", "dim", "psum", "pn"]
                )

        part = df.select(F.col(vec_col).alias("__v")).mapInPandas(
            stats, "cix int, dim int, psum bigint, pn bigint"
        )
        rows = (
            part.groupBy("cix", "dim")
            .agg(F.sum("psum").alias("__sum"), F.sum("pn").alias("__n"))
            # `div` in Spark == `//` on DuckDB BIGINTs (probed — the
            # q105 integer-Lloyd convention), so trained elements are
            # bit-portable
            .select("cix", "dim", F.expr("__sum div __n").alias("el"))
            .collect()
        )
        nxt = cb.copy()  # empty cells keep their previous centroid
        for r in rows:
            nxt[r["cix"], r["dim"]] = int(r["el"])
        cb = nxt
    return [(cids[i], [int(x) for x in cb[i]]) for i in range(len(cids))]


def duckdb_trained_cents_ctes(
    iters: int, dim: int, modulo: int = 200, src: str = "nrm"
) -> str:
    """DuckDB twin of :func:`train_coarse_centroids` seeded from
    ``vid % modulo = 0`` rows of *src* (a CTE with (vid, q, n2)):
    a CTE chain ending in ``cents(centroid_id, cq, cn2)`` after
    *iters* unrolled Lloyd rounds — unrolled for the same reason as
    :func:`~queens_spark.operators.graph.duckdb_pagerank_ctes` (a
    recursive CTE cannot express the per-round global re-aggregation
    cleanly). Splice after *src* in a stored-index oracle and the
    downstream probe/assignment SQL is unchanged."""
    cos = (
        f"CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)"
        f" / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))"
    )
    parts = [
        f"cents0 AS (SELECT vid AS centroid_id, q AS cq, n2 AS cn2 "
        f"FROM {src} WHERE vid % {modulo} = 0)"
    ]
    for i in range(int(iters)):
        parts.append(
            f"casg{i} AS (SELECT vid, centroid_id, q FROM ("
            f"SELECT v.vid, c.centroid_id, v.q, "
            f"ROW_NUMBER() OVER (PARTITION BY v.vid "
            f"ORDER BY {cos} DESC, c.centroid_id ASC) AS rk "
            f"FROM {src} v, cents{i} c) WHERE rk = 1)"
        )
        parts.append(
            f"cel{i} AS (SELECT centroid_id, t.i - 1 AS dim, "
            f"CAST(sum(q[t.i]) // count(*) AS BIGINT) AS el "
            f"FROM casg{i}, range(1, {dim} + 1) t(i) "
            f"GROUP BY centroid_id, t.i)"
        )
        parts.append(
            f"cprev{i} AS (SELECT centroid_id, t.i - 1 AS dim, "
            f"cq[t.i] AS el FROM cents{i}, range(1, {dim} + 1) t(i))"
        )
        parts.append(
            f"cmrg{i} AS (SELECT p.centroid_id, p.dim, "
            f"coalesce(e.el, p.el) AS el FROM cprev{i} p "
            f"LEFT JOIN cel{i} e ON e.centroid_id = p.centroid_id "
            f"AND e.dim = p.dim)"
        )
        parts.append(
            f"cents{i + 1} AS (SELECT centroid_id, cq, "
            f"{duckdb_int_dot('cq', 'cq')} AS cn2 FROM ("
            f"SELECT centroid_id, list(el ORDER BY dim) AS cq "
            f"FROM cmrg{i} GROUP BY centroid_id))"
        )
    parts.append(
        f"cents AS (SELECT centroid_id, cq, cn2 FROM cents{int(iters)})"
    )
    return ",\n    ".join(parts)


# ------------------------------------------- int8 scalar quantization

INT8_MAX = 127
INT8_DESCALE = float(INT8_MAX * INT8_MAX)  # 16129.0


def int8_quantize(vec: Column | str) -> Column:
    """Symmetric max-abs int8 quantization: struct(amax double,
    q array<tinyint> in [-127, 127]) with qᵢ = ⌊xᵢ·127/amax⌋.

    This is the storage/bandwidth tier below the fixed-point ×1000
    bigint quantization above: 1 byte per dimension — 4× smaller than
    fp32, 8× smaller than the bigint form — which at 100 TB turns a
    scan-bound ANN pass into a quarter of the IO. amax is let-bound so
    the array_max runs once per vector, not once per element; all ops
    (float→double widen, abs, max, ·127.0, /amax, floor) are
    bit-portable IEEE doubles, so the DuckDB oracle reproduces every
    code exactly."""
    from queens_spark.operators.text import let_bound

    c = F.col(vec) if isinstance(vec, str) else vec
    return let_bound(
        F.array_max(F.transform(c, lambda x: F.abs(x.cast("double")))),
        lambda amax: F.struct(
            amax.alias("amax"),
            F.when(
                amax > 0,
                F.transform(
                    c,
                    lambda x: F.floor(x.cast("double") * 127.0 / amax).cast(
                        "tinyint"
                    ),
                ),
            )
            .otherwise(F.transform(c, lambda x: F.lit(0).cast("tinyint")))
            .alias("q"),
        ),
    )


def int8_dot(a: Column, b: Column) -> Column:
    """Exact dot product of two int8 code vectors, accumulated in
    BIGINT (tinyint×tinyint would overflow — the cast is the point)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def int8_topk_ip(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Top-k inner-product search over int8-quantized vectors for a
    small batch of query ids (asymmetric-distance-style: codes compare
    against codes; the per-vector amax rescales the integer dot back
    to an approximate inner product, approx_ip ≈ ⟨a, b⟩).

    Plan shape: the corpus is quantized ONCE into a persisted
    (id, amax, q) frame — the compact representation a production
    system would store — and each query becomes a narrow scan with a
    literal code vector + TakeOrderedAndProject (per-partition heap,
    driver merge of k·partitions rows); branches union into one job.
    No shuffle of candidates ever happens, which is the scale-correct
    shape for interactive query batches; for large offline batches
    you'd instead bucket queries (see lsh_* / ivf_*).
    """
    from queens_spark.operators.dedup import _persist

    qz = _persist(
        df.select(
            F.col(id_col),
            int8_quantize(vec_col).alias("z"),
        ).select(
            F.col(id_col), F.col("z.amax").alias("amax"), F.col("z.q").alias("q")
        )
    )
    return int8_topk_ip_codes(qz, id_col, query_ids, k=k)


def int8_topk_ip_codes(
    qz: DataFrame,
    id_col: str,
    query_ids: list[int],
    k: int = 10,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """:func:`int8_topk_ip` over an ALREADY-QUANTIZED (id, amax, q)
    frame — the entry point for STORED int8 codes (a vector index's
    artifact), where quantization happened once at build time and the
    search touches 1 byte/dim, never the raw vectors. *candidates*
    restricts the SCANNED side only (metadata-filtered search);
    query-id lookup always runs against the full *qz*."""
    queries = {
        r[id_col]: r
        for r in qz.where(F.col(id_col).isin([int(q) for q in query_ids])).collect()
    }
    if candidates is not None:
        qz = candidates
    branches = []
    for qid in query_ids:
        row = queries.get(qid)
        if row is None:
            continue
        q_lit = lit_array(row["q"], "tinyint")
        dot = int8_dot(F.col("q"), q_lit)
        approx = (
            dot.cast("double") * F.lit(float(row["amax"])) * F.col("amax")
            / F.lit(INT8_DESCALE)
        )
        branches.append(
            qz.where(F.col(id_col) != qid)
            .select(
                F.lit(qid).cast("bigint").alias("query_id"),
                F.col(id_col),
                dot.alias("dot_q"),
                approx.alias("approx_ip"),
            )
            .orderBy(F.desc("approx_ip"), F.asc(id_col))
            .limit(k)
        )
    if not branches:
        # no requested query id exists in the corpus — an empty frame
        # with the SAME schema the live path produces (id type
        # preserved from the corpus), not an IndexError
        return qz.where(F.lit(False)).select(
            F.lit(None).cast("bigint").alias("query_id"),
            F.col(id_col),
            F.lit(None).cast("bigint").alias("dot_q"),
            F.lit(None).cast("double").alias("approx_ip"),
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out


MAX_BATCH_QUERIES = 1_000_000  # ~0.5 GB broadcast at d=64 int8 + ids


def batch_topk_ip(
    queries_df: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str = "query_id",
    query_vec_col: str | None = None,
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """TABLE-driven top-k inner-product retrieval: score a whole query
    TABLE against the corpus in ONE plan (the production-batch shape —
    :func:`int8_topk_ip` unions a TakeOrdered branch per query, which
    is right for interactive handfuls but O(queries) plan nodes).

    Plan shape for 100 TB: the query block is quantized (symmetric
    max-abs int8, same formula as :func:`int8_quantize`) and BROADCAST
    — queries are bounded (MAX_BATCH_QUERIES guard), the corpus is
    not. One Arrow-batched ``mapInPandas`` pass streams the corpus:
    each partition quantizes its batches, computes the whole
    batch × query int64 code-dot in one numpy matmul, and maintains a
    per-query running top-k pool (kept to the rows tied-or-better
    than the k-th best score, so ties can never be dropped). The
    corpus NEVER shuffles; only ≤ ~k·|queries| candidate rows per
    partition reach the final window rank, which settles exact order
    (approx_ip desc, id asc) and trims ties. Scores are exact BIGINT
    code dots rescaled by both amax factors in a fixed multiplication
    order, so the DuckDB oracle reproduces every value bit-for-bit.

    *exclude_self* drops candidates whose corpus id equals the query
    id (for query blocks drawn from the corpus itself, q66-style).
    """
    import numpy as np
    import pandas as pd

    qv = query_vec_col or vec_col
    # limit BEFORE collect: the guard must bound the driver fetch
    # itself, not fire after an unbounded collect already blew it up
    qrows = queries_df.select(
        F.col(query_id_col).alias("qid"), F.col(qv).alias("v")
    ).limit(MAX_BATCH_QUERIES + 1).collect()
    if len(qrows) > MAX_BATCH_QUERIES:
        raise ValueError(
            f"query table exceeds the broadcast cap "
            f"({MAX_BATCH_QUERIES}); shard the query table"
        )
    out_schema = f"query_id bigint, {id_col} bigint, dot_q bigint, approx_ip double"
    if not qrows:
        return corpus.where(F.lit(False)).select(
            F.lit(None).cast("bigint").alias("query_id"),
            F.col(id_col).cast("bigint"),
            F.lit(None).cast("bigint").alias("dot_q"),
            F.lit(None).cast("double").alias("approx_ip"),
        )
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    qa = np.abs(qmat).max(axis=1)
    qcodes = np.zeros_like(qmat, dtype=np.int64)
    nz = qa > 0
    # same IEEE order as int8_quantize: (x * 127.0) / amax, floored
    qcodes[nz] = np.floor(qmat[nz] * 127.0 / qa[nz, None])
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qcodes, qa))

    def run(batches):
        b_qids, b_qc, b_qa = bc.value
        nq = len(b_qids)
        pools: list[tuple | None] = [None] * nq

        def trim(ids_, dots_, aps_):
            if len(aps_) <= k:
                return ids_, dots_, aps_
            kth = np.partition(aps_, len(aps_) - k)[len(aps_) - k]
            m = aps_ >= kth  # keep score-ties: exactness over tightness
            return ids_[m], dots_[m], aps_[m]

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            da = np.abs(mat).max(axis=1)
            codes = np.zeros_like(mat, dtype=np.int64)
            dnz = da > 0
            codes[dnz] = np.floor(mat[dnz] * 127.0 / da[dnz, None])
            dots = codes @ b_qc.T  # B×Q exact int64
            # fixed order (dot · qa) · da / DESCALE — matches the
            # Column expression in int8_topk_ip and the SQL twin
            approx = (dots.astype(np.float64) * b_qa[None, :]) \
                * da[:, None] / INT8_DESCALE
            for qi in range(nq):
                col, d, use = approx[:, qi], dots[:, qi], ids
                if exclude_self:
                    m = ids != b_qids[qi]
                    col, d, use = col[m], d[m], use[m]
                if not len(col):
                    continue
                if pools[qi] is None:
                    pools[qi] = trim(use, d, col)
                else:
                    pid, pd_, pc = pools[qi]
                    pools[qi] = trim(
                        np.concatenate([pid, use]),
                        np.concatenate([pd_, d]),
                        np.concatenate([pc, col]),
                    )
        chunks = []
        for qi, pool in enumerate(pools):
            if pool is None:
                continue
            pid, pd_, pc = pool
            chunks.append(pd.DataFrame({
                "query_id": np.full(len(pid), b_qids[qi], dtype=np.int64),
                id_col: pid, "dot_q": pd_, "approx_ip": pc,
            }))
        if chunks:
            yield pd.concat(chunks, ignore_index=True)

    cands = corpus.select(id_col, vec_col).mapInPandas(run, out_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_ip"), F.asc(id_col)
    )
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def batch_topk_cosine(
    queries_df: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str = "query_id",
    query_vec_col: str | None = None,
    k: int = 10,
) -> DataFrame:
    """EXACT batch top-k by quantized cosine — the :func:`batch_topk_ip`
    plan shape (broadcast query block, per-partition running pools,
    corpus never shuffles) applied to the exact scoring contract of
    :func:`cosine_topk` (floor(x·QUANT) bigint codes, IEEE-double
    cosine ``dot / (sqrt(n2)·sqrt(qn2))`` — bit-identical on numpy,
    the JVM, and the DuckDB twin, so oracles can hash-compare values).

    This is the exact-side engine for recall harnesses (q102): the
    naive formulation crossJoins the corpus against the query block
    and ranks through ``Window.partitionBy(qid)`` — |queries|×|corpus|
    rows through ≤|queries| tasks, the classic scale-killer. Here each
    corpus partition keeps one ≥-kth-score pool per query (ties never
    dropped), so only ~k·|queries| candidate rows per partition reach
    the final exact-order window.

    Returns (query_id, *id_col*, cosine) rows, top-k per query with
    exact tie-break (cosine desc, id asc).
    """
    import numpy as np
    import pandas as pd

    qv = query_vec_col or vec_col
    qrows = queries_df.select(
        F.col(query_id_col).alias("qid"), F.col(qv).alias("v")
    ).limit(MAX_BATCH_QUERIES + 1).collect()
    if len(qrows) > MAX_BATCH_QUERIES:
        raise ValueError(
            f"query table exceeds the broadcast cap "
            f"({MAX_BATCH_QUERIES}); shard the query table"
        )
    out_schema = f"query_id bigint, {id_col} bigint, cosine double"
    if not qrows:
        return corpus.where(F.lit(False)).select(
            F.lit(None).cast("bigint").alias("query_id"),
            F.col(id_col).cast("bigint"),
            F.lit(None).cast("double").alias("cosine"),
        )
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    # float32→float64 is exact, ·QUANT and floor are the same IEEE
    # ops as quantize()'s Column expression — codes match the JVM
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    qcodes = np.floor(qmat * float(QUANT)).astype(np.int64)
    qsn = np.sqrt((qcodes * qcodes).sum(axis=1).astype(np.float64))
    if np.any(qsn == 0.0):
        bad = qids[qsn == 0.0][:5].tolist()
        raise ValueError(
            f"query vectors {bad} have zero quantized norm; "
            "cosine is undefined — drop or rescale them"
        )
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qcodes, qsn))

    def run(batches):
        b_qids, b_qc, b_qsn = bc.value
        nq = len(b_qids)
        pools: list[tuple | None] = [None] * nq

        def trim(ids_, cos_):
            if len(cos_) <= k:
                return ids_, cos_
            kth = np.partition(cos_, len(cos_) - k)[len(cos_) - k]
            m = cos_ >= kth  # keep score-ties: exactness over tightness
            return ids_[m], cos_[m]

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.floor(mat * float(QUANT)).astype(np.int64)
            dots = codes @ b_qc.T  # B×Q exact int64
            vsn = np.sqrt(
                (codes * codes).sum(axis=1).astype(np.float64)
            )
            if np.any(vsn == 0.0):
                bad = ids[vsn == 0.0][:5].tolist()
                raise ValueError(
                    f"corpus vectors {bad} have zero quantized norm; "
                    "cosine is undefined — screen them out upstream"
                )
            # same op order as cosine_from_ints / the DuckDB twin:
            # dot → double, ÷ (sqrt(n2) · sqrt(qn2))
            cosm = dots.astype(np.float64) / (vsn[:, None] * b_qsn[None, :])
            for qi in range(nq):
                col = cosm[:, qi]
                if pools[qi] is None:
                    pools[qi] = trim(ids, col)
                else:
                    pid, pc = pools[qi]
                    pools[qi] = trim(
                        np.concatenate([pid, ids]),
                        np.concatenate([pc, col]),
                    )
        chunks = []
        for qi, pool in enumerate(pools):
            if pool is None:
                continue
            pid, pc = pool
            chunks.append(pd.DataFrame({
                "query_id": np.full(len(pid), b_qids[qi], dtype=np.int64),
                id_col: pid, "cosine": pc,
            }))
        if chunks:
            yield pd.concat(chunks, ignore_index=True)

    cands = corpus.select(id_col, vec_col).mapInPandas(run, out_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# ------------------------------------------------ product quantization

PQ_M = 8     # subspaces
PQ_KSUB = 16  # centroids per subspace → 4 bits/code, one bigint packs 8


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    seed_vecs: list[list[float]],
    m: int = PQ_M,
) -> DataFrame:
    """Product-quantization encoder: split each vector into *m*
    subspaces, snap every subvector to the nearest (squared-L2)
    codebook centroid, and pack the m 4-bit codes into ONE bigint
    (`pq_code`). This is the memory tier below int8: 64 fp32 dims
    (256 B) become 4 B — at 100 TB the difference between an ANN index
    that fits executor RAM and one that doesn't.

    Codebooks are the quantized subvectors of *seed_vecs* (bounded,
    ≤ :data:`PQ_KSUB` — same raw-seed convention as IVF's q33
    centroids; a Lloyd refinement can replace the seeds without
    touching this encoder). Everything is exact fixed-point bigint
    arithmetic on ×1000-quantized values, so a SQL twin reproduces
    every code: distances are integer sums of squares, argmin ties
    break on the lowest centroid id (struct array_min), and the pack
    is Σ code_s·2^{4s}.

    Plan shape: the codebook is ONE constant-folded nested-array
    literal (broadcast by construction) and the whole encode is a
    higher-order-function fold over it — the per-centroid distance
    lambda exists ONCE in the plan, not m×ksub times, so Catalyst
    analysis/optimization stays milliseconds where a fully unrolled
    tree (the first cut) cost seconds of driver time per run. One
    zero-shuffle projection over the corpus: scan, fold, emit
    (id, pq_code).
    """
    import math

    cb = [
        [int(math.floor(float(x) * QUANT)) for x in v] for v in seed_vecs
    ]
    return pq_encode_int(df, vec_col, id_col, cb, m)


def pq_encode_int(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cb: list[list[int]],
    m: int = PQ_M,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """:func:`pq_encode` against an ALREADY-QUANTIZED integer codebook
    (×:data:`QUANT` fixed-point) — the entry point for refined
    codebooks (:func:`pq_refine_codebooks`), whose centroids are
    integer means and never existed as floats. *extra_cols* ride the
    projection unchanged (metadata co-located with the codes, for
    filtered search over a stored index)."""
    from queens_spark.operators.text import let_bound

    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        let_bound(quantize(vec_col), _pq_packed_expr(cb, m)).alias(
            "pq_code"
        ),
    )


def _pq_packed_expr(cb: list[list[int]], m: int = PQ_M):
    """The packed-code Column builder shared by :func:`pq_encode_int`
    (projection over the corpus) and :func:`pq_refine_codebooks`
    (same expression carried through the update pass, so assignment
    and statistics ride ONE row with no join). Returns a function
    mapping the quantized-vector Column to the packed bigint."""
    ksub = len(cb)
    if not 2 <= ksub <= PQ_KSUB:
        raise ValueError(f"need 2..{PQ_KSUB} codebook rows, got {ksub}")
    dim = len(cb[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    from queens_spark.operators.text import let_bound

    # nested literal: CB[s][c] = struct(c, v: the centroid subvector).
    # Built as ONE SQL string parsed JVM-side — building it from
    # thousands of F.lit()/F.array() calls costs seconds of Py4J
    # round-trips per query (measured: 7s cold); ConstantFolding
    # collapses the parsed tree to a single array literal either way.
    cb_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(
            "named_struct('c',%d,'v',array(%s))" % (
                c,
                ",".join(
                    "CAST(%d AS BIGINT)" % cb[c][s * dsub + i]
                    for i in range(dsub)
                ),
            )
            for c in range(ksub)
        )
        for s in range(m)
    )
    cb_lit = F.expr(cb_sql)
    far = F.expr(
        "named_struct('d', CAST(%d AS BIGINT), 'c', -1)" % (1 << 62)
    )

    def code_for_subspace(qv: Column, s: Column) -> Column:
        # argmin over the s-th codebook: running (d, c) min; strict <
        # keeps the LOWEST centroid id on distance ties because the
        # fold visits centroids in ascending c order.
        sub = F.slice(qv, s * dsub + 1, F.lit(dsub))
        return let_bound(
            sub,
            lambda sub_b: F.aggregate(
                F.element_at(cb_lit, (s + 1).cast("int")),
                far,
                lambda acc, cent: let_bound(
                    F.aggregate(
                        F.zip_with(
                            sub_b, cent.getField("v"),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0).cast("bigint"),
                        lambda a, v: a + v,
                    ),
                    lambda d: F.when(
                        d < acc.getField("d"),
                        F.struct(
                            d.alias("d"), cent.getField("c").alias("c")
                        ),
                    ).otherwise(acc),
                ),
            ).getField("c"),
        )

    def packed(qv: Column) -> Column:
        codes = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: code_for_subspace(qv, s),
        )
        powers = F.expr(
            "array(%s)" % ",".join(
                "CAST(%d AS BIGINT)" % (1 << (4 * s)) for s in range(m)
            )
        )
        return F.aggregate(
            F.zip_with(codes, powers, lambda code, p: code.cast("bigint") * p),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        )

    return packed


def pq_adc_lut(
    query_vec: list[float], seed_vecs: list[list[float]], m: int = PQ_M
) -> list[list[int]]:
    """Asymmetric-distance lookup table: exact integer squared-L2
    between the quantized query subvector and every codebook centroid,
    per subspace — m×ksub ints, computed driver-side in plain Python
    (bit-identical to the SQL twin's bigint arithmetic)."""
    import math

    cb = [
        [int(math.floor(float(x) * QUANT)) for x in v] for v in seed_vecs
    ]
    return pq_adc_lut_int(query_vec, cb, m)


def pq_adc_lut_int(
    query_vec: list[float], cb: list[list[int]], m: int = PQ_M
) -> list[list[int]]:
    """:func:`pq_adc_lut` against an ALREADY-QUANTIZED integer
    codebook — the entry point for STORED codebooks (a persisted
    vector index's manifest records integer centroids; they never
    round-trip through floats, so refined codebooks stay exact)."""
    import math

    dim = len(query_vec)
    dsub = dim // m
    q = [int(math.floor(float(x) * QUANT)) for x in query_vec]
    return [
        [
            sum(
                (q[s * dsub + i] - cv[s * dsub + i]) ** 2
                for i in range(dsub)
            )
            for cv in cb
        ]
        for s in range(m)
    ]


def pq_adc_topk(
    codes_df: DataFrame,
    id_col: str,
    lut: list[list[int]],
    k: int = 10,
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k over packed PQ codes: approximate distance is the sum
    of m table lookups (`lut[s][code_s]`), decoded from the packed
    bigint by shift-and-mask — no vector is ever touched. orderBy+limit
    compiles to TakeOrderedAndProject (per-partition heap, driver merge
    of k rows): the codes frame never shuffles. At 100 TB this is the
    scan-bound first stage of a two-stage search; re-ranking the top
    candidates against the raw vectors is a k-row lookup after it."""
    m = len(lut)
    # one JVM-parsed expression (see pq_encode on why not F.lit chains)
    adist = F.expr(
        " + ".join(
            "element_at(array(%s), CAST(shiftright(%s, %d) & 15 AS INT) + 1)"
            % (
                ",".join("CAST(%d AS BIGINT)" % int(d) for d in lut[s]),
                code_col,
                4 * s,
            )
            for s in range(m)
        )
    )
    return (
        codes_df.select(F.col(id_col), adist.alias("adist"))
        .orderBy(F.asc("adist"), F.asc(id_col))
        .limit(k)
    )


def duckdb_pq_codes_cte(
    table: str,
    vec_expr: str,
    id_col: str,
    n_seeds: int,
    m: int = PQ_M,
    dsub: int = 8,
) -> str:
    """DuckDB CTE chain (ending in `pq(id, pq_code)`) reproducing
    :func:`pq_encode` bit-for-bit: same ×1000 quantization, same
    integer squared-L2, same (distance, centroid-id) argmin
    tie-break, same 4-bit pack. Seeds are the first *n_seeds* ids —
    mirror what the Spark caller collects."""
    sq = duckdb_quantize(vec_expr)
    return f"""
    pqv AS (
      SELECT {id_col} AS vid, {sq} AS q FROM {table}
    ),
    pqseeds AS (
      SELECT vid AS cid, q FROM pqv WHERE vid < {n_seeds}
    ),
    pqdists AS (
      SELECT v.vid, s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (v.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (v.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM pqv v, range(0, {m}) s(s), pqseeds sd
    ),
    pqcodes AS (
      SELECT vid, s, cid FROM (
        SELECT vid, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vid, s ORDER BY d, cid) AS rk
        FROM pqdists
      ) WHERE rk = 1
    ),
    pq AS (
      SELECT vid, CAST(sum(cid << (4 * s)) AS BIGINT) AS pq_code
      FROM pqcodes GROUP BY vid
    )"""


def pq_refine_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    seed_vecs: list[list[float]],
    m: int = PQ_M,
) -> list[list[int]]:
    """One Lloyd iteration over every PQ subspace at once: assign all
    subvectors to their seed centroids (exactly :func:`pq_encode`'s
    argmin), then recompute each centroid as the element-wise INTEGER
    mean (``sum div count`` — floor division keeps every value int64,
    so refined codebooks are bit-portable the way the encoder is; the
    sub-ulp bias vs a float mean is irrelevant to code assignment).
    Empty cells keep their seed centroid. Returns the refined integer
    codebook (feed to :func:`pq_encode_int`); iterate via
    :func:`pq_refine_codebooks_int`, which takes the refined INTEGER
    codebook directly (round-tripping through floats would break
    exactness).

    Scale shape: one encode pass (zero-shuffle) + one posexplode of
    the quantized vectors into (subspace, cell, dim) partial
    SUM/COUNTs — map-side combined, the shuffle carries
    m·ksub·dsub·partitions counters, never vectors. The codebook
    (m·ksub·dsub ≤ 2⁴·2⁴·64 ints) is driver-scale by construction,
    like any trained quantizer artifact.
    """
    import math

    cb0 = [
        [int(math.floor(float(x) * QUANT)) for x in v] for v in seed_vecs
    ]
    return pq_refine_codebooks_int(df, vec_col, id_col, cb0, m)


def pq_refine_codebooks_int(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cb0: list[list[int]],
    m: int = PQ_M,
) -> list[list[int]]:
    """:func:`pq_refine_codebooks` against an ALREADY-QUANTIZED
    integer codebook — the iteration entry point (each Lloyd round's
    output is integer means that never existed as floats)."""
    import numpy as np
    import pandas as pd

    ksub = len(cb0)
    dim = len(cb0[0])
    dsub = dim // m
    # Arrow-batched numpy kernel (the *_vectors twin convention):
    # assignment and the per-(cell, dim) partial sums happen inside
    # ONE pass over the corpus — each task emits m·ksub·dsub counter
    # rows, the groupBy below merges them. Same exact arithmetic as
    # the Column encoder: float64 widen, ×QUANT, floor, int64 squared
    # distances, argmin with first-wins (= lowest cid) ties.
    cbm = np.array(cb0, dtype=np.int64)

    def stats(batches):
        sums = np.zeros((ksub, dim), dtype=np.int64)
        counts = np.zeros((m, ksub), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.floor(
                np.array(pdf["__v"].tolist(), dtype=np.float64) * QUANT
            ).astype(np.int64)
            for s in range(m):
                lo, hi = s * dsub, (s + 1) * dsub
                sub = mat[:, lo:hi]
                cents = cbm[:, lo:hi]
                d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                code = d.argmin(axis=1)  # first min = lowest cid
                np.add.at(sums[:, lo:hi], code, sub)
                counts[s] += np.bincount(code, minlength=ksub)
        rows = []
        for s in range(m):
            for c in range(ksub):
                if not counts[s, c]:
                    continue
                for i in range(dsub):
                    rows.append(
                        (c, s * dsub + i,
                         int(sums[c, s * dsub + i]), int(counts[s, c]))
                    )
        if rows:
            yield pd.DataFrame(
                rows, columns=["cid", "dim", "psum", "pn"]
            )

    part = df.select(F.col(vec_col).alias("__v")).mapInPandas(
        stats, "cid int, dim int, psum bigint, pn bigint"
    )
    rows = (
        part.groupBy("cid", "dim")
        .agg(F.sum("psum").alias("__sum"), F.sum("pn").alias("__n"))
        .select("cid", "dim", F.expr("__sum div __n").alias("el"))
        .collect()
    )
    refined = [list(row) for row in cb0]
    for r in rows:
        refined[r["cid"]][r["dim"]] = int(r["el"])
    return refined


def batch_adc_topk(
    codes_df: DataFrame,
    id_col: str,
    qids: list[int],
    luts: list[list[list[int]]],
    k: int = 10,
    code_col: str = "pq_code",
) -> DataFrame:
    """TABLE-driven PQ/ADC top-k over STORED packed codes: the batch
    sibling of :func:`pq_adc_topk`, scoring every query of a block in
    ONE pass over the codes artifact — the throughput-retrieval shape
    (offline eval, hard-negative mining) where per-query plans would
    scan the codes |queries| times.

    Plan shape for 100 TB: the per-query ADC LUTs (|Q|·m·ksub int64 —
    driver-scale) broadcast; one Arrow-batched ``mapInPandas`` pass
    streams the CODES (4 B/vector — the corpus itself is never
    touched, never shuffled): each batch decodes the packed bigint
    into m nibbles with two vectorized shifts, gathers per-query
    distances by LUT fancy-indexing, and keeps a per-query running
    pool of the rows tied-or-better than the k-th best (ties never
    dropped). Only ≤ ~k·|Q| candidates per partition reach the final
    window, which settles exact (adist ASC, id ASC) order on one
    query-keyed exchange. Distances are exact int64 sums of LUT
    entries — bit-identical to :func:`pq_adc_topk` and the SQL twin.
    """
    import numpy as np
    import pandas as pd

    if len(qids) != len(luts) or not qids:
        raise ValueError("qids and luts must align and be non-empty")
    m = len(luts[0])
    b_qids = np.array(qids, dtype=np.int64)
    b_luts = np.array(luts, dtype=np.int64)  # Q × m × ksub
    bc = codes_df.sparkSession.sparkContext.broadcast((b_qids, b_luts))
    out_schema = f"query_id bigint, {id_col} bigint, adist bigint"
    srange = np.arange(m)

    def run(batches):
        p_qids, p_luts = bc.value
        nq = len(p_qids)
        pools: list[tuple | None] = [None] * nq

        def trim(ids_, dists_):
            if len(dists_) <= k:
                return ids_, dists_
            kth = np.partition(dists_, k - 1)[k - 1]
            keep = dists_ <= kth  # keep distance-ties: exactness first
            return ids_[keep], dists_[keep]

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = pdf[code_col].to_numpy(dtype=np.int64)
            nibs = (codes[:, None] >> (4 * srange[None, :])) & 15  # B×m
            for qi in range(nq):
                d = p_luts[qi][srange[None, :], nibs].sum(axis=1)
                if pools[qi] is None:
                    pools[qi] = trim(ids, d)
                else:
                    pid, pd_ = pools[qi]
                    pools[qi] = trim(
                        np.concatenate([pid, ids]),
                        np.concatenate([pd_, d]),
                    )
        chunks = []
        for qi, pool in enumerate(pools):
            if pool is None:
                continue
            pid, pd_ = pool
            chunks.append(pd.DataFrame({
                "query_id": np.full(len(pid), p_qids[qi], dtype=np.int64),
                id_col: pid, "adist": pd_,
            }))
        if chunks:
            yield pd.concat(chunks, ignore_index=True)

    cands = codes_df.select(id_col, code_col).mapInPandas(run, out_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc(id_col)
    )
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def pca_fit(df: DataFrame, vec_col: str, n_components: int | None = None):
    """Fit PCA on the embedding corpus: ONE distributed exact-integer
    covariance pass (:func:`embedding_covariance`) collected as the
    d×d table (dimension-scale — the :func:`learn_bpe` justification:
    the driver step operates on a d², never-corpus-sized artifact),
    then numpy eigendecomposition. Returns (mean, components,
    variances): mean is the per-dimension QUANT-scaled float mean,
    components is (d, n_components) with columns sorted by descending
    eigenvalue (sign fixed so each column's largest-|x| entry is
    positive — deterministic across LAPACK builds), variances the
    matching eigenvalues of the biased covariance.
    """
    import numpy as np

    rows = embedding_covariance(df, vec_col).collect()
    if not rows:
        raise ValueError("empty corpus")
    d = max(r["dim_j"] for r in rows) + 1
    n = rows[0]["n"]
    cov = np.zeros((d, d), dtype=np.float64)
    mean = np.zeros(d, dtype=np.float64)
    for r in rows:
        c = r["cov_num"] / (n * n)
        cov[r["dim_i"], r["dim_j"]] = c
        cov[r["dim_j"], r["dim_i"]] = c
        mean[r["dim_i"]] = r["sum_i"] / n
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    k = n_components or d
    vals, vecs = vals[order][:k], vecs[:, order][:, :k]
    # deterministic sign: the largest-|entry| of each component is
    # positive (eigh's sign is arbitrary)
    for j in range(vecs.shape[1]):
        i = int(np.abs(vecs[:, j]).argmax())
        if vecs[i, j] < 0:
            vecs[:, j] = -vecs[:, j]
    return mean, vecs, vals


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    mean,
    components,
    whiten: bool = False,
    variances=None,
    out_col: str = "pca",
) -> DataFrame:
    """Project embeddings onto fitted PCA components (optionally
    whitened: unit variance per component) — the dimensionality
    reduction / decorrelation step before PQ/IVF indexing or
    embedding-space analysis. Pure per-row JVM arithmetic: the
    centered projection y_j = Σ_d (x_d − μ_d)·W[d,j] is a constant-
    folded HOF fold over the vector with the (d × k) component matrix
    as literals (dimension-scale — the same broadcast-as-literal
    convention as the PQ codebook, q97); zero shuffle, zero UDF.
    """
    import numpy as np

    W = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64) / QUANT
    if whiten:
        if variances is None:
            raise ValueError("whiten=True needs variances")
        sd = np.sqrt(np.asarray(variances, dtype=np.float64)) / QUANT
        if np.any(sd <= 0):
            raise ValueError(
                "non-positive component variance; drop degenerate "
                "components before whitening"
            )
        W = W / sd[None, :]
    c = F.col(vec_col)
    cols = []
    for j in range(W.shape[1]):
        # y_j = sum_d x_d * W[d,j]  -  <mu, W[:,j]>  (constant folded)
        wj = [float(w) for w in W[:, j]]
        bias = float(mu @ W[:, j])
        term = F.aggregate(
            F.zip_with(
                c,
                lit_array(wj, "double"),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ) - F.lit(bias)
        cols.append(term)
    return df.select(
        F.col(id_col), F.array(*cols).alias(out_col)
    )
