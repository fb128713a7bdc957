"""The vectorized (Arrow/numpy) and Column-expression forms of the
bulk vector operators must be BIT-identical — same quantization, same
integer arithmetic, same IEEE cosine — or query plans could silently
change results when switching paths at scale."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_bucket_forms_identical(spark):
    from queens_spark.operators.similarity import lsh_bucket, lsh_bucket_vectors

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    col_form = {
        r["vec_id"]: r["bucket"]
        for r in emb.select(
            "vec_id", lsh_bucket("embedding", 64).alias("bucket")
        ).collect()
    }
    np_form = {
        r["vec_id"]: r["bucket"]
        for r in lsh_bucket_vectors(emb, "embedding", "vec_id", 64).collect()
    }
    assert col_form == np_form and len(col_form) > 0


def test_ivf_assign_forms_identical(spark):
    from queens_spark.operators.similarity import ivf_assign, ivf_assign_vectors

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent_ids = [r[0] for r in
                emb.where(F.col("vec_id") % 50 == 0).select("vec_id").collect()]
    col_form = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cosine"])
        for r in ivf_assign(emb, "embedding", "vec_id", cent_ids).collect()
    }
    np_form = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cosine"])
        for r in ivf_assign_vectors(
            emb, "embedding", "vec_id", cent_ids
        ).collect()
    }
    # exact equality, including the cosine doubles — no tolerance
    assert col_form == np_form and len(col_form) > 0


def test_hash_sample_stability_and_bounds(spark):
    from queens_spark.operators.sampling import BUCKETS, hash_bucket, hash_sample

    df = spark.range(10_000).withColumnRenamed("id", "k")
    kept = hash_sample(df, "k", fraction_bp=2000)
    n = kept.count()
    # ~20% with hash-uniformity slack
    assert 1600 <= n <= 2400, n
    # per-key decision is stable across reruns and repartitioning
    a = {r["k"] for r in kept.collect()}
    b = {r["k"] for r in hash_sample(df.repartition(7), "k", 2000).collect()}
    assert a == b
    # buckets stay in range
    mx = df.select(F.max(hash_bucket("k")).alias("m")).collect()[0]["m"]
    assert 0 <= mx < BUCKETS


def test_stratified_hash_sample_rates(spark):
    from queens_spark.operators.sampling import stratified_hash_sample

    df = spark.range(6_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    kept = stratified_hash_sample(df, "k", "lang", {"en": 5000, "de": 1000})
    rates = {r["lang"]: r["n"] for r in
             kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 1350 <= rates["en"] <= 1650   # ~50% of 3000
    assert 200 <= rates["de"] <= 400     # ~10% of 3000


def test_hash_split_partition_exhaustive_and_stable(spark):
    from queens_spark.operators.sampling import hash_split

    df = spark.range(8_000).withColumnRenamed("id", "k")
    splits = {"train": 8000, "val": 1000, "test": 1000}
    assigned = df.select("k", hash_split("k", splits).alias("s"))
    counts = {r["s"]: r["n"] for r in
              assigned.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    # fractions sum to 100% -> no NULL (held-out) rows
    assert None not in counts and sum(counts.values()) == 8_000
    assert 6000 <= counts["train"] <= 7600
    assert 500 <= counts["val"] <= 1100 and 500 <= counts["test"] <= 1100
    # membership survives repartitioning (no leak between sets)
    again = {(r["k"], r["s"]) for r in
             df.repartition(13).select(
                 "k", hash_split("k", splits).alias("s")).collect()}
    assert again == {(r["k"], r["s"]) for r in assigned.collect()}


def test_hash_split_holdout_and_validation(spark):
    import pytest

    from queens_spark.operators.sampling import hash_split

    df = spark.range(1_000).withColumnRenamed("id", "k")
    held = df.select(hash_split("k", {"train": 5000}).alias("s"))
    n_null = held.where(F.col("s").isNull()).count()
    assert 400 <= n_null <= 600  # ~50% held out
    with pytest.raises(ValueError, match="split fractions"):
        hash_split("k", {"a": 9000, "b": 2000})


def test_int8_quantize_bounds_and_zero_vector(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from queens_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, -1.0, 0.5, 0.0]),
        Row(vec_id=1, embedding=[0.0, 0.0, 0.0, 0.0]),
    ])
    rows = {r["vec_id"]: r for r in df.select(
        "vec_id", int8_quantize("embedding").alias("z")).collect()}
    z0 = rows[0]["z"]
    assert z0["amax"] == 1.0
    # floor semantics: +amax -> 127, -amax -> -127, 0.5 -> 63, 0 -> 0
    assert list(z0["q"]) == [127, -127, 63, 0]
    z1 = rows[1]["z"]
    assert z1["amax"] == 0.0 and list(z1["q"]) == [0, 0, 0, 0]
    # codes are stored as 1-byte tinyints (the whole point)
    elem = df.select(int8_quantize("embedding").alias("z")).schema["z"].dataType["q"].dataType.elementType.simpleString()
    assert elem == "tinyint"


def test_int8_topk_tracks_exact_ranking(spark):
    """Quantized inner-product top-k should closely track the exact
    fp ranking on well-spread vectors."""
    import random

    from pyspark.sql import Row

    from queens_spark.operators.similarity import int8_topk_ip

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(200)]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)])
    got = int8_topk_ip(df, "embedding", "vec_id", query_ids=[0], k=5).collect()
    assert len(got) == 5 and all(r["query_id"] == 0 for r in got)
    # exact top-5 by double inner product
    def ip(a, b):
        return sum(x * y for x, y in zip(a, b))
    exact = sorted(range(1, 200), key=lambda j: (-ip(vecs[0], vecs[j]), j))[:5]
    approx_ids = [r["vec_id"] for r in got]
    # allow one swap at the tail from quantization error
    assert len(set(exact) & set(approx_ids)) >= 4
    # approx_ip within quantization error of the exact value
    for r in got:
        assert abs(r["approx_ip"] - ip(vecs[0], vecs[r["vec_id"]])) < 0.5


def test_int8_topk_missing_query_ids_returns_empty(spark):
    from pyspark.sql import Row

    from queens_spark.operators.similarity import int8_topk_ip

    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.1, 0.2])])
    out = int8_topk_ip(df, "embedding", "vec_id", query_ids=[999], k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "dot_q", "approx_ip"}


def test_batch_topk_matches_per_query_branches(spark):
    """batch_topk_ip (one broadcast-block plan) must reproduce
    int8_topk_ip's per-query TakeOrdered results exactly — same codes,
    same fixed-order IEEE rescale, same (score desc, id asc) ties."""
    from pyspark.sql import functions as F

    from queens_spark.operators.dedup import release_caches
    from queens_spark.operators.similarity import batch_topk_ip, int8_topk_ip

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    via_branches = {
        (r["query_id"], r["vec_id"], r["dot_q"], r["approx_ip"])
        for r in int8_topk_ip(emb, "embedding", "vec_id", qids, k=5).collect()
    }
    via_batch = {
        (r["query_id"], r["vec_id"], r["dot_q"], r["approx_ip"])
        for r in batch_topk_ip(
            emb.where(F.col("vec_id").isin(qids)).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            emb, "embedding", "vec_id", k=5, exclude_self=True,
        ).collect()
    }
    release_caches()
    assert via_batch == via_branches
    assert len(via_batch) == 5 * len(qids)


def test_batch_topk_empty_query_block(spark):
    from pyspark.sql import functions as F

    from queens_spark.operators.similarity import batch_topk_ip

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = batch_topk_ip(
        emb.where(F.lit(False)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        emb, "embedding", "vec_id", k=5,
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "dot_q", "approx_ip"]


def test_semantic_dedup_drops_cluster_neardups_only(spark):
    """Within-cluster near-identical vectors collapse to the min id;
    distinct vectors and cross-cluster near-dups survive."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from queens_spark.operators.similarity import semantic_dedup

    def v(base, eps):
        return [float(b) + eps for b in base]

    rows = [
        Row(vec_id=0, embedding=[10.0, 0.0, 0.0, 0.0]),   # centroid A
        Row(vec_id=200, embedding=[0.0, 10.0, 0.0, 0.0]), # centroid B
        # near-identical pair inside cluster A (but < 0.99 to the
        # centroid itself) -> 2 loses to 1
        Row(vec_id=1, embedding=v([8.0, 5.0, 0.0, 0.0], 0.0)),
        Row(vec_id=2, embedding=v([8.0, 5.0, 0.0, 0.0], 0.001)),
        # distinct member of cluster A -> survives
        Row(vec_id=3, embedding=[5.0, 0.0, 4.0, 0.0]),
        # distinct member of cluster B -> survives
        Row(vec_id=4, embedding=[3.0, 8.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = {r["vec_id"]: r["centroid_id"]
           for r in semantic_dedup(df, "embedding", "vec_id", [0, 200],
                                   threshold=0.99).collect()}
    assert 2 not in out                       # lost to vec 1
    assert set(out) == {0, 200, 1, 3, 4}
    assert out[1] == 0 and out[4] == 200      # cluster assignment kept
    # determinism
    again = {r["vec_id"] for r in semantic_dedup(
        df, "embedding", "vec_id", [0, 200], threshold=0.99).collect()}
    assert again == set(out)


def test_pq_seed_vectors_encode_to_own_centroids(spark):
    """Each codebook seed's distance to itself is 0 in every subspace,
    so seed i must encode to code i in all 8 subspaces — the packed
    value Σ i·16^s. Every other vector's codes must decode to [0, 16)."""
    from queens_spark.operators.similarity import pq_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seeds = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .collect()
    ]
    codes = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode(emb, "embedding", "vec_id", seeds).collect()
    }
    for i in range(16):
        expect = sum(i * (1 << (4 * s)) for s in range(8))
        assert codes[i] == expect, f"seed {i}: {codes[i]} != {expect}"
    for vid, packed in codes.items():
        for s in range(8):
            assert 0 <= (packed >> (4 * s)) & 15 < 16
        assert 0 <= packed < (1 << 32)


def test_pq_adc_ranks_query_seed_first(spark):
    """ADC distance of a seed query to its own code word is 0 — the
    exact-match seed must rank first; distances are non-decreasing
    down the top-k list; lut matches brute-force python recompute."""
    from queens_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_topk,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seeds = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .collect()
    ]
    lut = pq_adc_lut(seeds[7], seeds)
    assert all(lut[s][7] == 0 for s in range(8))
    codes = pq_encode(emb, "embedding", "vec_id", seeds)
    top = pq_adc_topk(codes, "vec_id", lut, k=10).collect()
    assert top[0]["vec_id"] == 7 and top[0]["adist"] == 0
    dists = [r["adist"] for r in top]
    assert dists == sorted(dists)


def test_pq_encode_guards(spark):
    import pytest

    from queens_spark.operators.similarity import pq_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="2..16"):
        pq_encode(emb, "embedding", "vec_id", [[0.0] * 64])
    with pytest.raises(ValueError, match="divisible"):
        pq_encode(emb, "embedding", "vec_id", [[0.0] * 63, [1.0] * 63])


def test_pq_refined_codebook_reduces_distortion(spark):
    """The Lloyd guarantee: re-assigning against integer-mean-refined
    centroids cannot increase total squared quantization error (up to
    the sub-ulp integer-mean truncation, which cannot flip the
    inequality at this magnitude)."""
    import math

    import numpy as np

    from queens_spark.operators.similarity import (
        QUANT,
        pq_refine_codebooks,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    seeds = [r["embedding"] for r in rows[:16]]
    refined = pq_refine_codebooks(emb, "embedding", "vec_id", seeds)
    cb0 = np.array(
        [[math.floor(float(x) * QUANT) for x in v] for v in seeds],
        dtype=np.int64,
    )
    cb1 = np.array(refined, dtype=np.int64)
    mat = np.array(
        [[math.floor(float(x) * QUANT) for x in r["embedding"]] for r in rows],
        dtype=np.int64,
    )

    def distortion(cb):
        total = 0
        for s in range(8):
            sub = mat[:, s * 8:(s + 1) * 8]
            cents = cb[:, s * 8:(s + 1) * 8]
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            total += d.min(axis=1).sum()
        return int(total)

    d0, d1 = distortion(cb0), distortion(cb1)
    assert d1 <= d0, (d1, d0)
    assert cb1.shape == cb0.shape


def test_batch_topk_cosine_matches_cosine_topk(spark):
    """batch_topk_cosine (pooled, corpus-never-shuffles) must
    reproduce cosine_topk's exact quantized-cosine results per query
    — same codes, same IEEE cosine, same (cos desc, id asc) ties."""
    from pyspark.sql import functions as F

    from queens_spark.operators.similarity import (
        batch_topk_cosine,
        cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3]
    qvecs = {r["vec_id"]: r["embedding"]
             for r in emb.where(F.col("vec_id").isin(qids)).collect()}
    via_single = set()
    for qid in qids:
        for r in cosine_topk(emb, "embedding", "vec_id",
                             [float(x) for x in qvecs[qid]], k=5).collect():
            via_single.add((qid, r["vec_id"], r["cosine"]))
    via_batch = {
        (r["query_id"], r["vec_id"], r["cosine"])
        for r in batch_topk_cosine(
            emb.where(F.col("vec_id").isin(qids)).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            emb, "embedding", "vec_id", k=5,
        ).collect()
    }
    assert via_batch == via_single
    assert len(via_batch) == 5 * len(qids)


def test_batch_topk_cosine_empty_query_block(spark):
    from pyspark.sql import functions as F

    from queens_spark.operators.similarity import batch_topk_cosine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = batch_topk_cosine(
        emb.where(F.lit(False)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        emb, "embedding", "vec_id", k=5,
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "cosine"]


def test_pq_refine_int_entry_point_matches_and_iterates(spark):
    """pq_refine_codebooks_int(quantized seeds) must equal
    pq_refine_codebooks(float seeds) — same kernel, integer entry —
    and a second iteration must not increase distortion (multi-round
    training for the stored index, vector_index._refine_int)."""
    import math

    import numpy as np

    from queens_spark.operators.similarity import (
        QUANT,
        pq_refine_codebooks,
        pq_refine_codebooks_int,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [r["embedding"] for r in
             emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    cb_float = pq_refine_codebooks(emb, "embedding", "vec_id", seeds)
    cb_q = [[int(math.floor(float(x) * QUANT)) for x in v] for v in seeds]
    cb_int = pq_refine_codebooks_int(emb, "embedding", "vec_id", cb_q)
    assert cb_float == cb_int

    cb2 = pq_refine_codebooks_int(emb, "embedding", "vec_id", cb_int)

    mat = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    qmat = np.floor(mat * QUANT).astype(np.int64)

    def distortion(cb):
        cbm = np.array(cb, dtype=np.int64)
        m, dim = 8, qmat.shape[1]
        dsub = dim // m
        total = 0
        for s in range(m):
            lo, hi = s * dsub, (s + 1) * dsub
            d = ((qmat[:, None, lo:hi] - cbm[None, :, lo:hi]) ** 2).sum(
                axis=2)
            total += int(d.min(axis=1).sum())
        return total

    assert distortion(cb2) <= distortion(cb_int)


def test_batch_topk_cosine_zero_norm_query_raises(spark):
    """A zero-norm query (or one whose components all quantize to 0)
    has undefined cosine — explicit ValueError, not silent NaN rows."""
    import pytest
    from pyspark.sql import Row, functions as F

    from queens_spark.operators.similarity import batch_topk_cosine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.limit(1).collect()[0]["embedding"])
    q = spark.createDataFrame(
        [Row(query_id=99, embedding=[0.0] * dim)])
    with pytest.raises(ValueError, match="zero quantized norm"):
        batch_topk_cosine(q, emb, "embedding", "vec_id")


def test_knn_graph_matches_bruteforce(spark):
    """Cluster-bounded kNN graph equals a per-cell numpy brute force
    (same quantized-integer cosines, same tie convention)."""
    import math
    import random

    import pytest

    from queens_spark.operators.similarity import knn_graph, QUANT

    rng = random.Random(140)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(60)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    cent_ids = [0, 7, 21]
    got = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in knn_graph(df, "embedding", "vec_id", cent_ids, k=3).collect()
    }

    def qz(v):
        return [math.floor(float(x) * QUANT) for x in v]

    def cos(a, b):
        qa, qb = qz(a), qz(b)
        dot = sum(x * y for x, y in zip(qa, qb))
        na = math.sqrt(float(sum(x * x for x in qa)))
        nb = math.sqrt(float(sum(x * x for x in qb)))
        return float(dot) / (na * nb)

    # assignment: nearest centroid by the same cosine, lowest-id ties
    cell = {}
    for i, v in vecs.items():
        best = min(
            ((-cos(v, vecs[c]), c) for c in cent_ids)
        )
        cell[i] = best[1]
    exp = {}
    for i in vecs:
        peers = [j for j in vecs if j != i and cell[j] == cell[i]]
        ranked = sorted(peers, key=lambda j: (-cos(vecs[i], vecs[j]), j))
        for rk, j in enumerate(ranked[:3], start=1):
            exp[(i, rk)] = (j, cos(vecs[i], vecs[j]))
    assert set(got) == set(exp)
    for key in exp:
        assert got[key][0] == exp[key][0], (key, got[key], exp[key])
        assert got[key][1] == pytest.approx(exp[key][1], abs=1e-12)


def test_knn_hubness_counts(spark):
    """In-degree histogram totals |V|; mass equals |V|*k when every
    cell has > k members; zero-degree vectors are reported."""
    from queens_spark.operators.similarity import knn_graph, knn_hubness

    import random

    rng = random.Random(142)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(50)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cents = [0, 9]
    hist = {r["in_degree"]: r["n_vectors"]
            for r in knn_hubness(df, "embedding", "vec_id", cents, k=4).collect()}
    assert sum(hist.values()) == 50
    edges = knn_graph(df, "embedding", "vec_id", cents, k=4).collect()
    assert sum(d * n for d, n in hist.items()) == len(edges)


def test_embedding_covariance_matches_numpy(spark):
    import math
    import random

    import numpy as np
    import pytest

    from queens_spark.operators.similarity import (
        QUANT,
        embedding_covariance,
    )

    rng = random.Random(143)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(5)]) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        (r["dim_i"], r["dim_j"]): (
            r["n"], r["sum_i"], r["sum_j"], r["sum_xy"], r["cov_num"]
        )
        for r in embedding_covariance(df, "embedding").collect()
    }
    q = np.array(
        [[math.floor(x * QUANT) for x in v] for _, v in vecs],
        dtype=np.int64,
    )
    n = q.shape[0]
    s = q.sum(axis=0)
    S = q.T @ q
    assert len(got) == 5 * 6 // 2
    for i in range(5):
        for j in range(i, 5):
            assert got[(i, j)] == (
                n, int(s[i]), int(s[j]), int(S[i, j]),
                int(n * S[i, j] - s[i] * s[j]),
            ), (i, j)
    # the numerator over n^2 is the actual covariance
    cov = np.cov(q.T, bias=True)
    for i in range(5):
        for j in range(i, 5):
            assert got[(i, j)][4] / n**2 == pytest.approx(
                cov[i, j], rel=1e-9
            )


def test_pca_fit_project_whiten(spark):
    """Fitted PCA must decorrelate: whitened projections have ~unit
    variance and ~zero covariance; plain projections match a numpy
    reference; variance ordering is descending."""
    import random

    import numpy as np
    import pytest

    from queens_spark.operators.similarity import (
        QUANT,
        pca_fit,
        pca_project,
    )

    rng = random.Random(145)
    # anisotropic cloud: dim0 dominates, dims correlated via a mix
    base = [
        (i, [rng.gauss(0, 3), rng.gauss(0, 1), rng.gauss(0, 0.3)])
        for i in range(300)
    ]
    vecs = [(i, [v[0] + v[1], v[1], v[2] + 0.5 * v[0]]) for i, v in base]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])

    mean, W, lam = pca_fit(df, "embedding")
    assert lam[0] >= lam[1] >= lam[2] >= 0

    proj = {
        r["vec_id"]: r["pca"]
        for r in pca_project(
            df, "embedding", "vec_id", mean, W
        ).collect()
    }
    # projection runs on the raw float vectors with the QUANT-scaled
    # fitted mean divided back out (pca_project's contract)
    Xr = np.array([v for _, v in vecs], dtype=np.float64)
    Yr = (Xr - (np.array(mean) / QUANT)[None, :]) @ W
    for j, (i, _) in enumerate(vecs):
        assert np.allclose(proj[i], Yr[j], atol=1e-9)

    white = {
        r["vec_id"]: r["pca"]
        for r in pca_project(
            df, "embedding", "vec_id", mean, W,
            whiten=True, variances=lam,
        ).collect()
    }
    Z = np.array([white[i] for i, _ in vecs])
    covz = np.cov(Z.T, bias=True)
    # fit ran on QUANTIZED vectors, projection on raw floats: the
    # quantization error bounds the deviation from exact whiteness
    assert np.allclose(covz, np.eye(3), atol=0.05)

    # n_components selects the top of the spectrum
    _, W2, lam2 = pca_fit(df, "embedding", n_components=2)
    assert W2.shape == (3, 2) and list(lam2) == list(lam[:2])


def test_kmeans_refine_lazy_seed_pred_matches_id_list(spark):
    """kmeans_refine's centroids_pred path (lazy seed frame — no
    plan-build corpus collect) must reproduce the centroid_ids path
    row for row: the pred selects exactly the rows whose ids the list
    names, and everything downstream is shared code."""
    import random

    from queens_spark.operators.similarity import kmeans_refine

    rng = random.Random(7)
    rows = [
        (i, [rng.randint(-50, 50) for _ in range(8)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<int>")
    from pyspark.sql import functions as F

    by_list = kmeans_refine(
        df, "embedding", "vec_id", [i for i in range(0, 120, 40)]
    )
    by_pred = kmeans_refine(
        df, "embedding", "vec_id",
        centroids_pred=F.col("vec_id") % 40 == 0,
    )
    assert sorted(map(tuple, by_list.collect())) == sorted(
        map(tuple, by_pred.collect())
    )


def test_kmeans_refine_rejects_both_seed_sources(spark):
    from pyspark.sql import functions as F

    from queens_spark.operators.similarity import kmeans_refine

    df = spark.createDataFrame(
        [(i, [i, 1]) for i in range(4)], "vec_id long, embedding array<int>"
    )
    with pytest.raises(ValueError, match="not both"):
        kmeans_refine(df, "embedding", "vec_id", [0, 2],
                      centroids_pred=F.col("vec_id") < 2)


def test_train_coarse_centroids_pred_matches_id_list(spark):
    """train_coarse_centroids' centroids_pred path (lazy seed filter —
    no plan-build id collect) must reproduce the centroid_ids path
    exactly: both resolve to the same seed rows and the training loop
    is shared code."""
    import random

    from queens_spark.operators.similarity import train_coarse_centroids

    rng = random.Random(11)
    rows = [
        (i, [rng.randint(-50, 50) or 1 for _ in range(6)])
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<int>")
    by_list = train_coarse_centroids(
        df, "embedding", "vec_id", [0, 30, 60], iters=2
    )
    by_pred = train_coarse_centroids(
        df, "embedding", "vec_id", iters=2,
        centroids_pred=F.col("vec_id") % 30 == 0,
    )
    assert by_list == by_pred
