"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each implementation):

- **exact**: one hash-groupBy on a 32-byte fingerprint — a single
  shuffle whose width is the fingerprint, not the document. At 100 TB
  the shuffle carries ~0.03% of the corpus size.
- **n-gram Jaccard**: candidate generation through an inverted
  shingle index (explode → self-join on shingle). The join key is a
  64-bit shingle hash, not the shingle text; frequent shingles are
  capped (stop-shingle removal) to bound bucket skew.
- **MinHash+LSH**: signatures are computed per-document with
  higher-order array functions (zero shuffle), then candidates come
  from banding — one shuffle on (band_id, band_hash). Pair
  verification re-computes true Jaccard only for candidates. This is
  the classic sub-quadratic path: O(docs × k) compute, O(candidates)
  join, never O(n²).
- **SimHash**: per-document bit-vote fold (zero shuffle), candidates
  via exact-simhash grouping.

All hashes are portable integer arithmetic (see operators/text.py), so
the DuckDB oracles reproduce results exactly. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from queens_spark.session import ensure_min_partitions
from queens_spark.operators.text import (
    HASH_MOD,
    char_poly_hash,
    column_memo,
    doc_fingerprint,
    duckdb_char_poly_hash,
    let_bound,
    tokens,
)

# Frames persisted by the dedup pipelines. A pipeline can't unpersist
# its own cache (the returned DataFrame is lazy and still reads it), so
# callers that loop over many pipelines call :func:`release_caches`
# between iterations to keep executor storage flat.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    # MEMORY_ONLY, not the MEMORY_AND_DISK default: building the
    # disk-spillable columnar form measured 3× the cost of the cached
    # computation itself. These frames are cheap derived projections —
    # on memory pressure a dropped partition recomputes from the scan,
    # which is the right trade (and safe) at any scale.
    #
    # Prune entries someone else already unpersisted (e.g. a driver
    # calling spark.catalog.clearCache() instead of release_caches()):
    # without this the module-level list grows one stale plan object
    # per pipeline invocation in long-lived sessions.
    _PERSISTED[:] = [
        d for d in _PERSISTED
        if d.storageLevel.useMemory or d.storageLevel.useDisk
    ]
    df = df.persist(StorageLevel.MEMORY_ONLY)
    _PERSISTED.append(df)
    return df


def release_caches() -> None:
    """Unpersist every frame cached by dedup pipelines since the last
    call. Safe to call while results are still referenced (Spark
    recomputes), so call it only after materializing."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


# Deterministic MinHash parameter tables (shared by Spark + oracle —
# both sides bake these Python lists into their expressions, so any
# deterministic generator keeps them in lockstep).
#
# The multipliers must be (1) LARGE relative to p / max_hash — shingle
# hashes are < HASH_MOD (1e9+7), so a small multiplier (the original
# 3,5,…,33) keeps a·h+b below p for most lanes: no modular wrap, every
# such lane's argmin is the SAME global min-hash shingle, and the
# lanes are correlated (measured: a 200-doc near-identical cluster
# left ~13 docs with zero band matches) — and (2) mutually
# INDEPENDENT: a_i = c·(i+1) mod p has a_{2i+1} = 2·a_i etc., making
# whole lane groups share one argmin (measured: lanes 3/7/11/15 — one
# per band — flipped together, isolating docs). SHA-256-derived
# constants have neither structure; a·h+b ≤ (p−2)·1e9+p « 2^63, so
# BIGINT math is exact in both engines.
from queens_spark.operators.text import sha_const as _sha_const


def _mh_const(tag: str, i: int, mod: int) -> int:
    return _sha_const(f"minhash-{tag}", i, mod)


MINHASH_K = 16
MINHASH_P = 4_294_967_311  # prime > 2^32
MINHASH_A = [_mh_const("a", i, MINHASH_P - 1) | 1 for i in range(MINHASH_K)]
MINHASH_B = [_mh_const("b", i, MINHASH_P) for i in range(MINHASH_K)]
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS
SIMHASH_BITS = 16


# let_bound is re-exported above from operators.text: evaluate an
# expression ONCE per row and reference it many times. It turned the
# 16-lane MinHash signature from O(16·shingles·chars) back to
# O(shingles·chars) per document (~17× less compute at any scale).

# ----------------------------------------------------------- shingling

@column_memo
def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined). Fewer than n
    tokens → empty array.

    The token array is let-bound: referenced naively inside the
    per-position ``slice`` lambda it would be re-split once per shingle
    position — O(tokens²) per document (measured 3-4× slowdown on the
    q27/q28 shingling stage)."""
    return let_bound(
        tokens(text),
        lambda tk: F.when(
            F.size(tk) < n, F.array().cast("array<string>")
        ).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
                )
            )
        ),
    )


@column_memo
def shingle_hashes(text: Column | str, n: int = 3, p: int = HASH_MOD) -> Column:
    """Distinct word n-gram shingle hashes, composed from per-token
    polynomial hashes: fold ``acc = (acc*131 + token_hash) mod p``
    over each window of n tokens.

    Each token is char-hashed ONCE (let-bound), and shingles combine n
    bigints instead of concatenating + re-hashing an n-token string —
    measured ~2× the throughput of the string form on the q27/q28
    shingling stage, with zero string allocation per shingle. Hash
    collisions merge under array_distinct exactly as equal shingle
    strings would; the oracle twin uses the identical integer formula,
    so both engines agree bit-for-bit.
    """
    def combine(th: Column, i: Column) -> Column:
        acc = F.element_at(th, i).cast("bigint")
        for k in range(1, n):
            acc = (acc * 131 + F.element_at(th, i + k)) % F.lit(p)
        return acc

    return let_bound(
        tokens(text),
        lambda tk: F.when(
            F.size(tk) < n, F.array().cast("array<bigint>")
        ).otherwise(
            let_bound(
                F.transform(tk, lambda t: char_poly_hash(t)),
                lambda th: F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(th) - n + 1),
                        lambda i: combine(th, i),
                    )
                ),
            )
        ),
    )


def duckdb_shingle_hashes(expr: str, n: int = 3, p: int = HASH_MOD) -> str:
    """DuckDB twin of :func:`shingle_hashes` (token-hash list bound in
    a scalar subquery so each token is hashed once)."""
    toks = f"list_filter(string_split_regex({expr}, '\\s+'), x -> x <> '')"
    th = f"list_transform({toks}, t -> {duckdb_char_poly_hash('t')})"
    acc = "__th[i]"
    for k in range(1, n):
        acc = f"(({acc}) * 131 + __th[i + {k}]) % {p}"
    return (
        f"(SELECT CASE WHEN len(__th) < {n} THEN [] "
        f"ELSE list_distinct(list_transform(range(1, len(__th) - {n} + 2), "
        f"i -> {acc})) END FROM (SELECT {th} AS __th) __shh)"
    )


# --------------------------------------------------------- exact dedup

def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group documents by normalized-text fingerprint: returns one row
    per distinct content with the canonical (min) id and multiplicity.
    One shuffle on the 128-bit fingerprint."""
    return (
        ensure_min_partitions(df)
        .select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def canonical_copies(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, rep_id) rows for every NON-canonical exact copy: documents
    whose normalized content fingerprint matches a lower id.

    One narrow shuffle on (id, 16-byte fingerprint) via a window min —
    identical clusters of ANY size cost O(cluster), which is exactly
    the case the df-capped inverted index cannot see (every
    cluster-common shingle exceeds max_df there). Composing this with
    :func:`ngram_jaccard_pairs` (as queries q36/q42 do) closes the
    oversized-identical-cluster recall hole while keeping the index's
    hard max_df² bucket bound.
    """
    rep = F.min(id_col).over(Window.partitionBy(doc_fingerprint(text_col)))
    return (
        ensure_min_partitions(df)
        .select(F.col(id_col), rep.alias("rep_id"))
        .where(F.col(id_col) != F.col("rep_id"))
    )


# ------------------------------------------------- n-gram Jaccard pairs

def auto_max_df(n_docs: int) -> int:
    """Corpus-scaled stop-shingle cap: a shingle appearing in more than
    max(50, 1% of docs) documents carries no near-dup signal but
    creates an O(df²) join bucket."""
    return max(50, n_docs // 100)


def _shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Persisted (doc, x:{n, hashes}) projection shared by the inverted
    index and the verification join.

    One projection computes the shingle hashes inside a single
    let-bound struct (see :func:`shingle_hashes` — tokens are hashed
    once and combined in integer space), and is persisted immediately:
    the cache is the collapse barrier, so tokenize→hash runs exactly
    once per document (filter/explode/join all read the cached
    columns). Docs with < n tokens have an empty hash array and vanish
    at the explode — no separate size filter needed.
    """
    return _persist(
        ensure_min_partitions(df)
        .select(
            F.col(id_col).alias("doc"),
            let_bound(
                shingle_hashes(text_col, n),
                lambda hs: F.struct(
                    F.size(hs).alias("n"),
                    hs.alias("hashes"),
                ),
            ).alias("x"),
        )
    )


def _capped_index(sh: DataFrame, max_df: int) -> DataFrame:
    """(doc, sh_hash) postings with stop shingles removed via a
    broadcast LEFT ANTI join against the HOT-shingle list.

    Why this shape wins at any scale: the hot list is provably tiny —
    at most |postings| / max_df entries (a shingle needs > max_df
    postings to be hot), which with max_df = n_docs/100 is ≤
    100 × avg-shingles-per-doc rows REGARDLESS of corpus size — so it
    always broadcasts. Finding it is a groupBy(count) whose map-side
    partial aggregation shrinks the shuffle to distinct hashes per
    partition; the postings themselves never shuffle here (the
    measured alternative, a COUNT window over sh_hash, shuffles and
    sorts every posting). A hot bucket only ever exists as a partial
    count, so a 100M-document boilerplate shingle costs counters, not
    memory."""
    exploded = sh.select("doc", F.explode("x.hashes").alias("sh_hash"))
    hot = (
        exploded.groupBy("sh_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > F.lit(max_df))
        .select("sh_hash")
    )
    return exploded.join(F.broadcast(hot), "sh_hash", "left_anti")


def shingle_candidate_pairs(sh: DataFrame, max_df: int) -> DataFrame:
    """Candidate (id_a < id_b) pairs from a df-capped inverted
    shingle-hash index.

    Stop-shingle removal: postings whose shingle-hash document
    frequency exceeds *max_df* are dropped before the self-join.
    Without the cap one hot shingle shared by k documents creates a
    k² join bucket — a skewed-key shuffle that kills the job at
    corpus scale; with it, the self-join's worst bucket is max_df²
    regardless of corpus size. The join carries 64-bit hashes only.
    """
    kept = _capped_index(sh, max_df)
    a = kept.select(F.col("doc").alias("id_a"), "sh_hash")
    b = kept.select(F.col("doc").alias("id_b"), "sh_hash")
    return (
        a.join(b, "sh_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | str | None = "auto",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) via an
    inverted shingle-hash index with stop-shingle removal.

    Plan: per-doc distinct shingles → explode (shingle_hash, id) →
    driver-materialize the (provably tiny) hot-shingle list in the job
    that builds the shingle cache → self-join the rare postings on
    shingle_hash, counting shared rare shingles per pair in the same
    shuffle that dedups candidates. With no hot shingles (the common,
    clean-corpus case) that count is the EXACT intersection, so the
    result finishes in that one shuffle; otherwise a sound count-only
    jaccard upper bound prunes candidates that cannot reach the
    threshold and exact verification (|A∩B| via hash-set intersect)
    runs on the few survivors.

    max_df: ``"auto"`` (default) scales the cap with the corpus
    (:func:`auto_max_df` of the input row count — a column-less scan
    the parquet reader answers from metadata, not a materialization of
    the shingle pipeline); an int pins it; ``None`` disables the cap
    and uses a single-pass co-occurrence count (exact recall even for
    pairs that share only ultra-common shingles — only safe on small
    corpora).

    Recall note: a pair whose ONLY shared shingles are stop shingles
    is not generated as a candidate. That is NOT always harmless: a
    near-identical cluster larger than max_df (e.g. hundreds of copies
    of one boilerplate page) has df > max_df for every cluster-common
    shingle, so its pairs are missed here. Byte-identical (after
    whitespace/case normalization) clusters are closed out by
    composing :func:`canonical_copies` / exact dedup first; for
    near-identical oversized clusters use :func:`near_dup_pairs_full`,
    which unions LSH band candidates (band buckets grow only with
    true-duplicate cluster size) into this index's candidate set —
    queries q36/q42/q60 compose both. A hard bucket bound and exact
    recall for such clusters cannot coexist in one inverted-index
    pass.
    """
    if isinstance(max_df, str) and max_df != "auto":
        raise ValueError(f"max_df must be an int, None, or 'auto'; got {max_df!r}")
    if max_df == "auto":
        # Sized from the raw input count BEFORE shingling: a cheap
        # column-pruned count job, not a materialization of the
        # tokenize->shingle->hash pipeline.
        max_df = auto_max_df(df.count())
    sh = _shingle_frame(df, text_col, id_col, n)

    if max_df is None:
        # Uncapped exact path: count co-occurrences in one pass — no
        # verification join, but vulnerable to hot-shingle skew.
        exploded = sh.select(
            "doc",
            F.col("x.n").alias("n_shingles"),
            F.explode("x.hashes").alias("sh_hash"),
        )
        a = exploded.select(
            F.col("doc").alias("id_a"), F.col("n_shingles").alias("na"), "sh_hash"
        )
        b = exploded.select(
            F.col("doc").alias("id_b"), F.col("n_shingles").alias("nb"), "sh_hash"
        )
        return (
            a.join(b, "sh_hash")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("common"))
            .withColumn(
                "jaccard",
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "common", "jaccard")
        )

    exploded = sh.select(
        "doc", F.col("x.n").alias("n"), F.explode("x.hashes").alias("sh_hash")
    )
    hot = _collect_hot(exploded, max_df)
    if not hot:
        # clean corpus (no hot shingles): rare_common is exact, so the
        # whole pipeline is the single pair shuffle
        return _exact_from_counts(
            _rare_pair_counts(exploded, None), threshold, "jaccard"
        )
    counts = _rare_pair_counts(exploded, _hot_frame(exploded, hot))
    cands = _pruned_candidates(counts, len(hot), threshold, "jaccard")
    return _verify_pairs(cands, sh)\
        .where(F.col("jaccard") >= threshold)\
        .select("id_a", "id_b", "common", "jaccard")


def _collect_hot(exploded: DataFrame, max_df: int) -> list[int]:
    """Hot-shingle list (df > max_df), materialized ON THE DRIVER in
    the one job that also builds the shingle cache (``exploded`` reads
    the persisted projection, so the collect is the cache's first
    action — no separate probe job). Driver-bounded by construction:
    at most |postings| / max_df rows, which with max_df = n_docs/100
    is ≤ 100 × avg-shingles-per-doc entries REGARDLESS of corpus size.
    Holding the list in Python gives every downstream decision — the
    H = 0 short-circuit, the H scalar in the count-only prune, the
    re-broadcast for the anti/semi joins — for free, where each was
    previously its own Spark job or plan subtree."""
    rows = (
        exploded.groupBy("sh_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > F.lit(max_df))
        .select("sh_hash")
        .collect()
    )
    return [r["sh_hash"] for r in rows]


def _hot_frame(exploded: DataFrame, hot: list[int]) -> DataFrame:
    """The collected hot list as a (tiny, local) single-column frame
    for broadcast anti/semi joins."""
    return exploded.sparkSession.createDataFrame(
        [(int(h),) for h in hot], "sh_hash bigint"
    )


def _rare_pair_counts(
    exploded: DataFrame,
    hot_df: DataFrame | None,
    exploded_b: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, na, nb, rare_common) from the df-capped inverted
    index — the candidate pairs WITH their shared-rare-shingle count,
    computed in the pair shuffle itself (no per-doc stats join).

    The join emits one row per SHARED RARE shingle, so grouping the
    join output by pair counts them (rare_common) in the same shuffle
    that dedups candidates — no .distinct() pass. Each posting row
    carries its document's total shingle count (free, projected from
    the persisted struct BEFORE the join — no doc-keyed shuffle), so
    na/nb land in the pair group key. With ``hot_df`` None (no hot
    shingles exist) the anti-join is skipped entirely. With
    ``exploded_b`` the join is BIPARTITE (id_a from exploded, id_b
    from exploded_b — distinct id spaces, so no ordering filter);
    otherwise it is the within-corpus self-join with id_a < id_b."""
    def kept(e):
        return (
            e if hot_df is None
            else e.join(F.broadcast(hot_df), "sh_hash", "left_anti")
        )

    a = kept(exploded).select(
        F.col("doc").alias("id_a"), F.col("n").alias("na"), "sh_hash"
    )
    b = kept(exploded_b if exploded_b is not None else exploded).select(
        F.col("doc").alias("id_b"), F.col("n").alias("nb"), "sh_hash"
    )
    joined = a.join(b, "sh_hash")
    if exploded_b is None:
        joined = joined.where(F.col("id_a") < F.col("id_b"))
    return joined.groupBy("id_a", "id_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("rare_common")
    )


def _exact_from_counts(
    counts: DataFrame, threshold: float, metric: str = "jaccard"
) -> DataFrame:
    """H = 0 finish: with NO hot shingles, every shared shingle is
    rare, so rare_common IS the true intersection size — the metric is
    computable from (rare_common, na, nb) alone and the verification
    join (plus its second read of the shingle cache) is pure overhead.
    Emits verified (id_a, id_b, common, metric) straight from the pair
    aggregation: the whole pipeline is ONE shuffle. Operand values are
    identical to the verification path's (common = |A∩B|, na = |A|,
    nb = |B|), so the single IEEE division is bit-identical too."""
    common = F.col("rare_common").cast("bigint")
    if metric == "jaccard":
        val = common.cast("double") / (
            F.col("na") + F.col("nb") - common
        ).cast("double")
    elif metric == "containment":
        val = common.cast("double") / F.least("na", "nb").cast("double")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        counts.select(
            "id_a", "id_b", common.alias("common"), val.alias(metric)
        )
        .where(F.col(metric) >= threshold)
    )


def _pruned_candidates(
    counts: DataFrame, n_hot: int, threshold: float, metric: str = "jaccard"
) -> DataFrame:
    """Sound count-only prune before the expensive verification:
      true_common <= rare_common + min(stop_a, stop_b)
    (a shared stop shingle is a stop posting on BOTH docs), and each
    doc's stop count is itself bounded by H — the GLOBAL number of
    distinct hot shingles, a Python literal here since the hot list is
    driver-materialized — and by its own size:
      stop_x <= min(H, nx)  =>  true_common <= rare_common + least(H, na, nb).
    Both inequalities below are monotone rearrangements of metric >=
    threshold with true_common replaced by its upper bound, so the
    prune is sound for either metric; the caller's final exact filter
    is unchanged, so the prune never alters results — the oracle does
    not mirror it. On boilerplate-heavy corpora H grows and the prune
    degrades gracefully toward plain verification — correctness never
    depends on it."""
    ub_common = F.col("rare_common") + F.least(
        F.lit(n_hot).cast("bigint"),
        F.col("na").cast("bigint"),
        F.col("nb").cast("bigint"),
    )
    if metric == "jaccard":
        keep = (
            ub_common.cast("double")
            >= F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
        )
    elif metric == "containment":
        keep = (
            ub_common.cast("double")
            >= F.lit(threshold) * F.least("na", "nb").cast("double")
        )
    else:
        raise ValueError(f"unknown prune metric {metric!r}")
    return counts.where(keep).select("id_a", "id_b")


def _verify_pairs(
    cands: DataFrame, sh: DataFrame, sh_b: DataFrame | None = None
) -> DataFrame:
    """Exact-Jaccard verification join: attach both hash sets to each
    candidate pair and compute |A∩B| / |A∪B|. Cost is O(|candidates|),
    never O(n²) — candidates arrive pruned/banded. *sh_b* supplies the
    id_b side for bipartite (cross-corpus) pipelines."""
    va = sh.select(F.col("doc").alias("id_a"), F.col("x.hashes").alias("ha"))
    vb = (sh_b if sh_b is not None else sh).select(
        F.col("doc").alias("id_b"), F.col("x.hashes").alias("hb")
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "common", F.size(F.array_intersect("ha", "hb")).cast("bigint")
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("ha") + F.size("hb") - F.col("common")).cast("double"),
        )
    )


# ------------------------------------------------------------- MinHash

@column_memo
def minhash_signature(text: Column | str) -> Column:
    """k-element MinHash signature from the shingle-hash set:
    sig[i] = min over shingles of (aᵢ·h + bᵢ) mod p. Computed entirely
    with array expressions — zero shuffle, O(tokens·chars + shingles·k)
    per doc: the shingle hashes are let-bound so the k lanes share one
    computation instead of re-hashing per lane."""
    return _signature_from_hashes(shingle_hashes(text))


def _signature_from_hashes(hashes: Column) -> Column:
    # one parsed expression: per-element F.lit/F.struct chains cost two
    # py4j round trips each, and this builder runs in every dedup-family
    # plan (see similarity.lit_array)
    params = F.expr(
        "array(" + ",".join(
            f"named_struct('a',{int(MINHASH_A[i])}L,'b',{int(MINHASH_B[i])}L)"
            for i in range(MINHASH_K)
        ) + ")"
    )
    return let_bound(
        hashes,
        lambda hs: F.transform(
            params,
            lambda p: F.array_min(
                F.transform(hs, lambda h: (p["a"] * h + p["b"]) % F.lit(MINHASH_P))
            ),
        ),
    )


def lsh_candidate_pairs(
    df: DataFrame, text_col: str, id_col: str, sigs: DataFrame | None = None
) -> DataFrame:
    """LSH banding over MinHash signatures: docs sharing ANY band are
    candidates. One shuffle on (band_id, band_signature)."""
    if sigs is None:
        sigs = (
            ensure_min_partitions(df)
            .where(F.size(shingle_hashes(text_col)) > 0)
            .select(F.col(id_col).alias("doc"), minhash_signature(text_col).alias("sig"))
        )
    return _band_pairs(sigs)


def band_frame(sigs: DataFrame) -> DataFrame:
    """(doc, band_id, band_sig) rows from a (doc, sig) frame — THE
    signature→band formula, shared by the inline pipelines here and by
    the cluster-map append (store/cluster_map.py), whose
    append==rebuild guarantee depends on both paths banding
    byte-identically. Change the band layout ONLY here."""
    return sigs.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(band).alias("band_id"),
                    F.concat_ws(
                        "_",
                        *[F.col("sig")[band * LSH_ROWS + r] for r in range(LSH_ROWS)],
                    ).alias("band_sig"),
                )
                for band in range(LSH_BANDS)
            ])
        ).alias("b"),
    ).select("doc", "b.band_id", "b.band_sig")


def _band_pairs(sigs: DataFrame) -> DataFrame:
    """Banded candidate pairs from a (doc, sig) frame. Band buckets
    grow with TRUE-duplicate cluster size (near-identical docs share
    band signatures with probability ~jaccard^rows_per_band), so —
    unlike the df-capped inverted index — oversized near-identical
    clusters still produce candidates here."""
    bands = band_frame(sigs)
    a = bands.select(F.col("doc").alias("id_a"), "band_id", "band_sig")
    b = bands.select(F.col("doc").alias("id_b"), "band_id", "band_sig")
    return (
        a.join(b, ["band_id", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_pairs_full(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | str = "auto",
) -> DataFrame:
    """Near-duplicate pairs with FULL-recall candidate generation: the
    df-capped inverted index UNIONed with MinHash-LSH band candidates,
    verified together in one exact-Jaccard join.

    Why the union: the capped index alone cannot see a near-identical
    cluster larger than max_df — every cluster-common shingle exceeds
    the cap there (see :func:`ngram_jaccard_pairs`'s recall note) —
    while LSH band buckets grow with TRUE-duplicate cluster size, so
    each path covers the other's blind spot (the index catches pairs
    whose similarity rides on rare shingles and band-collision luck
    misses; banding catches boilerplate/template farms the cap
    blinds). Byte-identical clusters are additionally closed by
    :func:`dedup_edges`, which unions exact-copy fingerprint edges
    computed from the SAME corpus scan (queries q36/q42/q60).

    Cost discipline: both candidate generators and the verification
    read ONE persisted (doc, {n, hashes}) projection — one
    tokenize→hash pass over the corpus. The band path is restricted
    to HOT-shingle documents, which is lossless: a true pair the
    capped index cannot see must share at least one hot shingle (if
    every common shingle were rare, rare_common would equal the true
    common count and the count-prune provably passes the pair), so
    both its documents carry a hot shingle. MinHash signatures are
    therefore computed only for the boilerplate-cluster subset — on
    clean corpora the band path costs nothing, and at 100 TB the
    16-lane signature fold runs over the oversized-cluster docs
    instead of every document. The worst join bucket stays bounded:
    max_df² for the index, true-cluster² for banding.
    """
    sh = _shingle_frame(df, text_col, id_col, n)
    max_df = _resolve_max_df(max_df, sh, source=df)
    return (
        _full_recall_pairs(sh, max_df, threshold)
        .select("id_a", "id_b", "common", "jaccard")
    )


def _resolve_max_df(
    max_df: int | str | None, sh: DataFrame, source: DataFrame | None = None
) -> int:
    if max_df is None or (isinstance(max_df, str) and max_df != "auto"):
        # None (uncapped) is only meaningful for ngram_jaccard_pairs'
        # single-pass path; here it would silently disable BOTH the
        # skew cap and the band union via a NULL df comparison.
        raise ValueError(f"max_df must be an int or 'auto'; got {max_df!r}")
    if max_df == "auto":
        # Count the RAW source when available: for parquet inputs
        # that's a metadata-only footer read (~ms), and the shingle
        # cache then materializes inside the hot-list job it feeds —
        # one scheduled pass instead of a count job that builds the
        # cache plus a second job that re-reads it (measured ~0.4 s/
        # query of pure job overhead at sf0.1). Falls back to counting
        # the projection (same number — shingling drops no rows).
        max_df = auto_max_df((source if source is not None else sh).count())
    return max_df


def _full_recall_pairs(sh: DataFrame, max_df: int, threshold: float) -> DataFrame:
    """Verified (id_a, id_b, common, jaccard) pairs from the capped
    index ∪ hot-doc-restricted LSH bands over a persisted
    (doc, x:{n, hashes, ...}) projection (see near_dup_pairs_full).

    Adaptive short-circuit (same spirit as connected_components'
    small-graph path): the hot list is driver-materialized in the job
    that builds the shingle cache (:func:`_collect_hot`), and with NO
    hot shingles the capped index is provably complete — nothing is
    blinded — AND rare_common is the exact intersection, so the pairs
    finish straight from the pair aggregation: the band path, the
    union-distinct, and the verification join all vanish on clean
    corpora."""
    exploded = sh.select(
        "doc", F.col("x.n").alias("n"), F.explode("x.hashes").alias("sh_hash")
    )
    hot = _collect_hot(exploded, max_df)
    if not hot:
        return _exact_from_counts(
            _rare_pair_counts(exploded, None), threshold, "jaccard"
        )
    hot_df = _hot_frame(exploded, hot)
    counts = _rare_pair_counts(exploded, hot_df)
    capped = _pruned_candidates(counts, len(hot), threshold, "jaccard")
    hot_docs = (
        exploded.join(F.broadcast(hot_df), "sh_hash", "left_semi")
        .select("doc").distinct()
    )
    banded = _band_pairs(
        sh.join(hot_docs, "doc", "left_semi")
        .where(F.col("x.n") > 0)
        .select("doc", _signature_from_hashes(F.col("x.hashes")).alias("sig"))
    )
    cands = capped.union(banded).distinct()
    return _verify_pairs(cands, sh).where(F.col("jaccard") >= threshold)


def dedup_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | str = "auto",
) -> DataFrame:
    """The complete dedup edge set — full-recall near-dup pairs UNION
    exact-copy (rep → copy) fingerprint edges — from ONE corpus scan.

    The content fingerprint rides in the same persisted struct as the
    shingle hashes, so composing exact-copy closure no longer costs a
    second scan + tokenize of the corpus (at 100 TB, a full input pass
    saved per pipeline). Both edge families emit id_a < id_b (the
    fingerprint rep is the cluster min), so downstream consumers can
    treat id_b as the non-canonical side; feed the union to
    :func:`connected_components` for clusters or anti-join id_b for
    corpus cleaning (queries q36/q42/q60).
    """
    sh = _persist(
        ensure_min_partitions(df).select(
            F.col(id_col).alias("doc"),
            let_bound(
                shingle_hashes(text_col, n),
                lambda hs: F.struct(
                    F.size(hs).alias("n"),
                    hs.alias("hashes"),
                ),
            ).alias("x"),
            doc_fingerprint(text_col).alias("fp"),
        )
    )
    max_df = _resolve_max_df(max_df, sh, source=df)
    pairs = _full_recall_pairs(sh, max_df, threshold).select("id_a", "id_b")
    rep = F.min("doc").over(Window.partitionBy("fp"))
    copies = (
        sh.select("doc", rep.alias("rep_id"))
        .where(F.col("doc") != F.col("rep_id"))
        .select(F.col("rep_id").alias("id_a"), F.col("doc").alias("id_b"))
    )
    return pairs.union(copies)


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | str = "auto",
) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT — |A∩B| / min(|A|,|B|)
    ≥ threshold — the asymmetric-overlap screen that catches
    subset/quote-inclusion duplicates Jaccard misses: a short document
    fully embedded in a long one has containment 1.0 but Jaccard
    ≈ |A|/|B|, far below any Jaccard threshold.

    Same df-capped inverted index as :func:`ngram_jaccard_pairs` (one
    persisted shingle projection, hot-list broadcast anti-join, one
    pair shuffle carrying na/nb in the group key), with the
    containment-adapted sound prune:
      true_common ≤ rare_common + min(H, na, nb)
    so pairs with ub < threshold·min(na, nb) provably fail and skip
    verification; the final exact filter is unchanged, so the prune
    never alters results. Shares the capped index's documented recall
    edge for oversized near-identical clusters (the oracle mirrors the
    cap; compose :func:`near_dup_pairs_full` when that matters).
    """
    sh = _shingle_frame(df, text_col, id_col, n)
    max_df = _resolve_max_df(max_df, sh, source=df)
    exploded = sh.select(
        "doc", F.col("x.n").alias("n"), F.explode("x.hashes").alias("sh_hash")
    )
    hot = _collect_hot(exploded, max_df)
    if not hot:
        return _exact_from_counts(
            _rare_pair_counts(exploded, None), threshold, "containment"
        )
    counts = _rare_pair_counts(exploded, _hot_frame(exploded, hot))
    cands = _pruned_candidates(counts, len(hot), threshold, "containment")
    v = _verify_pairs(cands, sh)
    containment = F.col("common").cast("double") / F.least(
        F.size("ha"), F.size("hb")
    ).cast("double")
    return (
        v.withColumn("containment", containment)
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "common", "containment")
    )


def minhash_dedup_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Full MinHash-LSH pipeline: banded candidates verified with true
    Jaccard (re-computed only for the candidate set — the verification
    join is |candidates|, not n²)."""
    # One cached frame carries shingle hashes + signature; the band
    # self-join and both sides of the verification join all reuse it
    # instead of re-hashing the corpus (4 consumers → 1 computation).
    # Hashes and signature are built in a single let-bound struct
    # projection and persisted BEFORE the size filter — the cache stops
    # predicate pushdown / projection collapse from re-evaluating the
    # tokenize→hash chain per consumer.
    raw = _persist(
        ensure_min_partitions(df).select(
            F.col(id_col).alias("doc"),
            let_bound(
                shingle_hashes(text_col),
                lambda hs: F.struct(
                    hs.alias("hashes"), _signature_from_hashes(hs).alias("sig")
                ),
            ).alias("x"),
        )
    )
    base = raw.where(F.size("x.hashes") > 0).select(
        "doc", F.col("x.hashes").alias("hashes"), F.col("x.sig").alias("sig")
    )
    cands = lsh_candidate_pairs(df, text_col, id_col,
                                sigs=base.select("doc", "sig"))
    a = base.select(F.col("doc").alias("id_a"), F.col("hashes").alias("sh_a"))
    b = base.select(F.col("doc").alias("id_b"), F.col("hashes").alias("sh_b"))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "common", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def filter_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep_col: str = "id_a",
    drop_col: str = "id_b",
) -> DataFrame:
    """Corpus-cleaning step: drop every document that appears on the
    losing side of a near-dup pair (pairs are emitted with
    ``id_a < id_b``, so the minimum id of each pair survives).

    LEFT ANTI join on the id — the pair list is tiny relative to the
    corpus, so Catalyst broadcasts it and the corpus never shuffles.
    For transitive clusters use :func:`connected_components` and keep
    ``component_id == id`` instead.
    """
    losers = pairs.select(F.col(drop_col).alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def cross_corpus_neardup_pairs(
    df_train: DataFrame,
    df_eval: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | str = "auto",
) -> DataFrame:
    """FUZZY decontamination: near-duplicate (train_id, eval_id,
    common, jaccard) pairs BETWEEN two corpora — where
    :func:`decontaminate` flags raw shingle overlap, this reports the
    actual train↔eval near-duplicates a contamination audit wants.

    Same machinery as :func:`ngram_jaccard_pairs`, bipartite: one
    persisted shingle projection per side, ONE hot list computed over
    the union of both posting sets (a shingle hot in either corpus
    creates a df_train·df_eval join bucket, so the cap must see both),
    the train↔eval pair shuffle counting shared rare shingles, and the
    same H = 0 exact finish / count-prune + verification split. The
    bipartite join has no id ordering (id spaces may overlap — the
    sides, not the ids, distinguish the roles)."""
    if max_df is None or (isinstance(max_df, str) and max_df != "auto"):
        # None would silently disable the cap via a NULL df comparison
        # — the O(|train|·|eval|) hot bucket this operator exists to
        # prevent; reject like near_dup_pairs_full does
        raise ValueError(f"max_df must be an int or 'auto'; got {max_df!r}")
    sh_a = _shingle_frame(df_train, text_col, id_col, n)
    sh_b = _shingle_frame(df_eval, text_col, id_col, n)
    if max_df == "auto":
        max_df = auto_max_df(df_train.count() + df_eval.count())
    ex_a = sh_a.select(
        "doc", F.col("x.n").alias("n"), F.explode("x.hashes").alias("sh_hash")
    )
    ex_b = sh_b.select(
        "doc", F.col("x.n").alias("n"), F.explode("x.hashes").alias("sh_hash")
    )
    hot = _collect_hot(
        ex_a.select("sh_hash").unionAll(ex_b.select("sh_hash")), max_df
    )
    hot_df = _hot_frame(ex_a, hot) if hot else None
    counts = _rare_pair_counts(ex_a, hot_df, exploded_b=ex_b)
    if not hot:
        out = _exact_from_counts(counts, threshold, "jaccard")
    else:
        cands = _pruned_candidates(counts, len(hot), threshold, "jaccard")
        out = (
            _verify_pairs(cands, sh_a, sh_b)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "common", "jaccard")
        )
    return out.select(
        F.col("id_a").alias("train_id"),
        F.col("id_b").alias("eval_id"),
        "common", "jaccard",
    )


def duplicated_shingle_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_df: int = 3,
) -> DataFrame:
    """ACROSS-corpus duplicated n-gram fraction per document — the
    RefinedWeb/CCNet-style boilerplate signal (distinct from q62's
    Gopher screens, which measure repetition WITHIN one document): for
    each doc, the fraction of its distinct n-gram shingles that occur
    in ≥ *min_df* documents corpus-wide. High fractions mark template
    farms, navigation chrome, and license boilerplate.

    Returns (doc, n_shingles, n_dup, dup_frac) for docs with ≥ n
    tokens.

    Scale shape: ONE persisted shingle projection; postings shuffle on
    sh_hash twice (the df aggregation and the semi-join back — same
    key, so AQE reuses the exchange) and once on doc for the per-doc
    count. Unlike the max_df hot list, the df ≥ min_df set is NOT
    provably bounded (most of a duplicated corpus can exceed a small
    min_df), so it must NOT broadcast — the semi-join stays shuffled
    by design.
    """
    sh = _shingle_frame(df, text_col, id_col, n)
    exploded = sh.select("doc", F.explode("x.hashes").alias("sh_hash"))
    frequent = (
        exploded.groupBy("sh_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= F.lit(min_df))
        .select("sh_hash")
    )
    dup = (
        exploded.join(frequent, "sh_hash", "left_semi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    base = sh.select("doc", F.col("x.n").alias("n_shingles")).where(
        F.col("x.n") > 0
    )
    return (
        base.join(dup, "doc", "left")
        .select(
            "doc",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
            (
                F.coalesce("n_dup", F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_count: int = 2,
    p: int = HASH_MOD,
) -> DataFrame:
    """ExactSubstr-style duplicated-SPAN removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    instead of dropping whole near-duplicate documents, remove every
    token covered by an n-token span whose exact sequence occurs
    ≥ *min_count* times ACROSS the corpus (occurrences, not distinct
    docs — a span repeated inside ONE document is duplicated training
    signal too). Returns (doc, n_tokens, n_removed, clean_text) for
    every input document; the cleaned text is the surviving tokens
    joined by single spaces.

    Scale shape: one persisted (tokens, positional shingle hashes)
    projection — tokens are char-hashed once and each window combines
    n bigints in integer space (no per-shingle strings). The postings
    shuffle on sh_hash for the occurrence count and again for the
    semi-join back (same key: AQE reuses the exchange); duplicated
    start positions aggregate per doc (bounded by tokens-per-doc) and
    join back doc-keyed. Like q85's df ≥ min_df set, the duplicated
    span set is NOT provably bounded (most of a crawl can be
    boilerplate) so it stays a shuffled semi-join, never a broadcast.
    Reconstruction is pure per-row JVM array code, LINEAR in document
    length: sorted start positions merge into disjoint covered
    intervals (one aggregate pass), and the kept text concatenates
    the between-interval slices — never an O(tokens × spans) per-token
    membership probe.
    """
    def combine(th: Column, i: Column) -> Column:
        acc = F.element_at(th, i).cast("bigint")
        for k in range(1, n):
            acc = (acc * 131 + F.element_at(th, i + k)) % F.lit(p)
        return acc

    base = _persist(
        ensure_min_partitions(df).select(
            F.col(id_col).alias("doc"),
            let_bound(
                tokens(text_col),
                lambda tk: F.struct(
                    tk.alias("toks"),
                    let_bound(
                        F.transform(tk, lambda t: char_poly_hash(t, p)),
                        lambda th: F.when(
                            F.size(th) < n, F.array().cast("array<bigint>")
                        ).otherwise(
                            F.transform(
                                F.sequence(F.lit(1), F.size(th) - n + 1),
                                lambda i: combine(th, i),
                            )
                        ),
                    ).alias("hashes"),
                ),
            ).alias("x"),
        )
    )
    # (doc, start, sh_hash) postings; start is the 1-based token
    # position where the span begins (posexplode is 0-based).
    postings = base.select(
        "doc",
        F.posexplode("x.hashes").alias("pos0", "sh_hash"),
    ).select("doc", (F.col("pos0") + 1).alias("start"), "sh_hash")
    duplicated = (
        postings.groupBy("sh_hash")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= F.lit(min_count))
        .select("sh_hash")
    )
    starts = (
        postings.join(duplicated, "sh_hash", "left_semi")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("start")).alias("starts"))
    )

    def merged_intervals(starts_col: Column) -> Column:
        # Sorted same-length spans: each new start either extends the
        # last interval (s <= last.e + 1; its end s+n-1 is always the
        # new max) or opens a new one.
        return F.aggregate(
            starts_col,
            F.array().cast("array<struct<b:int,e:int>>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (s <= F.element_at(acc, -1)["e"] + 1),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["b"].alias("b"),
                            (s + F.lit(n) - 1).cast("int").alias("e"),
                        )
                    ),
                ),
            ).otherwise(
                F.concat(
                    acc,
                    F.array(
                        F.struct(
                            s.cast("int").alias("b"),
                            (s + F.lit(n) - 1).cast("int").alias("e"),
                        )
                    ),
                )
            ),
        )

    def kept_tokens(toks: Column, ivs: Column) -> Column:
        # Concatenate the token slices BETWEEN covered intervals:
        # state = (next position to copy from, accumulated tokens).
        return F.aggregate(
            ivs,
            F.struct(
                F.lit(1).alias("p"),
                F.array().cast("array<string>").alias("acc"),
            ),
            lambda st, iv: F.struct(
                (iv["e"] + 1).alias("p"),
                F.concat(
                    st["acc"], F.slice(toks, st["p"], iv["b"] - st["p"])
                ).alias("acc"),
            ),
            lambda st: F.concat(
                st["acc"],
                F.slice(
                    toks,
                    st["p"],
                    F.greatest(
                        F.size(toks) - st["p"] + 1, F.lit(0)
                    ),
                ),
            ),
        )

    return (
        base.join(starts, "doc", "left")
        .select(
            "doc",
            F.col("x.toks").alias("toks"),
            F.coalesce(
                "starts", F.array().cast("array<int>")
            ).alias("starts"),
        )
        .select(
            "doc",
            F.size("toks").cast("bigint").alias("n_tokens"),
            let_bound(
                kept_tokens(F.col("toks"), merged_intervals(F.col("starts"))),
                lambda kept: F.struct(
                    (F.size("toks") - F.size(kept))
                    .cast("bigint")
                    .alias("n_removed"),
                    F.concat_ws(" ", kept).alias("clean_text"),
                ),
            ).alias("r"),
        )
        .select("doc", "n_tokens", "r.n_removed", "r.clean_text")
    )


def duckdb_positional_shingles(expr: str, n: int, p: int = HASH_MOD) -> str:
    """DuckDB twin of the positional (ordered, non-distinct) shingle
    hash list used by :func:`remove_duplicated_spans`: element i
    (1-based) hashes tokens [i, i+n)."""
    toks = f"list_filter(string_split_regex({expr}, '\\s+'), x -> x <> '')"
    th = f"list_transform({toks}, t -> {duckdb_char_poly_hash('t')})"
    acc = "__th[i]"
    for k in range(1, n):
        acc = f"(({acc}) * 131 + __th[i + {k}]) % {p}"
    return (
        f"(SELECT CASE WHEN len(__th) < {n} THEN [] "
        f"ELSE list_transform(range(1, len(__th) - {n} + 2), "
        f"i -> {acc}) END FROM (SELECT {th} AS __th) __psh)"
    )


# ---------------------------------------------- connected components

def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iter: int = 25,
    driver_threshold: int = 5_000_000,
) -> DataFrame:
    """Canonical dedup-group assignment: every node gets the MIN id
    reachable through the near-dup pair graph (isolated nodes are their
    own component).

    Adaptive, like Spark's broadcast-join threshold: the edge list is
    ∝ the near-dup GRAPH (a few % of a deduplicated corpus), so when
    it fits the driver (≤ *driver_threshold* edges, ~80 MB at 5M) a
    single collect + union-find resolves components in ONE job —
    Spark's per-job latency makes a 5-round iteration on a tiny graph
    slower than collecting it. Larger graphs fall back to distributed
    min-label propagation over edge-touching nodes only; the isolated
    majority joins back in one final broadcast left join either way.

    The size probe is a ``limit(N+1).count()`` over the persisted
    edge frame — one number crosses to the driver, so the distributed
    path never pays a threshold-sized row transfer just to discard
    it, and the persist shares one execution of the upstream pair
    pipeline between probe and consumer (asserted in
    tests/test_dedup_skew.py: distributed runs collect ≤ 1 row per
    job).

    Distributed path: each round joins current labels across the
    (undirected) edge list and keeps the per-node minimum; convergence
    when no label changes (rounds ≈ graph diameter — near-dup clusters
    are shallow). Each iteration is localCheckpoint-ed: without
    cutting lineage the plan doubles per round and the job dies long
    before 100 TB. Shuffle per round carries (node, label) pairs only
    — never document payloads. A graph whose diameter exceeds
    *max_iter* raises instead of returning silently-split components.
    """
    src, dst = pair_cols
    spark = nodes.sparkSession
    undirected = _persist(
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    # Size probe ships NO rows: limit(N+1).count() returns one number,
    # so choosing the distributed path never pays a 5M-row (~100 MB)
    # driver transfer just to discard it. The persist makes the probe
    # and the follow-up (driver collect, or the distributed edge
    # frame) share ONE execution of the upstream pair pipeline — the
    # expensive part at scale — instead of running it twice.
    n_edges = undirected.limit(driver_threshold + 1).count()
    if n_edges <= driver_threshold:
        # bounded by construction: the probe just proved ≤ threshold
        # narrow rows, and they are already cached
        rows = undirected.collect()
        undirected.unpersist()
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])  # path halving
                x = parent[x]
            return x

        for r in rows:
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                parent[ra] = rb
        best: dict = {}
        for x in list(parent) + [r["src"] for r in rows] + [r["dst"] for r in rows]:
            root = find(x)
            best[root] = min(best.get(root, x), x)
        data = [(x, best[find(x)]) for x in {r["src"] for r in rows} | {r["dst"] for r in rows}]
        resolved = spark.createDataFrame(
            data, f"{id_col} long, component_id long"
        )
        return nodes.select(id_col).join(
            F.broadcast(resolved), id_col, "left"
        ).select(
            F.col(id_col),
            F.coalesce("component_id", F.col(id_col)).alias("component_id"),
        )

    edges = (
        undirected
        # reversed copy reads the CACHED undirected frame, not the
        # upstream pair pipeline a second time
        .union(undirected.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    # the eager checkpoint above materialized edges' cache; the
    # narrow pair cache has served both its consumers
    undirected.unpersist()

    def label_sum(df) -> int:
        # labels only ever decrease, so the total strictly decreases
        # iff ANY label changed — a one-row aggregate is a far cheaper
        # convergence probe than a join-and-compare of the label sets.
        # decimal(38,0) so the sum can't overflow at any id scale.
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = label_sum(labels)
    converged = False
    # max_iter bounds PROPAGATION rounds (≈ graph diameter); the +1 is
    # the confirmation round — convergence is only observed by a round
    # that changes nothing, so a graph that finishes exactly on round
    # max_iter must still get one more round to prove it
    for _ in range(max_iter + 1):
        prop = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), F.col("label")
        )
        labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_sum = label_sum(labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        # returning possibly-split components would silently corrupt
        # every downstream dedup decision; labels propagate one hop
        # per round, so the bound is the graph diameter
        raise RuntimeError(
            f"connected_components did not converge in {max_iter + 1} "
            f"rounds ({max_iter} propagation + 1 confirmation; graph "
            f"diameter exceeds max_iter); raise max_iter"
        )
    resolved = labels.select(
        F.col("node").alias(id_col), F.col("label").alias("component_id")
    )
    # isolated nodes re-join as their own component; the resolved side
    # is graph-sized, so Catalyst/AQE broadcasts it against the corpus
    return nodes.select(id_col).join(resolved, id_col, "left").select(
        F.col(id_col),
        F.coalesce("component_id", F.col(id_col)).alias("component_id"),
    )


# ------------------------------------------------------------- SimHash

def simhash(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """Per-document SimHash: each token's polynomial hash votes ±1 on
    each bit position; the sign of the vote sum sets the bit. Pure
    array fold — zero shuffle."""
    tok_hashes = F.transform(tokens(text), lambda t: char_poly_hash(t))

    def bit_vote(j: int):
        def step(acc, h):
            is_set = F.shiftright(h, j).bitwiseAND(F.lit(1)) == F.lit(1)
            return acc + F.when(is_set, F.lit(1)).otherwise(F.lit(-1))
        return step

    def all_bits(hs: Column) -> Column:
        out = F.lit(0).cast("bigint")
        for j in range(bits):
            vote = F.aggregate(hs, F.lit(0).cast("bigint"), bit_vote(j))
            out = out + F.when(vote > 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0))
        return out

    # token hashes let-bound: hashed once, voted on `bits` times
    return let_bound(tok_hashes, all_bits)


def duckdb_simhash(expr: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of :func:`simhash`."""
    toks = f"list_filter(string_split_regex({expr}, '\\s+'), x -> x <> '')"
    th = (
        f"list_transform({toks}, t -> "
        + duckdb_char_poly_hash("t")
        + ")"
    )
    parts = []
    for j in range(bits):
        vote = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(__th, h -> CASE WHEN (h >> {j}) & 1 = 1 "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), (a,b) -> a+b)"
        )
        parts.append(f"CASE WHEN {vote} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END")
    return "(SELECT " + " + ".join(parts) + f" FROM (SELECT {th} AS __th) __s)"


# =====================================================================
# Benchmark decontamination (broadcast / Bloom-filter paths)
# =====================================================================

def _bloom_positions(h, k: int, m_bits: int):
    """k Bloom bit positions per 64-bit hash, via splitmix64-style
    double hashing in exact uint64 wraparound arithmetic (numpy).

    One implementation serves BOTH the filter build and the probe, so
    the two sides can never disagree on a bit position — the classic
    cross-language Bloom bug class is excluded by construction.
    """
    import numpy as np

    with np.errstate(over="ignore"):
        x = h.astype(np.uint64)
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h1 = z ^ (z >> np.uint64(31))
        z2 = x + np.uint64(0xC2B2AE3D27D4EB4F)
        z2 = (z2 ^ (z2 >> np.uint64(29))) * np.uint64(0xFF51AFD7ED558CCD)
        z2 = (z2 ^ (z2 >> np.uint64(32))) * np.uint64(0xC4CEB9FE1A85EC53)
        h2 = (z2 ^ (z2 >> np.uint64(32))) | np.uint64(1)  # odd => full cycle
        mask = np.uint64(m_bits - 1)
        return [(h1 + np.uint64(i) * h2) & mask for i in range(k)]


def build_bloom(hashes_df: DataFrame, col: str, n_items: int, fpp_bits: float = 9.6):
    """Build a Bloom filter over a DataFrame column of 64-bit hashes,
    DISTRIBUTED: an Arrow-batched pandas UDF emits each hash's k bit
    positions, one narrow groupBy OR-folds them into 64-bit words, and
    the driver assembles the word array (m/64 longs — the only data
    that ever reaches the driver). ~9.6 bits/item ≈ 1% false-positive
    rate with k=7.

    Returns (broadcast(words: np.uint64[m/64]), m_bits, k).
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m_bits = 1 << max(6, math.ceil(math.log2(max(n_items, 1) * fpp_bits)))
    k = 7

    def _pos(s):
        hs = s.to_numpy(dtype=np.int64)
        ps = _bloom_positions(hs, k, m_bits)
        return pd.Series(list(np.stack(ps, axis=1).astype(np.int64)))

    # real-object annotations: the module-wide `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf can't
    # resolve against this module (pandas is imported locally)
    _pos.__annotations__ = {"s": pd.Series, "return": pd.Series}
    pos_udf = pandas_udf(_pos, "array<long>")

    rows = (
        hashes_df.select(F.explode(pos_udf(F.col(col))).alias("pos"))
        .select(
            F.shiftright("pos", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
             .alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    signed = np.zeros(m_bits // 64, dtype=np.int64)
    for r in rows:
        signed[r["w"]] = r["word"]
    bc = hashes_df.sparkSession.sparkContext.broadcast(signed.view(np.uint64))
    return bc, m_bits, k


def bloom_might_contain(bc, m_bits: int, k: int, col) -> Column:
    """Vectorized membership probe against a broadcast Bloom word
    array. No false negatives; false positives are re-checked by the
    caller's exact join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _probe(s):
        words = bc.value
        hs = s.to_numpy(dtype=np.int64)
        ok = np.ones(len(hs), dtype=bool)
        for p in _bloom_positions(hs, k, m_bits):
            idx = (p >> np.uint64(6)).astype(np.int64)
            bit = np.uint64(1) << (p & np.uint64(63))
            ok &= (words[idx] & bit) != 0
        return pd.Series(ok)

    _probe.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_probe, "boolean")(col)


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's static size estimate for a plan — free (no job).
    Only ever used for path CHOICE between bit-identical plans, never
    for correctness; None on internal-API drift."""
    try:
        # py4j maps the scala BigInt straight to a Python int
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def decontaminate(
    train_sh: DataFrame,
    eval_sh: DataFrame,
    min_overlap: int = 3,
    broadcast_max_items: int = 20_000_000,
    fpp_bits: float = 9.6,
) -> DataFrame:
    """Flag training docs sharing >= *min_overlap* shingle hashes with
    the eval corpus. Inputs are (doc_id, sh) shingle-hash frames.

    Two scale regimes (benchmarks are small by nature, so the
    broadcast path is the common case):

    - **broadcast**: eval hashes broadcast, train filtered by a
      map-side LEFT SEMI join — the training corpus never shuffles.
    - **Bloom** (larger): a Bloom filter built distributed over the
      eval hashes broadcasts instead (9.6 bits/item vs 64+, an ~7x
      smaller broadcast); the train side is prefiltered map-side by
      the no-false-negative probe, and only the surviving sliver pays
      the exact shuffled semi-join re-check that removes Bloom false
      positives. Result is bit-identical to the broadcast path.

    Path choice is two-tier so the common case pays ZERO pre-jobs:
    when Catalyst's static size estimate says the eval side is
    clearly broadcast-sized, the semi-join plan is emitted directly
    (its broadcast build runs the distinct — one job total). Static
    stats systematically UNDER-estimate explode-shaped plans (Generate
    does not model fanout, and parquet child stats are compressed
    bytes), so the fast path demands a 64× safety margin under the cap
    — a benchmark-sized eval (KBs–MBs of stats) still clears it, while
    anything within two orders of magnitude of the cap pays one
    persist+count job for the exact distinct cardinality, which both
    settles the branch and sizes the Bloom filter. A mis-estimate can
    only mis-route between bit-identical plans; the margin keeps the
    only dangerous mis-route (broadcasting an actually-huge set) out
    of reach of any plausible estimate error.
    """
    est = _estimated_bytes(eval_sh.select("sh"))
    # 8 bytes/hash, 64× headroom for Generate under-estimation
    if est is not None and est * 64 <= broadcast_max_items * 8:
        pruned = train_sh.join(
            F.broadcast(eval_sh.select("sh").distinct()), "sh", "left_semi"
        )
    else:
        eval_hashes = _persist(eval_sh.select("sh").distinct())
        n = eval_hashes.count()
        if n <= broadcast_max_items:
            pruned = train_sh.join(F.broadcast(eval_hashes), "sh", "left_semi")
        else:
            bc, m_bits, k = build_bloom(eval_hashes, "sh", n, fpp_bits)
            candidates = train_sh.where(
                bloom_might_contain(bc, m_bits, k, F.col("sh"))
            )
            pruned = candidates.join(eval_hashes, "sh", "left_semi")
    return (
        pruned.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


# --------------------------------------------- line-level boilerplate

#: guard for the in-plan literal set of common-line hashes; boilerplate
#: is bounded in practice (headers/footers/nav chrome), but the cap is
#: enforced, not assumed — beyond it the explode path takes over
MAX_COMMON_LINES = 100_000


def strip_common_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 3,
    literal_max: int = MAX_COMMON_LINES,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: delete every line
    whose trimmed content appears in ≥ *min_df* DISTINCT documents
    (cookie banners, nav chrome, licence footers — the within-line
    duplication q85's shingle screen measures but does not remove).
    Empty/whitespace-only lines are kept verbatim (they are structure,
    not boilerplate, and would trivially exceed any df threshold).
    Returns (id, n_lines, n_removed, clean_text).

    Scale shape: pass 1 computes line document-frequencies — explode
    DISTINCT trimmed lines per doc, one counter-width groupBy on the
    64-bit line hash. The surviving common set is driver-collected
    under :data:`MAX_COMMON_LINES` (boilerplate is df-bounded:
    |common| ≤ |postings| / min_df) and re-enters the plan as ONE
    array literal, so pass 2 — the actual cleaning — is a ZERO-SHUFFLE
    projection: split, filter via array_contains against the literal,
    rejoin. Documents never shuffle, line order is trivially
    preserved, and the whole clean composes with any downstream
    operator in the same stage.

    Above *literal_max* common lines the operator no longer refuses:
    it switches to the LINE-GRANULARITY JOIN path — the common set
    stays distributed, each document's removed-line hashes come back
    as one narrow (doc, array<hash>) frame (rows only for lines
    actually removed, 16 B each), and the clean filters against the
    per-doc array instead of the global literal. The document text
    crosses at most ONE join (AQE broadcasts the removed frame when
    it fits); both paths are bit-identical (tested q61-style). The
    literal path stays the default below the knee because its clean
    is zero-shuffle and stage-fusable.
    """
    from queens_spark.operators.text import char_poly_hash, let_bound

    lines_distinct = _persist(
        ensure_min_partitions(df)
        .select(
            F.col(id_col).alias("__doc"),
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.transform(
                            F.split(F.col(text_col), "\n"),
                            lambda x: F.trim(x),
                        ),
                        lambda x: x != "",
                    )
                )
            ).alias("__line"),
        )
        .select("__doc", char_poly_hash(F.col("__line")).alias("__lh"))
    )
    common_df = (
        lines_distinct.groupBy("__lh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= F.lit(min_df))
        .select("__lh")
    )
    common_rows = common_df.limit(literal_max + 1).collect()
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    if len(common_rows) <= literal_max:
        lines_distinct.unpersist()
        common = F.array(
            *[F.lit(int(r["__lh"])).cast("bigint") for r in common_rows]
        )
        kept = F.filter(
            F.split(F.col(text_col), "\n"),
            lambda x: let_bound(
                F.trim(x),
                lambda t: (t == "")
                | ~F.array_contains(common, char_poly_hash(t)),
            ),
        )
        return df.select(
            F.col(id_col),
            n_lines.alias("n_lines"),
            (n_lines - F.size(kept)).alias("n_removed"),
            F.array_join(kept, "\n").alias("clean_text"),
        )
    # join path: the probe already materialized lines_distinct's
    # cache, so the inner join + per-doc regroup reuse ONE execution
    removed = (
        lines_distinct.join(common_df, "__lh")
        .groupBy("__doc")
        .agg(F.collect_list("__lh").alias("__rm"))
    )
    out = df.join(
        removed, df[id_col] == removed["__doc"], "left"
    )
    rm = F.coalesce(
        F.col("__rm"), F.expr("CAST(array() AS ARRAY<BIGINT>)")
    )
    kept = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda x: let_bound(
            F.trim(x),
            lambda t: (t == "")
            | ~F.array_contains(rm, char_poly_hash(t)),
        ),
    )
    return out.select(
        df[id_col],
        n_lines.alias("n_lines"),
        (n_lines - F.size(kept)).alias("n_removed"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def duckdb_strip_common_lines(
    table: str, text_col: str, id_col: str, min_df: int = 3
) -> str:
    """DuckDB twin of :func:`strip_common_lines` (same trimmed-line
    hash, same df threshold, same keep-empty-lines contract)."""
    from queens_spark.operators.text import duckdb_char_poly_hash

    lh = duckdb_char_poly_hash("t")
    # hash of an already-bound trimmed line inside the filter lambda
    lh_x = duckdb_char_poly_hash("trim(x)")
    return f"""
    WITH __lines AS (
      SELECT {id_col} AS doc, {lh} AS lh
      FROM (
        SELECT {id_col},
               unnest(list_distinct(list_filter(
                 list_transform(string_split({text_col}, chr(10)),
                                x -> trim(x)),
                 x -> x <> ''))) AS t
        FROM {table}
      )
    ), __common AS (
      SELECT lh FROM __lines GROUP BY lh HAVING count(*) >= {min_df}
    ), __cl AS (
      SELECT coalesce(list(lh), []) AS cl FROM __common
    )
    SELECT {id_col},
           len(string_split({text_col}, chr(10))) AS n_lines,
           len(string_split({text_col}, chr(10)))
             - len(list_filter(string_split({text_col}, chr(10)),
                   x -> trim(x) = '' OR NOT list_contains(cl, {lh_x})))
             AS n_removed,
           array_to_string(
             list_filter(string_split({text_col}, chr(10)),
               x -> trim(x) = '' OR NOT list_contains(cl, {lh_x})),
             chr(10)) AS clean_text
    FROM {table}, __cl
    """


def minhash_agreement_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.875
) -> DataFrame:
    """MinHash near-dup pairs confirmed by LANE AGREEMENT instead of
    exact Jaccard: banded candidates, then keep pairs whose signatures
    agree on ≥ ⌈k·threshold⌉ of the k lanes. This is the estimator the
    persistent dedup ledger's fuzzy mode runs
    (store/dedup_ledger.py) — at ledger scale the original shingle
    sets are gone (only the 16-lane signatures persist), so agreement
    IS the verification. Agreement/k is an unbiased Jaccard estimate;
    the confirm is one integer comparison — bit-portable where
    :func:`minhash_dedup_pairs`'s float Jaccard ratio needs care.

    Scale shape: one cached (doc, sig) projection feeds the band
    self-join and both verify sides; the band shuffle buckets grow
    with true-duplicate density; the verify join is |candidates|
    wide carrying two 16-int arrays. Returns (id_a, id_b, matches)
    with matches ≥ the integer bar.
    """
    need = int(-(-MINHASH_K * float(threshold) // 1))
    sigs = _persist(
        ensure_min_partitions(df)
        .where(F.size(shingle_hashes(text_col)) > 0)
        .select(
            F.col(id_col).alias("doc"),
            minhash_signature(text_col).alias("sig"),
        )
    )
    cand = _band_pairs(sigs)
    sa = sigs.select(F.col("doc").alias("id_a"), F.col("sig").alias("__sa"))
    sb = sigs.select(F.col("doc").alias("id_b"), F.col("sig").alias("__sb"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda v: v,
        )
    ).cast("bigint")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", matches.alias("matches"))
        .where(F.col("matches") >= need)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 4,
    w: int = 4,
    p: int = HASH_MOD,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 — the MOSS
    local-fingerprinting algorithm): from each document's positional
    n-gram hashes, every *w*-window selects its RIGHTMOST minimal
    hash; the distinct selections are the document's fingerprints.
    Winnowing guarantees any shared substring of length ≥ w+n−1
    tokens yields at least one shared fingerprint (the detection
    guarantee span-level dedup heuristics lack) while storing only
    ~2/(w+1) of the hashes. Documents with fewer than *w* windows
    degenerate to one window over all their hashes; docs with < n
    tokens emit nothing. Returns distinct (doc, pos, fp) rows, pos
    the 1-based start of the selected n-gram.

    Pure per-row JVM array code — the window scan is an aggregate
    fold with a (pos, value) struct accumulator (rightmost-min via
    ``<=``), replayed with identical semantics by the DuckDB twin
    (:func:`duckdb_winnow_ctes`); zero shuffle before the final
    distinct.
    """
    def combine(th: Column, i: Column) -> Column:
        acc = F.element_at(th, i).cast("bigint")
        for k in range(1, n):
            acc = (acc * 131 + F.element_at(th, i + k)) % F.lit(p)
        return acc

    def pick(H: Column, L: Column, i: Column) -> Column:
        # rightmost minimal hash of the window starting at i: fold
        # (pos, val) structs; out-of-bounds positions carry NULL vals
        # whose comparisons are NULL -> the accumulator survives
        return F.aggregate(
            F.transform(
                F.sequence(i + 1, i + F.lit(w - 1)),
                # try_element_at: window tails past L read NULL (ANSI
                # element_at raises), and NULL comparisons lose the fold
                lambda q: F.struct(
                    q.cast("int").alias("pos"),
                    F.try_element_at(H, q).alias("fp"),
                ),
            ),
            F.struct(
                i.cast("int").alias("pos"),
                F.element_at(H, i).alias("fp"),
            ),
            lambda acc, x: F.when(
                (x["pos"] <= L) & (x["fp"] <= acc["fp"]), x
            ).otherwise(acc),
        )

    sel = (
        ensure_min_partitions(df)
        .select(
            F.col(id_col).alias("doc"),
            let_bound(
                let_bound(
                    F.transform(tokens(text_col), lambda t: char_poly_hash(t, p)),
                    lambda th: F.when(
                        F.size(th) < n, F.array().cast("array<bigint>")
                    ).otherwise(
                        F.transform(
                            F.sequence(F.lit(1), F.size(th) - n + 1),
                            lambda i: combine(th, i),
                        )
                    ),
                ),
                lambda H: let_bound(
                    F.size(H),
                    lambda L: F.when(L < 1, F.array().cast(
                        "array<struct<pos:int,fp:bigint>>"
                    )).otherwise(
                        F.array_distinct(
                            F.transform(
                                F.sequence(
                                    F.lit(1),
                                    F.greatest(L - F.lit(w - 1), F.lit(1)),
                                ),
                                lambda i: pick(H, L, i),
                            )
                        )
                    ),
                ),
            ).alias("sels"),
        )
    )
    return sel.select(
        "doc", F.explode("sels").alias("s")
    ).select("doc", "s.pos", "s.fp")


def duckdb_winnow_ctes(expr: str, n: int, w: int, p: int = HASH_MOD) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`: an expression
    yielding the distinct (pos, fp) selection list for one document's
    *expr* text — identical fold semantics (rightmost minimal via
    ``<=``, NULL-valued out-of-bounds positions never win)."""
    H = duckdb_positional_shingles(expr, n, p)
    return f"""(
      -- NOTE: no list_distinct here (DuckDB can't hash struct
      -- lists); the caller de-dups at row level after unnest
      SELECT CASE WHEN len(__h) < 1 THEN []
        ELSE list_transform(
          range(1, greatest(len(__h) - {w - 1}, 1) + 1),
          i -> list_reduce(
            list_prepend(
              struct_pack(pos := CAST(i AS INT), fp := __h[i]),
              list_transform(range(i + 1, i + {w}),
                q -> struct_pack(pos := CAST(q AS INT), fp := __h[q]))
            ),
            (acc, x) -> CASE WHEN x.pos <= len(__h) AND x.fp <= acc.fp
                        THEN x ELSE acc END
          )
        ) END
      FROM (SELECT {H} AS __h) __wn
    )"""


#: Packed first-occurrence key base for the line-dedup family:
#: key = doc_id · 2²⁰ + pos. Exact while doc_id < 2⁴³ and lines per
#: doc < 2²⁰ (both far past the shipped corpora); past that swap the
#: packed key for a struct-min (same plan shape). The q168/q169
#: oracles embed the SAME constant — change in lockstep.
LINE_KEY_BASE = 1 << 20


def _line_first_occurrences(df: DataFrame, text_col: str, id_col: str):
    """Shared front-end of the line-dedup family: the exploded
    (id, pos, line) frame (persisted — it feeds two consumers) and
    the per-line first-occurrence key table. First-occurrence
    resolution is a partial-aggregable MIN per line, so map-side
    combine collapses hot boilerplate lines BEFORE the shuffle — a
    row_number window over line would shuffle every occurrence of a
    hot line to one task."""
    from queens_spark.operators.text import doc_lines

    P = F.lit(LINE_KEY_BASE).cast("bigint")
    lines = df.select(
        F.col(id_col),
        F.posexplode(doc_lines(text_col)).alias("pos0", "line"),
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        "line",
    )
    lines = _persist(lines)
    key = F.col(id_col).cast("bigint") * P + F.col("pos")
    firsts = lines.groupBy("line").agg(F.min(key).alias("fkey"))
    return lines, firsts, key


def line_dedup_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Global LINE-level dedup audit (the C4/Dolma pass that document
    dedup misses: boilerplate lines — nav bars, cookie banners, license
    headers — repeat across otherwise-unique documents): every
    non-empty trimmed line keeps only its FIRST corpus occurrence
    (ordered by (doc, position)); per document, how much line mass the
    pass would drop.

    Output: (id, n_lines, n_dropped, dropped_bp).

    Shape: one posexplode to (doc, pos, line) — corpus-line-scale, the
    honest cost of global line dedup — then the partial-aggregable
    first-occurrence MIN (see _line_first_occurrences; key exactness
    bounds at LINE_KEY_BASE).
    """
    lines, firsts, key = _line_first_occurrences(df, text_col, id_col)
    flagged = lines.join(firsts, "line").select(
        id_col,
        (key != F.col("fkey")).cast("int").alias("dropped"),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("dropped").cast("bigint").alias("n_dropped"),
        F.expr("CAST(sum(dropped) * 10000 div count(1) AS BIGINT)").alias(
            "dropped_bp"
        ),
    )


def dedup_lines_rewrite(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The TRANSFORM half of :func:`line_dedup_stats`: rebuild each
    document with only its lines that are FIRST corpus occurrences —
    the C4/Dolma boilerplate-removal pass as an actual rewrite, not
    just an audit. Documents whose every line is boilerplate vanish
    (nothing left to keep); original in-document line order is
    preserved via a (pos, line) struct sort inside each group.

    Same front-end as the audit (_line_first_occurrences) plus the
    per-doc re-assembly groupBy — the rewrite's shuffle carries kept
    lines only, which is the output volume.
    """
    lines, firsts, key = _line_first_occurrences(df, text_col, id_col)
    kept = lines.join(firsts, "line").where(key == F.col("fkey"))
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("line")))
            ).alias("__ls")
        )
        .select(
            id_col,
            F.array_join(F.col("__ls.line"), "\n").alias("clean_text"),
            F.size("__ls").cast("bigint").alias("n_kept"),
        )
    )
